package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Relation-valued table functions: the SQL surface for the M4 pipeline
  * operators (`FROM fn(rel [, lit…])`), plus user registration. */
class TableFnSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private lazy val g = TestSpark.session

  test("gopher_flags(documents) in SQL equals the operator API") {
    val viaSql = g.sql(
      "select id, n_words, keep from gopher_flags(documents) order by id")
    val viaApi = graft.operators.QualityFilters
      .gopherFlags(g.catalog.relation("documents"), "text", "doc_id")
      .select("id", "n_words", "keep").orderBy("id")
    assert(viaSql.exceptAll(viaApi).isEmpty && viaApi.exceptAll(viaSql).isEmpty)
    assert(viaSql.count() == g.catalog.relation("documents").count())
  }

  test("table functions compose: join, literal args, WHERE pushdown") {
    val joined = g.sql(
      "select gfl.id as id, gfl.keep as keep, o.oov_rate as oov " +
      "from gopher_flags(documents) as gfl " +
      "join oov_rate(documents, 50) as o on gfl.id = o.id " +
      "where gfl.n_words > 10 order by id limit 5")
    assert(joined.columns.toSeq == Seq("id", "keep", "oov"))
    assert(joined.count() == 5)
    // literal arg changes behavior: tiny vocab -> higher OOV than huge vocab
    val small = g.sql("select round(avg(oov_rate), 6) as r from oov_rate(documents, 5)")
      .collect().head.getDouble(0)
    val large = g.sql("select round(avg(oov_rate), 6) as r from oov_rate(documents, 5000)")
      .collect().head.getDouble(0)
    assert(small > large)
  }

  test("exact_dedup / quality_classifier table functions run end to end") {
    val n = g.sql("select count(*) as n from exact_dedup(documents)")
      .collect().head.getLong(0)
    assert(n > 0 && n <= g.catalog.relation("documents").count())
    val keeps = g.sql(
      "select keep, count(*) as n from quality_classifier(documents) group by keep")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(keeps.values.sum == g.catalog.relation("documents").count())
  }

  test("keep_best table function: argmax per text family from SQL") {
    // n_chars is constant within an exact-dup family, so use doc_id
    // parity-derived score via a derived CTAS-like subselect is overkill:
    // the documents table has a usable numeric column — score on n_chars
    val kept = g.sql("select count(*) as n from keep_best(documents, 'n_chars')")
      .collect().head.getLong(0)
    val minId = g.sql("select count(*) as n from exact_dedup(documents)")
      .collect().head.getLong(0)
    assert(kept == minId) // same families, one representative each
    val err = intercept[graft.translate.GraftAnalysisException](
      g.sql("select * from keep_best(documents, 'no_such_col')"))
    assert(err.getMessage.contains("no_such_col"))
  }

  test("user-registered table function with relation + literal args") {
    import graft.catalog.TfArg
    g.registerTableFunction("head_n", {
      case Seq(TfArg.Rel(_, df), TfArg.Lit(n: Long)) =>
        df.orderBy("doc_id").limit(n.toInt)
      case args => throw new graft.translate.GraftAnalysisException(
        s"head_n(rel, n): got $args")
    })
    val out = g.sql("select doc_id from head_n(documents, 3) order by doc_id")
      .collect().map(_.getLong(0)).toSeq
    assert(out == Seq(0L, 1L, 2L))
  }

  test("dsir_scores / dsir_resample / distinct_audit table functions match the operator API") {
    val docs = g.catalog.relation("documents")
    val viaSql = g.sql(
      "select id, n_toks, score from dsir_scores(documents, 'src0', 64) order by id")
    val viaApi = graft.operators.Importance
      .dsirScores(docs, "text", "doc_id", col("source") === "src0", buckets = 64)
      .orderBy("id")
    assert(viaSql.exceptAll(viaApi).isEmpty && viaApi.exceptAll(viaSql).isEmpty)
    // resample: double literal frac; kept set is a subset with scores
    val kept = g.sql(
      "select doc_id, score from dsir_resample(documents, 'src0', 0.5, 64)")
    assert(kept.count() > 0 && kept.count() < docs.count())
    val audit = g.sql(
      "select source, exact_n, within_tol from distinct_audit(documents) order by source")
      .collect()
    assert(audit.nonEmpty && audit.forall(_.getInt(2) == 1))
    // composes: threshold-filter the scores in plain SQL
    val top = g.sql(
      "select count(*) as n from dsir_scores(documents, 'src0', 64) where score > 0")
      .collect().head.getLong(0)
    assert(top > 0)
  }

  test("embedding table functions: dim_covariance / standardize / pca_project from SQL") {
    // diagonal of the covariance matrix has corr exactly 1
    val diag = g.sql(
      "select count(*) as n from dim_covariance(embeddings) where i = j and corr = 1.0")
      .collect().head.getLong(0)
    assert(diag == 64)
    // standardized dim 3 has ~zero mean (stats are 6-dp-rounded)
    val mz = g.sql(
      "select round(avg(z[3]), 3) as m from standardize(embeddings)")
      .collect().head.getDouble(0)
    assert(math.abs(mz) <= 0.001)
    // projection keeps every vector and emits k components
    val p = g.sql("select * from pca_project(embeddings, 4)")
    assert(p.count() == g.catalog.relation("embeddings").count())
    assert(p.select(size(col("pc"))).distinct().collect().map(_.getInt(0)).toSeq == Seq(4))
  }

  test("normalize_text / redact_pii scalar functions usable from any SQL expression") {
    val t = g.sql("select normalize_text(concat('  a', chr(1), 'b   c  ')) as t")
      .collect().head.getString(0)
    assert(t == "a b c")
    val r = g.sql(
      "select count(*) as n from documents " +
      "where redact_pii(text || ' x@y.com') like '%<EMAIL>%'")
      .collect().head.getLong(0)
    assert(r == g.catalog.relation("documents").count())
  }

  test("image_phash: custom column names, arity guard (r11)") {
    import TestSpark.spark.implicits._
    val media = Seq(
      (1L, graft.operators.Multimodal.synthPatternPngBytes(7L, 4)),
      (2L, graft.operators.Multimodal.synthPatternPngBytes(7L, 5))
    ).toDF("img_id", "img_bytes")
    g.catalog.registerTable("phash_media", media)
    val got = g.sql(
        "select id, phash, ok from image_phash(phash_media, 'img_bytes', 'img_id') order by id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got.length == 2 && got.forall(_._3))
    assert(got(0)._2 == got(1)._2) // same pattern at two resolutions
    val e = intercept[Exception](
      g.sql("select * from image_phash(phash_media, 'a', 'b', 'c')"))
    assert(e.getMessage.contains("argument"))
    // convention-naming check is EAGER (r11 advice): a relation without
    // the default (media_id, payload) columns — or a typoed custom name —
    // fails at analysis with the dialect's message, not at action time
    val e2 = intercept[graft.translate.GraftAnalysisException](
      g.sql("select * from image_phash(documents)"))
    assert(e2.getMessage.contains("media_id") || e2.getMessage.contains("payload"))
    val e3 = intercept[graft.translate.GraftAnalysisException](
      g.sql("select * from image_phash(phash_media, 'img_bytez', 'img_id')"))
    assert(e3.getMessage.contains("img_bytez") || e3.getMessage.contains("payload"))
  }

  test("dHash: id column must be numeric and non-null (r11 advice)") {
    import TestSpark.spark.implicits._
    // non-numeric id type fails eagerly, before any action
    val badType = Seq(("a", Array[Byte](1))).toDF("media_id", "payload")
    val e1 = intercept[IllegalArgumentException](
      graft.operators.Multimodal.dHash(badType))
    assert(e1.getMessage.contains("numeric"))
    // a NULL id fails loudly at action time instead of aliasing onto 0L
    val withNull = Seq(
      (java.lang.Long.valueOf(1L), graft.operators.Multimodal.synthPatternPngBytes(7L, 4)),
      (null.asInstanceOf[java.lang.Long], graft.operators.Multimodal.synthPatternPngBytes(7L, 5))
    ).toDF("media_id", "payload")
    val e2 = intercept[Exception](
      graft.operators.Multimodal.dHash(withNull).collect())
    assert(e2.toString.contains("NULL id") ||
      Option(e2.getCause).exists(_.toString.contains("NULL id")))
  }

  test("error paths: unknown function, bad relation, bad arity") {
    val e1 = intercept[Exception](g.sql("select * from nope_fn(documents)"))
    assert(e1.getMessage.contains("unknown table function"))
    val e2 = intercept[Exception](g.sql("select * from gopher_flags(no_such_rel)"))
    assert(e2.getMessage.contains("not a known relation"))
    val e3 = intercept[Exception](g.sql("select * from gopher_flags(documents, 3)"))
    assert(e3.getMessage.contains("argument"))
    // range/generate_series still work through the same grammar branch
    assert(g.sql("select count(*) as n from range(1, 6)")
      .collect().head.getLong(0) == 5L)
  }

  test("bpe_pairs / bpe_tokenize table functions: both modes from SQL") {
    import graft.operators.TextAnalysis
    import graft.gates.Harness.X86_MERGES
    // bpe_pairs ≡ operator API
    val viaSql = g.sql("select pair, n from bpe_pairs(documents, 10)")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val viaApi = TextAnalysis.bpePairCounts(
        TextAnalysis.bpeWordFrequencies(
          g.catalog.relation("documents"), "text", "doc_id"), k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(viaSql == viaApi && viaSql.length == 10)
    // apply mode: merge-list literal ≡ tokenizeBpe with X86_MERGES
    val lit = X86_MERGES.map { case (a, b) => s"$a $b" }.mkString(",")
    val applied = g.sql(
      s"select id, n_tokens from bpe_tokenize(documents, '$lit') order by id")
    val expected = TextAnalysis.tokenizeBpe(
        g.catalog.relation("documents"), "text", "doc_id", X86_MERGES)
      .select("id", "n_tokens").orderBy("id")
    assert(applied.exceptAll(expected).isEmpty && expected.exceptAll(applied).isEmpty)
    // train mode: n merges trained on the relation itself; more merges
    // can only shrink (or keep) the total token count, and 0 merges
    // means every letter is its own token
    val t0 = g.sql("select sum(n_tokens) as t from bpe_tokenize(documents, 0)")
      .collect().head.getLong(0)
    val t8 = g.sql("select sum(n_tokens) as t from bpe_tokenize(documents, 8)")
      .collect().head.getLong(0)
    val letters = g.sql(
      "select sum(length(regexp_replace(lower(text), '[^a-z]', ''))) as n from documents")
      .collect().head.getLong(0)
    assert(t0 == letters && t8 < t0)
    // malformed merge literal is an eager dialect error
    val e = intercept[graft.translate.GraftAnalysisException](
      g.sql("select * from bpe_tokenize(documents, 'e r,zap')"))
    assert(e.getMessage.contains("space-separated"))
    // train mode with a vocab cap: generous cap ≡ default (corpus vocab
    // is under both), tight cap changes counts only upward (char
    // fallback can never beat a merged segmentation) and never n_words
    val base = g.sql("select id, n_words, n_tokens from bpe_tokenize(documents, 8) order by id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val wide = g.sql("select id, n_words, n_tokens from bpe_tokenize(documents, 8, 1000000) order by id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(base == wide)
    // tight cap: n_words unchanged (OOV words still count via the char
    // fallback), and the SQL surface ≡ the operator API call
    val tight = g.sql("select id, n_words, n_tokens from bpe_tokenize(documents, 8, 5) order by id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(tight.map(t => (t._1, t._2)) == base.map(t => (t._1, t._2)))
    val tightApi = TextAnalysis.tokenizeBpeTrained(
        g.catalog.relation("documents"), "text", "doc_id", 8, vocabCap = 5)
      .orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(tight == tightApi)
    // cap guards: non-positive cap, cap with an explicit merge list
    val e2 = intercept[graft.translate.GraftAnalysisException](
      g.sql("select * from bpe_tokenize(documents, 8, 0)"))
    assert(e2.getMessage.contains("positive"))
    val e3 = intercept[graft.translate.GraftAnalysisException](
      g.sql("select * from bpe_tokenize(documents, 'e r', 5)"))
    assert(e3.getMessage.contains("train mode"))
    // bpe_encode: the token-id STREAM — per-doc counts agree with
    // bpe_tokenize under the same merges, ids are a dense 1..V range
    val encAgg = g.sql(
      s"select id, cast(count(*) as bigint) as n from bpe_encode(documents, '$lit') " +
      "group by id order by id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val tokAgg = g.sql(
      s"select id, n_tokens from bpe_tokenize(documents, '$lit') order by id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(encAgg == tokAgg)
    val idRange = g.sql(
      s"select min(token_id) as mn, max(token_id) as mx, " +
      s"cast(count(distinct token_id) as bigint) as nv " +
      s"from bpe_encode(documents, '$lit')").collect().head
    assert(idRange.getLong(0) == 1L && idRange.getLong(1) == idRange.getLong(2))
    val e4 = intercept[graft.translate.GraftAnalysisException](
      g.sql("select * from bpe_encode(documents, 'e r', 0)"))
    assert(e4.getMessage.contains("positive"))
  }

  test("leakage_safe_split(documents, pct) equals the operator API") {
    val viaSql = g.sql(
      "select id, rep, split from leakage_safe_split(documents, 10) order by id")
    val viaApi = graft.operators.Sampling
      .leakageSafeSplit(g.catalog.relation("documents"), "text", "doc_id", 10)
      .orderBy("id")
    assert(viaSql.exceptAll(viaApi).isEmpty && viaApi.exceptAll(viaSql).isEmpty)
    val err = intercept[graft.translate.GraftAnalysisException](
      g.sql("select * from leakage_safe_split(embeddings, 10)"))
    assert(err.getMessage.contains("text"))
  }

  test("ann_topk(queries, 'index_dir', k, nprobe) serves a persisted IVF index") {
    val dir = java.nio.file.Files.createTempDirectory("annfn_").toString
    try {
      val e = g.catalog.relation("embeddings")
      graft.operators.IvfIndex.save(e, dir, nlist = 8, iters = 2)
      val viaSql = g.sql(
        s"select qid, vec_id, cos from ann_topk(embeddings, '$dir', 5, 3) " +
        "where qid < 3 order by qid, cos desc, vec_id")
      val viaApi = graft.operators.IvfIndex
        .topK(spark, dir, e.where(col("vec_id") < 3), k = 5, nprobe = 3)
        .orderBy(col("qid"), col("cos").desc, col("vec_id"))
      assert(viaSql.count() > 0)
      assert(viaSql.exceptAll(viaApi).isEmpty && viaApi.exceptAll(viaSql).isEmpty)
      // missing layout is an eager dialect error naming the convention
      val err = intercept[graft.translate.GraftAnalysisException](
        g.sql("select * from ann_topk(embeddings, '/nonexistent/idx', 5)"))
      assert(err.getMessage.contains("no IVF index layout"))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("hard_negatives(corpus, queries, k, ceiling, floor) equals the operator API") {
    val viaSql = g.sql(
      "select qid, vec_id, cos from hard_negatives(embeddings, embeddings, 3, 0.98, 0.0) " +
      "where qid < 5 order by qid, cos desc, vec_id")
    val e = g.catalog.relation("embeddings")
    val viaApi = graft.operators.Similarity.hardNegatives(e, e, k = 3,
        dupCeiling = 0.98, floor = 0.0)
      .where(col("qid") < 5).orderBy(col("qid"), col("cos").desc, col("vec_id"))
    assert(viaSql.exceptAll(viaApi).isEmpty && viaApi.exceptAll(viaSql).isEmpty)
    assert(viaSql.count() > 0)
    // defaults: k only (ceiling 0.95, floor -1) still runs
    assert(g.sql("select * from hard_negatives(embeddings, embeddings, 2)")
      .columns.toSeq == Seq("qid", "vec_id", "cos"))
    // corpus-convention violation is an eager dialect error naming the column
    val err = intercept[graft.translate.GraftAnalysisException](
      g.sql("select * from hard_negatives(documents, embeddings, 3)"))
    assert(err.getMessage.contains("vec_id") || err.getMessage.contains("embedding"))
  }
}
