package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Relation-valued table functions: the SQL surface for the M4 pipeline
  * operators (`FROM fn(rel [, lit…])`), plus user registration. */
class TableFnSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private lazy val g = TestSpark.session

  // One SQL-equals-operator test per corpus table function:
  // (test name, SQL call, the operator API on `documents`, extra checks on the SQL result).
  private val corpusCases: Seq[(String, String, DataFrame => DataFrame, DataFrame => Unit)] = {
    import graft.operators.{Dedup, QualityFilters, Sampling}
    Seq(
      ("gopher_flags(documents) in SQL", "gopher_flags(documents)",
        QualityFilters.gopherFlags(_, "text", "doc_id"),
        viaSql => assert(viaSql.count() == g.catalog.relation("documents").count())),
      ("c4_lines(documents, 4)", "c4_lines(documents, 4)",
        QualityFilters.c4LineFilter(_, "text", "doc_id", minLineWords = 4), _ => ()),
      ("dup_line_stats(documents)", "dup_line_stats(documents)",
        QualityFilters.dupLineStats(_, "text", "doc_id"), _ => ()),
      ("line_dedup(documents, 3)", "line_dedup(documents, 3)",
        Dedup.lineDedup(_, "text", "doc_id", minDocFreq = 3L), _ => ()),
      ("paragraph_dedup(documents, 3)", "paragraph_dedup(documents, 3)",
        Dedup.paragraphDedup(_, "text", "doc_id", minDocFreq = 3L), _ => ()),
      ("leakage_safe_split(documents, pct)", "leakage_safe_split(documents, 10)",
        Sampling.leakageSafeSplit(_, "text", "doc_id", 10),
        _ => {
          val err = intercept[graft.translate.GraftAnalysisException](
            g.sql("select * from leakage_safe_split(embeddings, 10)"))
          assert(err.getMessage.contains("text"))
        }))
  }

  corpusCases.foreach { case (name, call, api, extra) =>
    test(s"$name equals the operator API") {
      val viaSql = g.sql(s"select * from $call")
      val viaApi = api(g.catalog.relation("documents"))
      assert(viaSql.columns.toSeq == viaApi.columns.toSeq)
      assert(viaSql.count() > 0)
      assert(viaSql.exceptAll(viaApi).isEmpty && viaApi.exceptAll(viaSql).isEmpty)
      extra(viaSql)
    }
  }

  test("heavy_hitters_exact counts equal a plain group-by's token counts") {
    val truth = g.catalog.relation("documents")
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      .where(col("tok") =!= "").groupBy("tok").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = truth.values.sum
    // k small enough that the most frequent token is a true heavy hitter
    val k = (total / truth.values.max).toInt + 1
    val got = g.sql(s"select term, n from heavy_hitters_exact(documents, $k)")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    got.foreach { case (t, n) => assert(truth.get(t).contains(n), s"$t: $n vs ${truth.get(t)}") }
    // the candidates depend on arrival order, but every true heavy hitter
    // (more than total / (k + 1) occurrences) is among them
    val heavy = truth.filter(_._2 * (k + 1) > total).keySet
    assert(heavy.nonEmpty && heavy.subsetOf(got.keySet), s"$heavy vs ${got.keySet}")
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
    import graft.operators.Subwords
    import graft.gates.Harness.X86_MERGES
    // bpe_pairs ≡ operator API
    val viaSql = g.sql("select pair, n from bpe_pairs(documents, 10)")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val viaApi = Subwords.bpePairCounts(
        Subwords.bpeWordFrequencies(
          g.catalog.relation("documents"), "text", "doc_id"), k = 10)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(viaSql == viaApi && viaSql.length == 10)
    // apply mode: merge-list literal ≡ the uncapped tokenize with X86_MERGES
    val lit = X86_MERGES.map { case (a, b) => s"$a $b" }.mkString(",")
    val applied = g.sql(
      s"select id, n_tokens from bpe_tokenize(documents, '$lit') order by id")
    val expected = Subwords.tokenize(
        g.catalog.relation("documents"), "text", "doc_id", Subwords.Bpe(X86_MERGES), Int.MaxValue)
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
    val rel = g.catalog.relation("documents")
    val wf = Subwords.vocab(rel, "text", "doc_id", 5)
    val tightApi = Subwords.tokenize(rel, "text", "doc_id",
        Subwords.Bpe(Subwords.bpeTrain(wf, 8)), 5, Some(wf))
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
    // a literal list segments with the replace chain, which is exact only
    // for distinct-symbol pairs
    val same = intercept[graft.translate.GraftAnalysisException](
      g.sql("select * from bpe_tokenize(documents, 'a a')"))
    assert(same.getMessage.startsWith("bpe_tokenize: same-symbol merge `a a`") &&
      same.getMessage.contains("registered bpe model"), same.getMessage)
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

  private val builtins = Seq(
    "ann_topk", "audio_fingerprint", "audio_stats", "bpe_decode", "bpe_encode", "bpe_pairs",
    "bpe_tokenize", "c4_lines", "cluster_sample", "compression_ratio", "decontaminate",
    "decontaminate_apply", "dim_covariance", "distinct_audit", "domain_split", "domain_stats",
    "dsir_apply", "dsir_resample", "dsir_scores", "dup_line_stats", "exact_dedup",
    "gopher_flags", "grouped_quantiles", "hamming_pairs", "hard_negatives", "heavy_hitters",
    "heavy_hitters_exact", "image_phash", "int8_quantize", "ivfpq_topk", "ivfsq8_topk",
    "keep_best", "leakage_safe_split", "line_dedup", "oov_rate", "paragraph_apply",
    "paragraph_dedup", "pca_project", "pii_redact", "pq_topk", "quality_classifier",
    "script_stats", "span_excise", "standardize", "substring_dedup", "unigram_encode",
    "unigram_tokenize", "url_dedup", "url_normalize", "warc_responses", "warc_scan")

  test("every built-in table function: pinned names, arity guard, relation slot") {
    import graft.translate.GraftAnalysisException
    assert(builtins.size == 51)
    assert(new GraftSession(spark).catalog.tableFunctionNames == builtins)
    graft.functions.TableFunctions.all.foreach { f =>
      val over = intercept[GraftAnalysisException](g.sql(
        s"select * from ${f.name}(${("documents" +: Seq.fill(f.max)("1")).mkString(", ")})"))
      assert(over.getMessage.startsWith(f.name), over.getMessage)
      val lit = intercept[GraftAnalysisException](
        g.sql(s"select * from ${f.name}(${Seq.fill(f.min)("1").mkString(", ")})"))
      assert(lit.getMessage.contains(f.name), lit.getMessage)
    }
  }

  test("non-positive k or cap is an analysis error before any Spark job") {
    val mergesPath = java.nio.file.Files.createTempFile("graft_capguard_", ".txt")
    graft.operators.Subwords.Bpe(Seq(("e", "r"))).save(spark, mergesPath.toString)
    g.sql(s"create model capguard kind 'bpe' at '$mergesPath'")
    import graft.operators.IvfIndex
    val idx = java.nio.file.Files.createTempDirectory("graft_annguard_")
    val Seq(flat, sq8, pq) = Seq[IvfIndex.Codec](IvfIndex.Flat, IvfIndex.Sq8,
        IvfIndex.Pq(m = 4, k = 4)).zipWithIndex.map { case (codec, i) =>
      val dir = idx.resolve(s"i$i").toString
      IvfIndex.save(g.catalog.relation("embeddings"), dir, codec, nlist = 4, iters = 1)
      dir
    }
    val bad = Seq(
      "hard_negatives(embeddings, embeddings, 0)" -> "hard_negatives: k must be positive",
      s"ann_topk(embeddings, '$flat', 0)" -> "ann_topk: k must be positive",
      s"ann_topk(embeddings, '$flat', 5, -1)" -> "ann_topk: nprobe must be positive",
      s"ivfsq8_topk(embeddings, '$sq8', 5, 0)" -> "ivfsq8_topk: nprobe must be positive",
      s"ivfpq_topk(embeddings, '$pq', 5, -2)" -> "ivfpq_topk: nprobe must be positive",
      "bpe_tokenize(documents, 'capguard', 0)" -> "bpe_tokenize: vocab cap must be positive",
      "heavy_hitters(documents, 0)" -> "heavy_hitters: k must be positive",
      "heavy_hitters_exact(documents, -1)" -> "heavy_hitters_exact: k must be positive",
      "cluster_sample(embeddings, 0)" -> "cluster_sample: cap must be positive",
      "cluster_sample(embeddings, 4, 0)" -> "cluster_sample: k must be positive",
      "pca_project(embeddings, 0)" -> "pca_project: k must be positive")
    try bad.foreach { case (call, msg) =>
      val (out, counters) =
        graft.obs.Obs.around(spark)(scala.util.Try(g.sql(s"select * from $call")))
      out match {
        case scala.util.Failure(e: graft.translate.GraftAnalysisException) =>
          assert(e.getMessage.startsWith(msg), e.getMessage)
        case other => fail(s"$call: $other")
      }
      assert(counters.jobs == 0, s"$call ran ${counters.jobs} jobs")
    } finally {
      g.sql("drop model capguard")
      java.nio.file.Files.delete(mergesPath)
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete()
      }
      rm(idx.toFile)
    }
  }

  test("only TableFunctions and Catalog register table functions; model kinds compare in one place") {
    import scala.jdk.CollectionConverters._
    val main = java.nio.file.Paths.get("src/main/scala/graft")
    val files = {
      val s = java.nio.file.Files.walk(main)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
    }
    assert(files.size > 30, "run from the project root")
    def code(p: java.nio.file.Path): Seq[String] =
      java.nio.file.Files.readAllLines(p).asScala.toSeq.filterNot { l =>
        val t = l.trim
        t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
      }
    val registers = files.flatMap(p => code(p).filter(_.contains("registerTableFunction"))
      .map(l => main.relativize(p).toString -> l.trim))
    val allowed = Set("functions/TableFunctions.scala", "catalog/Catalog.scala")
    val strays = registers.filterNot(r => allowed(r._1))
    // the public GraftSession forwarder: its signature and its one call
    assert(strays.map(_._1).toSet == Set("GraftSession.scala") && strays.size == 2 &&
      strays.exists(_._2.startsWith("def registerTableFunction(")) &&
      strays.exists(_._2 == "catalog.registerTableFunction(name, fn)"),
      s"registerTableFunction outside TableFunctions and Catalog: ${strays.mkString("; ")}")
    val kindTest = """\.kind\s*(==|!=)""".r
    val kindTests = files.filterNot(_.endsWith("catalog/ModelKind.scala"))
      .flatMap(p => code(p).filter(l => kindTest.findFirstIn(l).nonEmpty)
        .map(l => s"${main.relativize(p)}: ${l.trim}"))
    assert(kindTests.isEmpty, s"model-kind comparisons outside ModelKind: ${kindTests.mkString("; ")}")
    // the capped vocabulary reaches the driver in one auditable place:
    // only the tokenizer file builds it, and only its `vocab` collects
    val tokenizers = "operators/Subwords.scala"
    val cappers = files.filter(p => !p.endsWith(tokenizers) &&
      code(p).exists(_.contains("bpeCappedVocab"))).map(main.relativize)
    assert(cappers.isEmpty, s"bpeCappedVocab outside $tokenizers: ${cappers.mkString(", ")}")
    val defLine = """^\s*(?:private\s+)?def\s+(\w+)""".r.unanchored
    val collectors = code(main.resolve(tokenizers))
      .scanLeft(("", "")) { case ((fn, _), l) =>
        (l match { case defLine(name) => name; case _ => fn }, l) }
      .collect { case (fn, l) if """\.(collect\(\)|collectAsList|toLocalIterator)""".r
        .findFirstIn(l).nonEmpty => fn }
    assert(collectors == Seq("vocab"), s"driver collects in $tokenizers: ${collectors.mkString(", ")}")
    // one per-query top-k: only Similarity names the TopK heap, only its
    // topKPerQuery builds one, and the IVF serve collects no candidate list
    val similarity = "operators/Similarity.scala"
    val topK = """\bTopK\b""".r
    val namers = files.filter(p => !p.endsWith(similarity) &&
      code(p).exists(l => topK.findFirstIn(l).nonEmpty)).map(p => s"${main.relativize(p)} names TopK")
    val member = """^  (?:(?:private|protected)(?:\[\w+\])?\s+)?(?:final\s+|lazy\s+)*(?:def|val|var|class|object|trait)\s+(\w+)""".r.unanchored
    val builders = code(main.resolve(similarity))
      .scanLeft(("", "")) { case ((fn, _), l) =>
        (l match { case member(name) => name; case _ => fn }, l) }
      .collect { case (fn, l) if l.contains("new TopK(") && fn != "topKPerQuery" =>
        s"$similarity: $fn builds a TopK" }
    val lists = code(main.resolve("operators/IvfIndex.scala")).filter(_.contains("collect_list"))
      .map(l => s"operators/IvfIndex.scala calls collect_list: ${l.trim}")
    val topKStrays = namers ++ builders ++ lists
    assert(topKStrays.isEmpty, topKStrays.mkString("; "))
  }
}
