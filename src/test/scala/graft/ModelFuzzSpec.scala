package graft

import org.scalatest.funsuite.AnyFunSuite

/** Model-artifact lifecycle fuzz (r11): seeded random interleavings of
  * CREATE MODEL / DROP MODEL / serve-by-name / wrong-kind use / SHOW
  * MODELS / sidecar re-attach, cross-checked three ways on every step —
  *
  *  1. the session catalog's model set must equal a driver-side mirror
  *     of the DDL applied so far (and survive every re-attach);
  *  2. serving through a registered NAME must return exactly the rows
  *     the literal path/merge-list form returns (name resolution adds
  *     indirection, never data);
  *  3. using a model through the wrong function must raise the eager
  *     wrong-kind analysis error, never a crash class.
  *
  * Seeded, so any failure reproduces. Complements the differential SQL
  * fuzz (which cannot reach DDL — DuckDB has no model catalog). */
class ModelFuzzSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("300-op seeded model-lifecycle fuzz: catalog mirror, name≡path serving, clean wrong-kind errors") {
    import graft.operators.{IvfIndex, TextAnalysis}
    val base = java.nio.file.Files.createTempDirectory("graft_modelfuzz_")
    try {
      val g0 = new GraftSession(spark).registerDir(TestSpark.sf)
      val embT = g0.catalog.relation("embeddings")
      val mergesList = "e r,i n"
      val mergesPath = base.resolve("merges.txt").toString
      TextAnalysis.saveBpeMerges(spark,
        Seq(("e", "r"), ("i", "n")), mergesPath)
      val ivfDir = base.resolve("ivf").toString
      IvfIndex.save(embT, ivfDir, IvfIndex.Flat, nlist = 8, iters = 1)
      val pqDir = base.resolve("pq").toString
      IvfIndex.savePqIndex(embT, pqDir, m = 16, k = 8, iters = 1)
      val ivfpqDir = base.resolve("ivfpq").toString
      IvfIndex.save(embT, ivfpqDir, IvfIndex.Pq(m = 16, k = 8), nlist = 8,
        iters = 1)
      val ivfsq8Dir = base.resolve("ivfsq8").toString
      IvfIndex.save(embT, ivfsq8Dir, IvfIndex.Sq8, nlist = 8, iters = 1)
      val linDir = base.resolve("linear").toString
      spark.range(0, 256).select(
        org.apache.spark.sql.functions.col("id").as("bucket"),
        ((org.apache.spark.sql.functions.col("id") * 37L + 11L) % 512L - 256L)
          .as("weight"))
        .coalesce(1).write.mode("overwrite").parquet(linDir)
      // the r15 curation-model kinds: DSIR log-ratio table, hot-span /
      // hot-paragraph sets, benchmark shingle hashes
      val docsT = g0.catalog.relation("documents")
      val dsirPath = base.resolve("dsir.tsv").toString
      graft.operators.Importance.trainDsirModel(docsT, "text", "doc_id",
        org.apache.spark.sql.functions.col("source") === "src0",
        buckets = 64, path = dsirPath)
      val spansDir = base.resolve("spans").toString
      graft.operators.Dedup.saveHotSpans(
        graft.operators.Dedup.hotSpans(docsT, "text", "doc_id",
          spanWords = 8, minDocFreq = 2L), spansDir)
      val parasDir = base.resolve("paras").toString
      graft.operators.Dedup.saveHotParagraphs(
        graft.operators.Dedup.hotParagraphs(docsT, "text", "doc_id",
          minDocFreq = 2L), parasDir)
      val shinglesDir = base.resolve("shingles").toString
      graft.operators.Decontaminate.saveBenchShingles(
        graft.operators.Decontaminate.benchShingleHashes(
          docsT.where(org.apache.spark.sql.functions.col("doc_id") < 5),
          "text", "doc_id"), shinglesDir)
      val artifacts =
        Map("bpe" -> mergesPath, "ivf" -> ivfDir, "pq" -> pqDir,
          "ivfpq" -> ivfpqDir, "ivfsq8" -> ivfsq8Dir, "linear" -> linDir,
          "dsir" -> dsirPath, "spans" -> spansDir,
          "paragraphs" -> parasDir, "shingles" -> shinglesDir)
      // by-name vs literal-form query pairs per kind; %s is the model
      // name or its literal equivalent (path; merge list for bpe)
      def serveSql(kind: String, ref: String): String = kind match {
        case "bpe" =>
          s"select id, n_tokens from bpe_tokenize(documents, '$ref') " +
            "where id < 40 order by id"
        case "ivf" =>
          s"select qid, vec_id, cos from ann_topk(fuzzq, '$ref', 4, 2) " +
            "order by qid, cos desc, vec_id"
        case "pq" =>
          s"select qid, vec_id, cos from pq_topk(fuzzq, '$ref', 4, 20) " +
            "order by qid, cos desc, vec_id"
        case "ivfpq" =>
          s"select qid, vec_id, cos from ivfpq_topk(fuzzq, '$ref', 4, 2, 20) " +
            "order by qid, cos desc, vec_id"
        case "ivfsq8" =>
          s"select qid, vec_id, cos from ivfsq8_topk(fuzzq, '$ref', 4, 2) " +
            "order by qid, cos desc, vec_id"
        case "linear" =>
          s"select id, n_toks, score, keep from " +
            s"quality_classifier(documents, '$ref') where id < 40 order by id"
        case "dsir" =>
          s"select id, n_toks, score from dsir_apply(documents, '$ref') " +
            "where id < 40 order by id"
        case "spans" =>
          s"select id, n_words, n_removed from span_excise(documents, '$ref') " +
            "where id < 40 order by id"
        case "paragraphs" =>
          s"select doc_id, n_kept, n_removed from " +
            s"paragraph_apply(documents, '$ref') where doc_id < 40 order by doc_id"
        case "shingles" =>
          s"select doc_id, n_chars from decontaminate_apply(documents, '$ref') " +
            "where doc_id < 40 order by doc_id"
      }
      def literalRef(kind: String): String =
        if (kind == "bpe") mergesList else artifacts(kind)
      val sidecar = base.resolve("catalog.json").toString
      var g = new GraftSession(spark).registerDir(TestSpark.sf)
        .persistTo(sidecar)
      g.sql("create table fuzzq as select vec_id, embedding from embeddings where vec_id < 3")
      val mirror = scala.collection.mutable.Map.empty[String, String]
      val names = (0 until 10).map(i => s"fm$i")
      val kinds = Seq("bpe", "ivf", "pq", "ivfpq", "ivfsq8", "linear",
        "dsir", "spans", "paragraphs", "shingles")
      val rnd = new scala.util.Random(20260815L)
      var serves = 0
      var wrongKinds = 0
      var reattaches = 0
      var degradedReattaches = 0
      val crash: Set[Class[_]] = Set(classOf[MatchError],
        classOf[NullPointerException], classOf[ClassCastException],
        classOf[scala.NotImplementedError])
      for (op <- 0 until 300) {
        val registered = mirror.keys.toSeq.sorted
        rnd.nextInt(10) match {
          case 0 | 1 | 2 => // create (overwrite allowed, like CREATE SCHEMA)
            val n = names(rnd.nextInt(names.length))
            val k = kinds(rnd.nextInt(kinds.length))
            g.sql(s"create model $n kind '$k' at '${artifacts(k)}'")
            mirror(n) = k
          case 3 => // drop: existing, if-exists missing, or bare-missing error
            val n = names(rnd.nextInt(names.length))
            if (mirror.contains(n)) { g.sql(s"drop model $n"); mirror -= n }
            else if (rnd.nextBoolean()) g.sql(s"drop model if exists $n")
            else {
              val e = intercept[Exception](g.sql(s"drop model $n"))
              assert(e.getMessage.contains("unknown model"), e.toString)
            }
          case 4 | 5 | 6 if registered.nonEmpty => // serve: name ≡ literal
            val n = registered(rnd.nextInt(registered.length))
            val k = mirror(n)
            def rows(sql: String): Seq[String] =
              g.sql(sql).collect().map(_.mkString("|")).toSeq
            val byName = rows(serveSql(k, n))
            val byLiteral = rows(serveSql(k, literalRef(k)))
            assert(byName == byLiteral && byName.nonEmpty,
              s"op $op: model $n ($k) name-form diverged from literal form")
            serves += 1
          case 7 if registered.nonEmpty => // wrong-kind: eager clean error
            val n = registered(rnd.nextInt(registered.length))
            val k = mirror(n)
            val other = kinds(rnd.nextInt(kinds.length))
            if (other != k) {
              val e = intercept[Exception](g.sql(serveSql(other, n)))
              assert(!crash.contains(e.getClass), e.toString)
              assert(e.getMessage.contains(s"expected '$other'"), e.toString)
              wrongKinds += 1
            }
          case 8 => // SHOW MODELS mirrors the catalog (with content hashes)
            val shown = g.sql("show models").collect()
              .map(r => r.getString(0) -> r.getString(1)).toMap
            assert(shown == mirror.toMap, s"op $op: $shown vs $mirror")
          case 9 => // re-attach: a NEW session over the same sidecar —
            // sometimes with the bpe artifact DELETED underneath, so
            // replay exercises the degraded-registration path end-to-end
            val bpeNames = mirror.collect { case (n, "bpe") => n }.toSeq.sorted
            if (rnd.nextBoolean() && bpeNames.nonEmpty) {
              val mp = java.nio.file.Paths.get(mergesPath)
              val bak = base.resolve("merges.bak")
              java.nio.file.Files.move(mp, bak)
              try {
                g = new GraftSession(spark).registerDir(TestSpark.sf)
                  .persistTo(sidecar)
                bpeNames.foreach { n =>
                  // the lost artifact degrades the entry (hash 'missing'),
                  // never poisons the catalog or the other model kinds
                  assert(g.catalog.model(n).exists(_.hash == "missing"),
                    s"op $op: $n should be degraded")
                  // serving a degraded model is an EAGER dialect error
                  val e = intercept[graft.translate.GraftAnalysisException](
                    g.sql(serveSql("bpe", n)))
                  assert(e.getMessage.contains("degraded"), e.toString)
                }
                // a degraded entry DROPs like any other
                g.sql(s"drop model ${bpeNames.head}")
                mirror -= bpeNames.head
              } finally java.nio.file.Files.move(bak, mp)
              // artifact restored: re-CREATE the remaining degraded names
              // (the documented remedy) so later serves see real hashes
              bpeNames.tail.foreach(n =>
                g.sql(s"create model $n kind 'bpe' at '$mergesPath'"))
              degradedReattaches += 1
            } else
              g = new GraftSession(spark).registerDir(TestSpark.sf)
                .persistTo(sidecar)
            reattaches += 1
          case _ => // serve/wrong-kind with empty catalog: nothing to do
        }
        assert(g.catalog.modelNames.toSet == mirror.keys.toSet,
          s"op $op: catalog ${g.catalog.modelNames} != mirror ${mirror.keys}")
      }
      info(s"300 ops: $serves name≡literal serves, $wrongKinds wrong-kind " +
        s"errors, $reattaches sidecar re-attaches " +
        s"($degradedReattaches with a deleted artifact)")
      assert(serves >= 40 && wrongKinds >= 5 && reattaches >= 10 &&
        degradedReattaches >= 3)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rm)
        f.delete(): Unit
      }
      rm(base.toFile)
    }
  }
}
