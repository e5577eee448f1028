package graft

import graft.streaming.Sinks
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Remaining API-surface parity: socket sources (S3), FSQL windowed
  * queries running on live streams, the typed-record surface
  * (flinkdsl/record.scala → Dataset[T]), and function-registry extension
  * hooks (flinkdsl/typer.scala_:297-298). */
class SurfaceSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("catalog persistence: DDL survives the session via the JSON sidecar (define -> new session -> query)") {
    val sidecar = java.nio.file.Files.createTempDirectory("graft_cat_")
      .resolve("catalog.json").toString
    try {
      // session 1: schema (+extends), declared stream, CTAS, and a drop
      val g1 = new GraftSession(spark).registerDir(TestSpark.sf).persistTo(sidecar)
      g1.sql("create schema base_ev (id long, ts timestamp)")
      g1.sql("create schema click_ev (url string) extends base_ev")
      g1.sql("create stream clicks click_ev")
      g1.sql("create table nation_small as select n_nationkey as k, n_name as name " +
        "from nation where n_nationkey < 10")
      g1.sql("create table doomed as select 1 as x")
      g1.sql("drop table doomed")
      // session 2 (fresh catalog over the same base dir): replay on attach
      val g2 = new GraftSession(spark).registerDir(TestSpark.sf).persistTo(sidecar)
      // schema with inheritance reconstructed
      assert(g2.catalog.schema("click_ev").get.fieldNames.toSeq ==
        Seq("id", "ts", "url"))
      // stream definition reconstructed (declared, empty, right schema)
      assert(g2.catalog.isDeclaredStream("clicks"))
      assert(g2.sql("select * from clicks").columns.toSeq == Seq("id", "ts", "url"))
      // CTAS plan re-planned against the base tables and queryable
      val n = g2.sql("select cast(count(*) as bigint) as n from nation_small")
        .head().getLong(0)
      assert(n == 10L)
      // the dropped table stayed dropped (replay preserves order)
      assert(!g2.catalog.hasRelation("doomed"))
      // recording continues in the restored session: session 3 sees g2's DDL
      g2.sql("create table nation_tiny as select k from nation_small where k < 3")
      val g3 = new GraftSession(spark).registerDir(TestSpark.sf).persistTo(sidecar)
      assert(g3.sql("select cast(count(*) as bigint) as n from nation_tiny")
        .head().getLong(0) == 3L)
      // non-DDL statements are NOT recorded (SELECTs leave the sidecar alone)
      val before = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(sidecar)), "UTF-8")
      g3.sql("select 1 as one").collect()
      val after = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(sidecar)), "UTF-8")
      assert(before == after)
    } finally {
      val f = new java.io.File(sidecar)
      f.delete(); f.getParentFile.delete()
      ()
    }
  }

  test("model artifacts: train -> create model -> sidecar round-trip -> apply by name") {
    import graft.operators.{IvfIndex, TextAnalysis}
    val dir = java.nio.file.Files.createTempDirectory("graft_models_")
    val sidecar = dir.resolve("catalog.json").toString
    val mergesPath = dir.resolve("bpe_merges.txt").toString
    val ivfDir = dir.resolve("ivf").toString
    try {
      val g1 = new GraftSession(spark).registerDir(TestSpark.sf).persistTo(sidecar)
      val docs = g1.catalog.relation("documents")
      // train + persist the two artifact kinds
      val merges = TextAnalysis.trainBpeModel(docs, "text", "doc_id",
        numMerges = 8, path = mergesPath)
      assert(merges.nonEmpty)
      assert(TextAnalysis.loadBpeMerges(spark, mergesPath) == merges)
      IvfIndex.save(g1.catalog.relation("embeddings"), ivfDir,
        nlist = 8, iters = 2)
      g1.sql(s"create model toktok kind 'bpe' at '$mergesPath'")
      g1.sql(s"create model annidx kind 'ivf' at '$ivfDir'")
      val shown = g1.sql("show models").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(3))).toSeq.sorted
      assert(shown.map(t => (t._1, t._2)) == Seq(("annidx", "ivf"), ("toktok", "bpe")))
      assert(shown.forall(_._3.length == 32)) // md5 content hashes recorded
      // apply by name ≡ the direct operator call with the same merges
      val byName = g1.sql(
        "select id, n_tokens from bpe_tokenize(documents, 'toktok') order by id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val direct = TextAnalysis.tokenizeBpeModel(docs, "text", "doc_id", merges)
        .orderBy("id")
        .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
      assert(byName == direct && byName.nonEmpty)
      // NEW session over the same sidecar: models replay, names resolve
      val g2 = new GraftSession(spark).registerDir(TestSpark.sf).persistTo(sidecar)
      assert(g2.catalog.hasModel("toktok") && g2.catalog.hasModel("annidx"))
      g2.sql("create table annq as select vec_id, embedding from embeddings where vec_id < 5")
      val served = g2.sql("select qid, vec_id from ann_topk(annq, 'annidx', 5, 8)")
      assert(served.groupBy("qid").count().count() == 5L)
      // wrong-kind references are eager errors
      val e1 = intercept[graft.translate.GraftAnalysisException](
        g2.sql("select * from bpe_tokenize(documents, 'annidx')"))
      assert(e1.getMessage.contains("expected 'bpe'"))
      val e2 = intercept[graft.translate.GraftAnalysisException](
        g2.sql("select * from ann_topk(annq, 'toktok', 5)"))
      assert(e2.getMessage.contains("expected 'ivf'"))
      // a registration pointing nowhere is rejected eagerly
      val e3 = intercept[graft.translate.GraftAnalysisException](
        g2.sql(s"create model ghost kind 'ivf' at '$dir/nope'"))
      assert(e3.getMessage.contains("no IVF layout"))
      // PQ index as a third model kind: register + serve by name
      val pqDir = dir.resolve("pq").toString
      IvfIndex.savePqIndex(
        g2.catalog.relation("embeddings"), pqDir, m = 16, k = 16, iters = 1)
      g2.sql(s"create model pqidx kind 'pq' at '$pqDir'")
      val pqServed = g2.sql("select qid, vec_id from pq_topk(annq, 'pqidx', 5, 50)")
      assert(pqServed.groupBy("qid").count().count() == 5L)
      val e4 = intercept[graft.translate.GraftAnalysisException](
        g2.sql("select * from pq_topk(annq, 'annidx', 5)"))
      assert(e4.getMessage.contains("expected 'pq'"))
      // DROP MODEL is journaled too: gone in the next session
      g2.sql("drop model toktok")
      val g3 = new GraftSession(spark).registerDir(TestSpark.sf).persistTo(sidecar)
      assert(!g3.catalog.hasModel("toktok") && g3.catalog.hasModel("annidx") &&
        g3.catalog.hasModel("pqidx"))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rm)
        f.delete(): Unit
      }
      rm(dir.toFile)
    }
  }

  test("ANN table functions: wrong-kind model, layout-less literal path and torn-layout CREATE MODEL are eager errors") {
    import graft.operators.IvfIndex
    import graft.translate.GraftAnalysisException
    val base = java.nio.file.Files.createTempDirectory("graft_ann_surface_")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rm)
      f.delete(): Unit
    }
    try {
      val g = new GraftSession(spark).registerDir(TestSpark.sf)
      val e = g.catalog.relation("embeddings").where(col("vec_id") < 64)
      g.sql("create table ann_surface_q as select vec_id, embedding from embeddings where vec_id < 3")
      // (table function, model kind, layout label, save, a part whose
      // loss tears the layout)
      val cases = Seq[(String, String, String, String => Unit, String)](
        ("ann_topk", "ivf", "IVF",
          d => IvfIndex.save(e, d, IvfIndex.Flat, nlist = 4, iters = 1), "centroids"),
        ("pq_topk", "pq", "PQ",
          d => IvfIndex.savePqIndex(e, d, m = 16, k = 8, iters = 1), "codebooks"),
        ("ivfpq_topk", "ivfpq", "IVF-PQ",
          d => IvfIndex.save(e, d, IvfIndex.Pq(m = 16, k = 8), nlist = 4, iters = 1),
          "codebooks"),
        ("ivfsq8_topk", "ivfsq8", "IVF+SQ8",
          d => IvfIndex.save(e, d, IvfIndex.Sq8, nlist = 4, iters = 1), "codes"))
      val dirs = cases.map { case (_, kind, _, save, _) =>
        val d = base.resolve(kind).toString
        save(d)
        g.sql(s"create model ann_surface_$kind kind '$kind' at '$d'")
        kind -> d
      }.toMap
      val empty = java.nio.file.Files.createDirectory(base.resolve("empty")).toString
      cases.zipWithIndex.foreach { case ((fn, kind, label, _, torn), i) =>
        // a registered model of another kind
        val other = cases((i + 1) % cases.length)._2
        val wrong = intercept[GraftAnalysisException](
          g.sql(s"select * from $fn(ann_surface_q, 'ann_surface_$other', 5)"))
        assert(wrong.getMessage.contains(
          s"model 'ann_surface_$other' has kind '$other', expected '$kind'"),
          wrong.getMessage)
        // a literal path that holds no layout
        val noLayout = intercept[GraftAnalysisException](
          g.sql(s"select * from $fn(ann_surface_q, '$empty', 5)"))
        assert(noLayout.getMessage.contains(s"$fn: ") &&
          noLayout.getMessage.contains(s"no $label index layout at '$empty'"),
          noLayout.getMessage)
        // CREATE MODEL on a layout that lost a required part
        rm(new java.io.File(dirs(kind), torn))
        val tornErr = intercept[GraftAnalysisException](
          g.sql(s"create model ann_surface_torn kind '$kind' at '${dirs(kind)}'"))
        assert(tornErr.getMessage.contains(
          s"create model ann_surface_torn: no $label layout at '${dirs(kind)}'"),
          tornErr.getMessage)
        assert(!g.catalog.hasModel("ann_surface_torn"))
      }
    } finally rm(base.toFile)
  }

  test("catalog persistence: a failed mid-replay never truncates the sidecar") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cat_fail_")
    val sidecar = dir.resolve("catalog.json").toString
    try {
      val g1 = new GraftSession(spark).registerDir(TestSpark.sf).persistTo(sidecar)
      g1.sql("create schema ok_one (id long)")
      g1.sql("create schema ok_two (v string)")
      // sabotage the MIDDLE statement so replay fails partway, with a
      // good statement still unreplayed after the failure point
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper
      val root = mapper.readTree(new java.io.File(sidecar))
      val stmts = root.get("statements").asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
      val tail = stmts.get(1).asText()
      stmts.set(1, new com.fasterxml.jackson.databind.node.TextNode("create schema broken (x nosuchtype)"))
      stmts.add(tail)
      mapper.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(sidecar), root)
      val before = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(sidecar)), "UTF-8")
      val g2 = new GraftSession(spark).registerDir(TestSpark.sf)
      intercept[Exception](g2.persistTo(sidecar))
      // the failed session is still usable — and a DDL issued on it must
      // NOT rewrite the sidecar from a truncated journal (persistPath is
      // only armed after a successful replay)
      g2.sql("create schema after_fail (y long)")
      val after = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(sidecar)), "UTF-8")
      assert(before == after, "failed replay must leave the sidecar untouched")
    } finally {
      val f = new java.io.File(sidecar)
      f.delete(); f.getParentFile.delete()
      ()
    }
  }

  test("failed replay rolls the journal back: a later persistTo writes a clean sidecar (r11 advisory)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cat_rb_")
    val poisoned = dir.resolve("poisoned.json").toString
    val fresh = dir.resolve("fresh.json").toString
    try {
      val g1 = new GraftSession(spark).registerDir(TestSpark.sf).persistTo(poisoned)
      g1.sql("create schema rb_one (id long)")
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper
      val root = mapper.readTree(new java.io.File(poisoned))
      val stmts = root.get("statements").asInstanceOf[com.fasterxml.jackson.databind.node.ArrayNode]
      stmts.add(new com.fasterxml.jackson.databind.node.TextNode("create schema rb_broken (x nosuchtype)"))
      mapper.writerWithDefaultPrettyPrinter().writeValue(new java.io.File(poisoned), root)
      val g2 = new GraftSession(spark).registerDir(TestSpark.sf)
      intercept[Exception](g2.persistTo(poisoned))
      // the rolled-back session re-arms against a FRESH path: the new
      // sidecar must hold only DDL that actually executed on g2 — not the
      // poisoned journal of the failed attach
      g2.persistTo(fresh)
      g2.sql("create schema rb_clean (y long)")
      val freshText = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(fresh)), "UTF-8")
      assert(freshText.contains("rb_clean"), freshText)
      assert(!freshText.contains("rb_broken") && !freshText.contains("rb_one"),
        s"poisoned journal leaked into the fresh sidecar: $freshText")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rm)
        f.delete(): Unit
      }
      rm(dir.toFile)
    }
  }

  test("sidecar replay degrades a model whose artifact vanished instead of poisoning the catalog (r11 advisory)") {
    import graft.operators.TextAnalysis
    val dir = java.nio.file.Files.createTempDirectory("graft_cat_deg_")
    val sidecar = dir.resolve("catalog.json").toString
    val mergesPath = dir.resolve("m.txt")
    try {
      TextAnalysis.saveBpeMerges(spark, Seq(("e", "r")), mergesPath.toString)
      val g1 = new GraftSession(spark).registerDir(TestSpark.sf).persistTo(sidecar)
      g1.sql(s"create model deg_model kind 'bpe' at '$mergesPath'")
      g1.sql("create table deg_keep as select n_nationkey as k from nation where n_nationkey < 3")
      java.nio.file.Files.delete(mergesPath)
      // replay: the lost artifact degrades ONE entry; the rest of the
      // catalog (and persistence) stays alive
      val g2 = new GraftSession(spark).registerDir(TestSpark.sf).persistTo(sidecar)
      assert(g2.sql("select cast(count(*) as bigint) as n from deg_keep")
        .head().getLong(0) == 3L)
      assert(g2.catalog.model("deg_model").exists(_.hash == "missing"))
      // SHOW MODELS surfaces the degraded hash; the user can DROP it
      val shown = g2.sql("show models").collect()
        .find(_.getString(0) == "deg_model").get
      assert(shown.getString(3) == "missing")
      // first USE fails EAGERLY with the dialect's degraded-model error
      // (at sql() time, not a filesystem exception at action time)
      val degErr = intercept[graft.translate.GraftAnalysisException](
        g2.sql("select * from bpe_tokenize(documents, 'deg_model')"))
      assert(degErr.getMessage.contains("degraded") &&
        degErr.getMessage.contains("DROP MODEL"), degErr.getMessage)
      g2.sql("drop model deg_model")
      val g3 = new GraftSession(spark).registerDir(TestSpark.sf).persistTo(sidecar)
      assert(!g3.catalog.hasModel("deg_model") && g3.catalog.hasRelation("deg_keep"))
      // OUTSIDE replay, a missing artifact is still an eager error
      intercept[graft.translate.GraftAnalysisException](
        g3.sql(s"create model deg2 kind 'bpe' at '$mergesPath'"))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rm)
        f.delete(): Unit
      }
      rm(dir.toFile)
    }
  }

  test("bpe_tokenize by model name applies an explicit vocab cap on distinct-pair models (r11 advisory)") {
    import graft.operators.TextAnalysis
    val dir = java.nio.file.Files.createTempDirectory("graft_bpe_cap_")
    val mergesPath = dir.resolve("m.txt").toString
    try {
      TextAnalysis.saveBpeMerges(spark, Seq(("e", "r")), mergesPath)
      val g = new GraftSession(spark).registerDir(TestSpark.sf)
      g.sql(s"create model cap_model kind 'bpe' at '$mergesPath'")
      val docs = g.catalog.relation("documents")
      def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val viaSql = rows(g.sql(
        "select id, n_tokens from bpe_tokenize(documents, 'cap_model', 1) order by id"))
      val direct = rows(TextAnalysis
        .tokenizeBpe(docs, "text", "doc_id", Seq(("e", "r")), vocabCap = 1)
        .orderBy("id").selectExpr("id", "n_tokens"))
      assert(viaSql == direct && viaSql.nonEmpty)
      // the cap is load-bearing: capping to 1 word changes some count
      // (OOV words segment per char instead of through the merge chain)
      val uncapped = rows(g.sql(
        "select id, n_tokens from bpe_tokenize(documents, 'cap_model') order by id"))
      assert(viaSql != uncapped, "cap=1 must differ from the capped-default apply")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rm)
        f.delete(): Unit
      }
      rm(dir.toFile)
    }
  }

  test("explain analyze: executed physical plan annotated with runtime metrics") {
    val g = TestSpark.session
    val out = g.sql(
      "explain analyze select l_returnflag as f, cast(count(*) as bigint) as n " +
        "from lineitem group by l_returnflag").head().getString(0)
    // the aggregate shape, with real executed metrics on the nodes
    assert(out.contains("HashAggregate"), out)
    assert(out.contains("numOutputRows="), out)
    // shuffle node reports exchanged data (bytes written > 0)
    assert(out.contains("Exchange") || out.contains("ShuffleQueryStage"), out)
    // last line: the graft.obs counters of the execution
    val totals = out.linesIterator.toSeq.last
    assert(totals.startsWith("totals: jobs=") && !totals.startsWith("totals: jobs=0 "), out)
    assert(totals.contains(" spill_bytes=0 ") && totals.contains(" codegen_fallbacks=0"), out)
    // plain explain still returns the formatted static plan
    val stat = g.sql("explain select n_name from nation").head().getString(0)
    assert(stat.contains("Scan parquet") && !stat.contains("numOutputRows="))
    // streaming queries are rejected with a dialect error
    val gs = new GraftSession(spark, streaming = true)
    gs.sql("create schema an_ev (ts timestamp, v double)")
    val dir = java.nio.file.Files.createTempDirectory("an_stream_").toFile
    val w = new java.io.PrintWriter(new java.io.File(dir, "a.csv"))
    w.println("2024-01-01T01:10:00,3.0"); w.close()
    gs.sql(s"create stream an_s an_ev source file('${dir.getAbsolutePath}')")
    // file-backed streams execute as batch here; force the live-stream path
    val err = intercept[graft.translate.GraftAnalysisException] {
      val live = new GraftSession(spark, streaming = true)
      live.catalog.registerStream("live_s",
        spark.readStream.format("rate").load())
      live.sql("explain analyze select value from live_s")
    }
    assert(err.getMessage.contains("streaming"))
  }

  test("S3 socket source: CSV lines from a TCP socket, parsed to schema") {
    val server = new java.net.ServerSocket(0)
    val port = server.getLocalPort
    val feeder = new Thread(() => {
      val s = server.accept()
      val w = new java.io.PrintWriter(s.getOutputStream)
      (1 to 5).foreach(i => w.println(s"$i,${i * 1.5}"))
      w.flush()
      Thread.sleep(3000) // keep the socket open while the query reads
      s.close()
    })
    feeder.setDaemon(true)
    feeder.start()

    val g = new GraftSession(spark, streaming = true)
    g.sql(s"create stream sock (id long, v double) source host('localhost', $port)")
    val df = g.catalog.relation("sock")
    assert(df.isStreaming)
    assert(df.schema.fieldNames.toSeq == Seq("id", "v"))
    val q = Sinks.memory(df.groupBy().agg(count(lit(1)).as("n"), sum("v").as("s")),
      "sock_out", OutputMode.Complete())
    try {
      // wait until all 5 lines arrived (socket sources deliver asynchronously)
      val deadline = System.currentTimeMillis() + 30000
      var ok = false
      while (!ok && System.currentTimeMillis() < deadline) {
        q.processAllAvailable()
        val rows = spark.table("sock_out").collect()
        ok = rows.nonEmpty && rows.head.getLong(0) == 5L
        if (!ok) Thread.sleep(200)
      }
      val r = spark.table("sock_out").collect().head
      assert(r.getLong(0) == 5L)
      assert(math.abs(r.getDouble(1) - (1 to 5).map(_ * 1.5).sum) < 1e-9)
    } finally { q.stop(); server.close() }
  }

  test("FSQL windowed aggregation runs on a live stream (dialect → Structured Streaming)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_fsql_stream").toFile
    val w = new java.io.PrintWriter(new java.io.File(dir, "a.csv"))
    w.println("2024-01-01T01:10:00,3.0")
    w.println("2024-01-01T01:20:00,4.0")
    w.println("2024-01-01T02:40:00,5.0")
    w.close()
    val g = new GraftSession(spark, streaming = true)
    g.sql("create stream sevents (ts timestamp, v double) source file('" + dir.getAbsolutePath + "')")
    val agg = g.sql("select w_start, count(*) as n, sum(v) as s from sevents [size 1 h on ts] group by w_start")
    assert(agg.isStreaming)
    val q = Sinks.memory(agg, "fsql_stream_out", OutputMode.Complete())
    try {
      q.processAllAvailable()
      val rows = spark.table("fsql_stream_out").collect()
        .map(r => r.getTimestamp(0).toString -> (r.getLong(1), r.getDouble(2))).toMap
      assert(rows("2024-01-01 01:00:00.0") == (2L, 7.0))
      assert(rows("2024-01-01 02:00:00.0") == (1L, 5.0))
    } finally q.stop()
  }

  test("typed-record surface: sqlAs[T] returns a Dataset of case classes") {
    val g = TestSpark.session
    import TestSpark.spark.implicits._
    val ds = g.sqlAs[FlagQty](
      "select l_returnflag as flag, sum(l_quantity) as qty from lineitem group by l_returnflag")
    val m = ds.collect().map(r => r.flag -> r.qty).toMap
    assert(m.keySet == Set("A", "N", "R"))
    assert(m.values.forall(_ > 0))
  }

  test("typed-record codegen: recordSource emits the case class sqlAs[T] consumes") {
    val g = TestSpark.session
    val src = g.recordSource("FlagQty",
      "select l_returnflag as flag, sum(l_quantity) as qty from lineitem group by l_returnflag")
    // matches the hand-written FlagQty this suite already round-trips
    // through sqlAs[FlagQty] (nullability from the live analyzed plan)
    assert(src ==
      "final case class FlagQty(\n  flag: Option[String],\n  qty: Option[Double]\n)")
    // non-identifier + keyword names are backquoted; NOT NULL keys stay bare
    val src2 = g.recordSource("R2",
      "select n_nationkey + 1 as `type`, count(*) as n from nation group by n_nationkey")
    assert(src2.contains("`type`: Option[Long]"))
    assert(src2.contains("n: Long")) // count(*) is non-nullable
    // arrays and timestamps map through
    val src3 = g.recordSource("R3",
      "select split(o_orderpriority, '-') as parts, o_orderdate as d from orders")
    assert(src3.contains("parts: Option[Seq[String]]"))
    // the catalog normalizes TIMESTAMP_NTZ parquet columns to TIMESTAMP,
    // so records see java.sql.Timestamp regardless of file encoding
    assert(src3.contains("d: Option[java.sql.Timestamp]"))
  }

  test("recordSource: named nested case classes + nullable primitive array elems") {
    val g = TestSpark.session
    import TestSpark.spark.implicits._
    // nested struct output → a named companion record, not a generic Row
    val src = g.recordSource("NatRec",
      "select named_struct('key', n_nationkey, 'name', n_name) as info, " +
      "n_regionkey as r from nation")
    assert(src.contains("final case class NatRecInfo("), src)
    assert(src.contains("info: NatRecInfo") || src.contains("info: Option[NatRecInfo]"), src)
    assert(!src.contains("org.apache.spark.sql.Row"), src)
    // the hand-written twin of the generated shape round-trips via sqlAs
    // (all-Option fields are decode-safe for any nullability)
    val ds = g.sqlAs[NatRec2](
      "select named_struct('key', n_nationkey, 'name', n_name) as info, " +
      "n_regionkey as r from nation")
    val rows = ds.collect()
    assert(rows.length == 25)
    assert(rows.flatMap(_.info).map(_.key.get).sorted.toSeq == (0 to 24))
    // nullable PRIMITIVE array elements wrap in Option (round-5 advisory:
    // a bare Seq[Int] encoder fails on a null element at decode time)
    val src2 = g.recordSource("ArrRec",
      "select array(n_regionkey, null) as xs from nation")
    assert(src2.contains("xs: Seq[Option[Int]]"), src2)
    val arr = g.sqlAs[ArrRec2]("select array(n_regionkey, null) as xs from nation")
      .collect()
    assert(arr.length == 25 && arr.forall(_.xs.get.last.isEmpty))
  }

  test("extension hooks: registerScalar / registerAggregate reach the dialect") {
    graft.functions.Registry.registerScalar("double_it")(args => args.head * 2)
    graft.functions.Registry.registerAggregate("sum_sq")(args => sum(args.head * args.head))
    val g = TestSpark.session
    val r = g.sql("select double_it(2) as d, sum_sq(l_quantity) as s from lineitem").collect().head
    assert(r.getLong(0) == 4L)
    assert(r.getDouble(1) > 0)
    // registered aggregate participates in group-by detection
    val grouped = g.sql("select l_returnflag as f, sum_sq(l_discount) as s from lineitem group by l_returnflag")
    assert(grouped.count() == 3)
  }

  test("a user override of a built-in scalar survives constructing another session") {
    // the override answers one probe input and defers to the built-in on
    // every other, so the JVM-global registry stays correct for other suites
    graft.functions.Registry.registerScalar("url_host") { as =>
      when(as.head === "override-probe", lit("overridden"))
        .otherwise(graft.operators.UrlCuration.canonicalHost(as.head))
    }
    val g = new GraftSession(spark)
    assert(g.sql("select url_host('override-probe') as h").head().getString(0) == "overridden")
    assert(g.sql("select url_host('http://WWW.Example.com/a') as h").head().getString(0) ==
      TestSpark.session.sql("select url_host('http://WWW.Example.com/a') as h").head().getString(0))
  }

  test("audio_stats / pii_redact: eager convention-naming errors (r8 advisory pattern)") {
    val g1 = new GraftSession(spark).registerDir(TestSpark.sf)
    // documents lacks media_id/payload/mime → audio_stats names the
    // media convention at ANALYSIS time, not unresolved-column at action
    val e1 = intercept[graft.translate.GraftAnalysisException](
      g1.sql("select * from audio_stats(documents)"))
    assert(e1.getMessage.contains("media_id") &&
      e1.getMessage.contains("audio_stats"), e1.getMessage)
    // a relation without text → pii_redact names the documents convention
    val e2 = intercept[graft.translate.GraftAnalysisException](
      g1.sql("select * from pii_redact(nation)"))
    assert(e2.getMessage.contains("pii_redact") &&
      e2.getMessage.contains("documents convention"), e2.getMessage)
    // happy path through SQL: counts are zero on the clean base corpus
    val clean = g1.sql("select cast(sum(n_emails) + sum(n_ipv4) as bigint) " +
      "as n from pii_redact(documents)").head().getLong(0)
    assert(clean == 0L)
  }

  test("vec_dot / vec_cosine usable from the dialect (custom codegen expressions)") {
    val g = TestSpark.session
    val r = g.sql(
      "select vec_id as k, round(vec_cosine(embedding, embedding), 4) as self_cos, " +
      "vec_dot(embedding, embedding) as sq from embeddings order by k limit 3").collect()
    assert(r.length == 3)
    r.foreach { row =>
      assert(math.abs(row.getDouble(1) - 1.0) < 1e-9) // cos(v, v) = 1
      assert(row.getDouble(2) > 0)
    }
  }

  test("unknown function falls through to Spark's library (P7 passthrough)") {
    val g = TestSpark.session
    val r = g.sql("select concat(l_returnflag, l_linestatus) as c from lineitem limit 1").collect().head
    assert(r.getString(0).length == 2)
    // genuinely unknown → analysis error from Catalyst
    intercept[Exception](g.sql("select no_such_fn(1) as x").collect())
  }
  test("S8/S9 JDBC: register a Derby table, introspect schema, query through the dialect") {
    val url = "jdbc:derby:memory:graftdb;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE people (id BIGINT, name VARCHAR(32), age INT)")
      st.execute("INSERT INTO people VALUES (1, 'ann', 34), (2, 'bob', 28), (3, 'cyn', 41)")
      st.close()
    } finally conn.close()

    val g = new GraftSession(spark)
    g.registerJdbc("people", url, "people")
    val sch = g.jdbcSchema(url, "people")
    assert(sch.fieldNames.map(_.toLowerCase).toSeq == Seq("id", "name", "age"))
    val rows = g.sql("select name, age from people where age > 30 order by age").collect()
    assert(rows.map(_.getString(0)).toSeq == Seq("ANN", "CYN").map(_.toLowerCase))
    assert(g.schemaOf("select id + 1 as k from people").fieldNames.toSeq == Seq("k"))
  }

  test("S8 constraints: PK / FK / unique-index metadata from a live connection") {
    val url = "jdbc:derby:memory:graftfk;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE dept (dept_id BIGINT PRIMARY KEY, dname VARCHAR(32) NOT NULL UNIQUE)")
      st.execute("CREATE TABLE emp (emp_id BIGINT PRIMARY KEY, " +
        "dept_id BIGINT REFERENCES dept(dept_id), ename VARCHAR(32))")
      st.execute("INSERT INTO dept VALUES (1, 'eng'), (2, 'ops')")
      st.execute("INSERT INTO emp VALUES (10, 1, 'ann'), (11, 2, 'bob')")
      st.close()
    } finally conn.close()

    val g = new GraftSession(spark)
    g.registerJdbc("emp", url, "emp", introspectConstraints = true)
    val meta = g.jdbcMeta("emp").get
    assert(meta.primaryKey.map(_.toLowerCase) == Seq("emp_id"))
    assert(meta.foreignKeys.map(f => (f.column.toLowerCase,
      f.refTable.toLowerCase, f.refColumn.toLowerCase)) ==
      Seq(("dept_id", "dept", "dept_id")))
    // direct introspection without registration; Derby folds names upper
    val dept = g.jdbcConstraints(url, "dept")
    assert(dept.primaryKey.map(_.toLowerCase) == Seq("dept_id"))
    assert(dept.uniqueIndexes.values.exists(_.map(_.toLowerCase) == Seq("dname")))
    // unregistered relations surface no metadata
    assert(g.jdbcMeta("people_nope").isEmpty)
  }

  test("S8: jdbcConstraints resolves schema-qualified names") {
    val url = "jdbc:derby:memory:graftsch;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE SCHEMA s1")
      st.execute("CREATE TABLE s1.items (item_id BIGINT PRIMARY KEY, label VARCHAR(16))")
      // same table name in the default schema, WITHOUT a primary key: the
      // qualifier must pin which one answers
      st.execute("CREATE TABLE items (item_id BIGINT, other VARCHAR(8))")
      st.close()
    } finally conn.close()
    val g = new GraftSession(spark)
    val qualified = g.jdbcConstraints(url, "s1.items")
    assert(qualified.primaryKey.map(_.toLowerCase) == Seq("item_id"))
    // Derby's default schema is APP — qualifying it reaches the PK-less twin
    val app = g.jdbcConstraints(url, "app.items")
    assert(app.primaryKey.isEmpty)
    intercept[graft.translate.GraftAnalysisException](
      g.jdbcConstraints(url, "no_such_schema.items"))
  }

  test("S8: auto-increment (generated-key) columns surface in constraints") {
    val url = "jdbc:derby:memory:graftgen;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE logs (log_id BIGINT GENERATED ALWAYS AS IDENTITY " +
        "PRIMARY KEY, msg VARCHAR(64))")
      st.close()
    } finally conn.close()
    val g = new GraftSession(spark)
    val meta = g.jdbcConstraints(url, "logs")
    // the reference's generatedKeyTypes (flinkdsl/typer.scala_:195-205):
    // auto-incrementable columns, here also the PK
    assert(meta.autoIncrement.map(_.toLowerCase) == Seq("log_id"))
    assert(meta.primaryKey.map(_.toLowerCase) == Seq("log_id"))
  }

  test("numOfResults: cardinality + one()/optional() from Derby key metadata") {
    val url = "jdbc:derby:memory:graftcard;create=true"
    val conn = java.sql.DriverManager.getConnection(url)
    try {
      val st = conn.createStatement()
      st.execute("CREATE TABLE users (uid BIGINT PRIMARY KEY, " +
        "email VARCHAR(64) NOT NULL UNIQUE, uname VARCHAR(32))")
      st.execute("INSERT INTO users VALUES (1, 'a@x', 'ann'), (2, 'b@x', 'bob')")
      st.close()
    } finally conn.close()
    val g = new GraftSession(spark)
    g.registerJdbc("users", url, "users", introspectConstraints = true)
    import Cardinality._
    // PK / unique-index equality coverage → ZeroOrOne (reference
    // numOfResults, flinkdsl/typer.scala_:17,180-203)
    assert(g.cardinalityOf("select uname from users where uid = 1") == ZeroOrOne)
    assert(g.cardinalityOf(
      "select uname from users where uname = 'ann' and uid = ?") == ZeroOrOne)
    assert(g.cardinalityOf("select uname from users where email = 'a@x'") == ZeroOrOne)
    // non-unique column / range on the key / bare scan → Many
    assert(g.cardinalityOf("select uname from users where uname = 'ann'") == Many)
    assert(g.cardinalityOf("select uname from users where uid > 1") == Many)
    assert(g.cardinalityOf("select uname from users") == Many)
    // LIMIT 1 bounds anything; global aggregates and DML are One
    assert(g.cardinalityOf("select uname from users limit 1") == ZeroOrOne)
    assert(g.cardinalityOf("select count(*) as n from users") == One)
    assert(g.cardinalityOf("delete from users where uname = 'x'") == One)
    // typed single-row execution rides the classification
    import TestSpark.spark.implicits._
    assert(g.one[String]("select uname from users where uid = 1") == "ann")
    assert(g.optional[String]("select uname from users where uid = ?", 99L).isEmpty)
    assert(g.one[Long]("select count(*) as n from users") == 2L)
    intercept[graft.translate.GraftAnalysisException](
      g.one[String]("select uname from users"))
    // DML classifies One (executes once) but has no row set — clear error
    val dml = intercept[graft.translate.GraftAnalysisException](
      g.one[String]("delete from users where uid = 1"))
    assert(dml.getMessage.contains("DML"))
  }

  test("declareUniqueKey powers cardinality on plain catalog relations") {
    val g = TestSpark.session
    import Cardinality._
    import TestSpark.spark.implicits._
    // parquet tables have no metadata channel — before the declaration the
    // statement is Many, after it the PK-equality shape is ZeroOrOne
    assert(g.cardinalityOf("select n_name from nation where n_nationkey = 7") == Many)
    g.declareUniqueKey("nation", "n_nationkey")
    assert(g.cardinalityOf("select n_name from nation where n_nationkey = 7") == ZeroOrOne)
    assert(g.cardinalityOf("select n_name from nation where n_regionkey = 1") == Many)
    // composite keys require every column covered
    g.declareUniqueKey("orders", "o_orderkey", "o_custkey")
    assert(g.cardinalityOf("select o_orderstatus from orders where o_orderkey = 1") == Many)
    assert(g.cardinalityOf(
      "select o_orderstatus from orders where o_orderkey = 1 and o_custkey = ?") == ZeroOrOne)
    assert(g.one[String]("select n_name from nation where n_nationkey = 7").nonEmpty)
    assert(g.optional[String]("select n_name from nation where n_nationkey = -5").isEmpty)
    // review hardening: WITH TIES un-bounds LIMIT 1; rand() is not a
    // constant; FROM-less SELECTs are provably one row
    assert(g.cardinalityOf("select n_name from nation " +
      "order by n_regionkey fetch first 1 rows with ties") == Many)
    assert(g.cardinalityOf(
      "select n_name from nation where n_nationkey = cast(rand() * 25 as int)") == Many)
    assert(g.cardinalityOf("select 1 as x") == One)
    assert(g.one[Long]("select 1 as x") == 1L)
    // second review pass: generators multiply rows; unknown functions are
    // not constants (registry passthrough); OFFSET can empty the dual row
    assert(g.cardinalityOf("select unnest([1, 2, 3]) as x") == Many)
    assert(g.cardinalityOf(
      "select n_name from nation where n_nationkey = spark_partition_id()") == Many)
    assert(g.cardinalityOf("select 1 as x limit 10 offset 1") == ZeroOrOne)
    // WITH wrapping: the body classifies normally, but a CTE that SHADOWS
    // a keyed table must not inherit the table's declared keys
    assert(g.cardinalityOf(
      "with v as (select 1 as x) " +
      "select n_name from nation where n_nationkey = 1") == ZeroOrOne)
    assert(g.cardinalityOf(
      "with nation as (select 1 as n_nationkey) " +
      "select n_nationkey from nation where n_nationkey = 1") == Many)
    assert(g.cardinalityOf(
      "with v as (select 1 as x) select count(*) as n from v") == One)
  }

  test("W7/S6: insert into stream[window] buckets incoming rows") {
    val g = TestSpark.session
    g.sql("create stream q_w7_sink (w_start timestamp, w_end timestamp, ts timestamp, v double)")
    g.sql("insert into q_w7_sink [size 1 h on ts] select ts, value as v from events where event_id < 5")
    val rows = g.sql("select * from q_w7_sink").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val ws = r.getTimestamp(0).getTime; val we = r.getTimestamp(1).getTime
      val ts = r.getTimestamp(2).getTime
      assert(ws <= ts && ts < we && we - ws == 3600L * 1000)
    }
  }
  test("per-phase timings: parse/bind/translate ms surface after each statement") {
    val g = TestSpark.session
    g.sql("select n_name from nation where n_nationkey = ?", 3).collect()
    val t = g.timings
    assert(t.keySet == Set("parse_ms", "bind_ms", "translate_ms"))
    assert(t.values.forall(v => v >= 0.0 && v < 60000.0))
    // parse and translate always do real work (text → AST, AST → analyzed
    // plan); bind may be arbitrarily cheap, so it is only bounds-checked
    assert(t("translate_ms") > 0.0 && t("parse_ms") > 0.0)
  }

  test("O7 script: sequential statements share the session, params split per statement") {
    val g = TestSpark.session
    val out = g.sqlScript(
      """create stream o7_sink (a long, b string);
        |insert into o7_sink (a, b) values (7, 'z');
        |select a, b from o7_sink where a = ?""".stripMargin, 7L)
    val rows = out.collect()
    assert(rows.length == 1 && rows.head.getLong(0) == 7L && rows.head.getString(1) == "z")
  }

  test("bucketed tables join without a shuffle exchange") {
    val g = new GraftSession(spark)
    g.registerDir("/root/testdata/sf0.001")
    g.writeBucketed("orders", "orders_b", Seq("o_orderkey"), 8)
    g.writeBucketed("lineitem", "lineitem_b", Seq("l_orderkey"), 8)
    val joined = g.sql(
      "select count(*) as n from orders_b o join lineitem_b l on o.o_orderkey = l.l_orderkey")
    val plan = joined.queryExecution.executedPlan.toString
    // co-located: no Exchange feeding the SortMergeJoin
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges <= 1, s"expected bucket-pruned shuffles, plan:\n$plan") // final agg may shuffle
    assert(!plan.linesIterator.exists(l => l.contains("Exchange") && l.contains("o_orderkey")),
      "orders side should read pre-bucketed data without shuffling")
    val expected = g.sql(
      "select count(*) as n from orders o join lineitem l on o.o_orderkey = l.l_orderkey")
      .collect().head.getLong(0)
    assert(joined.collect().head.getLong(0) == expected)
  }
  test("explicit watermark syntax controls the synthesized delay") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wm").toFile
    val w = new java.io.PrintWriter(new java.io.File(dir, "a.csv"))
    w.println("2024-01-01T01:10:00,3.0"); w.close()
    val g = new GraftSession(spark, streaming = true)
    g.sql("create stream wmev (ts timestamp, v double) source file('" + dir.getAbsolutePath + "')")
    val agg = g.sql("select w_start, count(*) as n from wmev [size 1 h on ts watermark 2 h] group by w_start")
    val analyzed = agg.queryExecution.analyzed.toString
    assert(analyzed.contains("7200000000 microseconds") || analyzed.contains("2 hours"),
      s"watermark delay not found in plan:\n$analyzed")
  }

  test("EXPLAIN returns the formatted physical plan") {
    val g = TestSpark.session
    val plan = g.sql("explain select l_returnflag, count(*) from lineitem group by l_returnflag")
      .collect().head.getString(0)
    assert(plan.contains("Physical Plan"))
    assert(plan.contains("HashAggregate"))
  }
}

case class FlagQty(flag: String, qty: Double)
case class NatRec2Info(key: Option[Int], name: Option[String])
case class NatRec2(info: Option[NatRec2Info], r: Option[Int])
case class ArrRec2(xs: Option[Seq[Option[Int]]])
