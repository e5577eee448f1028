package graft

import graft.streaming.{CountWindow, Sinks}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

/** Structured Streaming parity (SURVEY §2.9 M3): the FSQL window
  * constructs running on real streams via MemoryStream. */
class StreamingSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Runs one query phase and asserts it wrote its checkpoint through
    * graft's local checkpoint file system (`LocalCheckpointFileManager`,
    * which a GraftSession on `s` installs). */
  private def throughGraftCheckpoints(s: org.apache.spark.sql.SparkSession)(phase: => Unit): Unit = {
    val before = TestSpark.graftCheckpointBytes(s)
    phase
    assert(TestSpark.graftCheckpointBytes(s) > before,
      "checkpoint not written through LocalCheckpointFileManager")
  }

  test("W1 streaming: tumbling window aggregation on a stream") {
    val in = MemoryStream[(java.sql.Timestamp, Double)](spark)
    val df = in.toDF().toDF("ts", "value")
    val agg = df
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"), sum("value").as("v"))
      .select(col("window.start").as("w_start"), col("n"), col("v"))
    val q = Sinks.memory(agg, "w1_out", OutputMode.Complete())
    try {
      def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      in.addData((ts(1, 0), 1.0), (ts(1, 30), 2.0), (ts(2, 15), 4.0))
      q.processAllAvailable()
      val rows = spark.table("w1_out").collect()
        .map(r => r.getTimestamp(0).toString -> (r.getLong(1), r.getDouble(2))).toMap
      assert(rows("2024-01-01 01:00:00.0") == (2L, 3.0))
      assert(rows("2024-01-01 02:00:00.0") == (1L, 4.0))
    } finally q.stop()
  }

  test("W2 streaming: count windows via flatMapGroupsWithState") {
    val in = MemoryStream[(String, Long)](spark)
    val df = in.toDF().toDF("k", "v")
    val assigned = CountWindow.assign(df, size = 2, keyCols = Seq("k"))
    val q = Sinks.memory(assigned, "w2_out", OutputMode.Append())
    try {
      in.addData(("a", 1L), ("a", 2L), ("a", 3L), ("b", 10L))
      q.processAllAvailable()
      in.addData(("a", 4L), ("b", 11L))
      q.processAllAvailable()
      val rows = spark.table("w2_out").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      // key a: rows 1,2 -> w0; 3,4 -> w1. key b: 10,11 -> w0 (across batches)
      assert(rows.toSet == Set(
        ("a", 1L, 0L), ("a", 2L, 0L), ("a", 3L, 1L), ("a", 4L, 1L),
        ("b", 10L, 0L), ("b", 11L, 0L)))
    } finally q.stop()
  }

  test("W3/W5 streaming: sliding window with key, update mode") {
    val in = MemoryStream[(java.sql.Timestamp, String)](spark)
    val df = in.toDF().toDF("ts", "k")
    val agg = df.groupBy(window(col("ts"), "2 hours", "1 hour"), col("k"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("k"), col("n"))
    val q = Sinks.memory(agg, "w3_out", OutputMode.Complete())
    try {
      def ts(h: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:30:00")
      in.addData((ts(1), "x"), (ts(2), "x"))
      q.processAllAvailable()
      val rows = spark.table("w3_out").collect()
      // each row lands in 2 sliding windows; x@1:30 -> [00:00,01:00], x@2:30 -> [01:00,02:00]
      val byStart = rows.map(r => r.getTimestamp(0).toString -> r.getLong(2)).toMap
      assert(byStart("2024-01-01 01:00:00.0") == 2L) // both rows share the 01:00 window
    } finally q.stop()
  }

  test("W2 via the dialect: count window on a streaming source") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cw_stream").toFile
    val w = new java.io.PrintWriter(new java.io.File(dir, "in.csv"))
    (1 to 5).foreach(i => w.println(s"k,$i"))
    w.close()
    val g = new GraftSession(spark, streaming = true)
    g.sql("create stream cws (k string, v long) source file('" + dir.getAbsolutePath + "')")
    val df = g.sql("select k, v, w_id from cws [size 2 partitioned on k]")
    assert(df.isStreaming)
    val q = Sinks.memory(df, "cw_dialect_out", OutputMode.Append())
    try {
      q.processAllAvailable()
      val rows = spark.table("cw_dialect_out").collect()
        .map(r => r.getLong(1) -> r.getLong(2)).toMap
      assert(rows == Map(1L -> 0L, 2L -> 0L, 3L -> 1L, 4L -> 1L, 5L -> 2L))
    } finally q.stop()
  }

  test("W2 sliding via the dialect: count window with every on a streaming source (r11)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cws_stream").toFile
    val w = new java.io.PrintWriter(new java.io.File(dir, "in.csv"))
    (1 to 5).foreach(i => w.println(s"k,$i"))
    w.close()
    val g = new GraftSession(spark, streaming = true)
    g.sql("create stream cwslide (k string, v long) source file('" + dir.getAbsolutePath + "')")
    val df = g.sql("select k, v, w_id from cwslide [size 3 every 2 partitioned on k]")
    assert(df.isStreaming)
    val q = Sinks.memory(df, "cw_slide_out", OutputMode.Append())
    try {
      q.processAllAvailable()
      val rows = spark.table("cw_slide_out").collect()
        .map(r => (r.getLong(1), r.getLong(2))).sorted.toSeq
      // r=v-1: w0={v1,v2}, w1={v2,v3,v4}, w2={v4,v5}
      assert(rows == Seq((1L, 0L), (2L, 0L), (2L, 1L), (3L, 1L),
        (4L, 1L), (4L, 2L), (5L, 2L)), s"got $rows")
    } finally q.stop()
  }

  test("dialect windowed agg on a stream runs APPEND mode with watermark eviction") {
    val dir = java.nio.file.Files.createTempDirectory("graft_append_stream").toFile
    val w = new java.io.PrintWriter(new java.io.File(dir, "a.csv"))
    w.println("2024-01-01T01:10:00,3.0")
    w.println("2024-01-01T01:20:00,4.0")
    w.println("2024-01-01T09:00:00,1.0") // advances watermark past hour 1
    w.close()
    val g = new GraftSession(spark, streaming = true)
    g.sql("create stream apev (ts timestamp, v double) source file('" + dir.getAbsolutePath + "')")
    val agg = g.sql("select w_start, count(*) as n, sum(v) as s from apev [size 1 h on ts] group by w_start")
    // append mode requires a watermark — the translator synthesized one
    val q = Sinks.memory(agg, "append_out", OutputMode.Append())
    try {
      q.processAllAvailable()
      // second batch pushes the watermark so hour-1 window finalizes
      val w2 = new java.io.PrintWriter(new java.io.File(dir, "b.csv"))
      w2.println("2024-01-01T12:00:00,1.0")
      w2.close()
      q.processAllAvailable()
      val rows = spark.table("append_out").collect()
        .map(r => r.getTimestamp(0).toString -> (r.getLong(1), r.getDouble(2))).toMap
      assert(rows.contains("2024-01-01 01:00:00.0"), s"hour-1 window not finalized: $rows")
      assert(rows("2024-01-01 01:00:00.0") == (2L, 7.0))
    } finally q.stop()
  }

  test("dialect GAP window (every > size) on a stream: gap rows dropped, w_end = start + size") {
    val dir = java.nio.file.Files.createTempDirectory("graft_gap_stream").toFile
    val w = new java.io.PrintWriter(new java.io.File(dir, "a.csv"))
    w.println("2024-01-01T00:10:00,1.0") // hour 0 of a 3h period -> window [00:00, 01:00)
    w.println("2024-01-01T00:40:00,2.0") // same window
    w.println("2024-01-01T01:30:00,4.0") // gap (hours 1-2 of the period): NO window
    w.println("2024-01-01T03:20:00,8.0") // next period's window [03:00, 04:00)
    w.println("2024-01-02T00:00:00,0.5") // advances the watermark past everything
    w.close()
    val g = new GraftSession(spark, streaming = true)
    g.sql("create stream gapv (ts timestamp, v double) source file('" + dir.getAbsolutePath + "')")
    val agg = g.sql(
      "select w_start, w_end, count(*) as n, sum(v) as s from gapv [size 1 h on ts every 3 h] group by w_start, w_end")
    assert(agg.isStreaming)
    val q = Sinks.memory(agg, "gap_append_out", OutputMode.Append())
    try {
      q.processAllAvailable()
      // second batch pushes the watermark so earlier windows finalize
      val w2 = new java.io.PrintWriter(new java.io.File(dir, "b.csv"))
      w2.println("2024-01-03T00:00:00,0.25")
      w2.close()
      q.processAllAvailable()
      val rows = spark.table("gap_append_out").collect()
        .map(r => r.getTimestamp(0).toString ->
          (r.getTimestamp(1).toString, r.getLong(2), r.getDouble(3))).toMap
      assert(rows.contains("2024-01-01 00:00:00.0"), s"first gap window not emitted: $rows")
      assert(rows("2024-01-01 00:00:00.0") == (("2024-01-01 01:00:00.0", 2L, 3.0)))
      assert(rows.contains("2024-01-01 03:00:00.0"), s"second period window missing: $rows")
      assert(rows("2024-01-01 03:00:00.0") == (("2024-01-01 04:00:00.0", 1L, 8.0)))
      // the 01:30 row fell in the gap: no window starting 01:00/02:00/03:00-with-it
      assert(!rows.keys.exists(_.startsWith("2024-01-01 01:")), s"gap row leaked: $rows")
      assert(!rows.keys.exists(_.startsWith("2024-01-01 02:")), s"gap row leaked: $rows")
    } finally q.stop()
  }

  test("streaming session windows via Sessions.aggregate") {
    val in = MemoryStream[(java.sql.Timestamp, String, Double)](spark)
    val df = in.toDF().toDF("ts", "k", "v")
    val agg = graft.streaming.Sessions.aggregate(
      df, "ts", "10 minutes", Seq("k"),
      (count(lit(1)).as("n"), Seq(sum("v").as("s"))))
    val q = Sinks.memory(agg, "sess_out", OutputMode.Complete())
    try {
      def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      // two bursts for key a separated by > 10 min, one for b
      in.addData((ts(1, 0), "a", 1.0), (ts(1, 5), "a", 2.0), (ts(2, 0), "a", 4.0), (ts(1, 2), "b", 8.0))
      q.processAllAvailable()
      // layout per Sessions doc: w_start, w_end, keys..., aggregates
      val rows = spark.table("sess_out").collect()
        .map(r => (r.getString(2), r.getTimestamp(0).toString) -> (r.getLong(3), r.getDouble(4))).toMap
      assert(rows(("a", "2024-01-01 01:00:00.0")) == (2L, 3.0)) // merged burst
      assert(rows(("a", "2024-01-01 02:00:00.0")) == (1L, 4.0)) // separate session
      assert(rows(("b", "2024-01-01 01:02:00.0")) == (1L, 8.0))
    } finally q.stop()
  }

  test("watermark drops late data in append mode (dialect windows)") {
    val in = MemoryStream[(java.sql.Timestamp, Double)](spark)
    val df = in.toDF().toDF("ts", "value")
    // same translation the dialect produces: native window + watermark
    val agg = df.withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("n"))
    val q = Sinks.memory(agg, "late_out", OutputMode.Append())
    try {
      def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      in.addData((ts(1, 0), 1.0), (ts(1, 30), 2.0))
      q.processAllAvailable()
      in.addData((ts(9, 0), 1.0)) // watermark -> 08:00, hour-1 window finalizes
      q.processAllAvailable()
      in.addData((ts(1, 45), 99.0)) // LATE: behind the watermark, must be dropped
      q.processAllAvailable()
      in.addData((ts(10, 0), 1.0))
      q.processAllAvailable()
      val rows = spark.table("late_out").collect()
        .map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
      // hour-1 window emitted once with 2 rows; the late row did not re-emit
      // or inflate it
      assert(rows("2024-01-01 01:00:00.0") == 2L)
    } finally q.stop()
  }

  test("dialect streaming session windows: [session N unit] on a live stream") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sess_dialect").toFile
    val w = new java.io.PrintWriter(new java.io.File(dir, "a.csv"))
    w.println("2024-01-01T01:00:00,u1,1.0")
    w.println("2024-01-01T01:05:00,u1,2.0") // same session (gap 10 min)
    w.println("2024-01-01T02:00:00,u1,4.0") // new session
    w.println("2024-01-01T01:02:00,u2,8.0") // parallel key
    w.close()
    val g = new GraftSession(spark, streaming = true)
    g.sql("create stream sessev (ts timestamp, k string, v double) source file('" + dir.getAbsolutePath + "')")
    val agg = g.sql("select w_start, w_end, k, count(*) as n, sum(v) as s " +
      "from sessev [session 10 min on ts partitioned on k] group by k")
    assert(agg.isStreaming)
    val q = Sinks.memory(agg, "sess_dialect_out", OutputMode.Complete())
    try {
      q.processAllAvailable()
      val rows = spark.table("sess_dialect_out").collect()
        .map(r => (r.getString(2), r.getTimestamp(0).toString) ->
          (r.getTimestamp(1).toString, r.getLong(3), r.getDouble(4))).toMap
      assert(rows(("u1", "2024-01-01 01:00:00.0")) == ("2024-01-01 01:15:00.0", 2L, 3.0))
      assert(rows(("u1", "2024-01-01 02:00:00.0")) == ("2024-01-01 02:10:00.0", 1L, 4.0))
      assert(rows(("u2", "2024-01-01 01:02:00.0")) == ("2024-01-01 01:12:00.0", 1L, 8.0))
      // global streaming session → clear error, not a cryptic Spark failure
      val err = intercept[Exception](
        g.sql("select w_start, count(*) as n from sessev [session 10 min on ts] group by w_start"))
      assert(err.getMessage.contains("partitioned on"))
    } finally q.stop()
  }

  test("streaming dedup: keep-first per key, watermark-bounded state") {
    import graft.streaming.{Dedup => SDedup}
    // unbounded-state exact dedup: duplicate keys across batches dropped
    val in = MemoryStream[(Long, String)](spark)
    val deduped = SDedup.exact(in.toDF().toDF("k", "v"), Seq("k"))
    val q = Sinks.memory(deduped, "dd_out", OutputMode.Append())
    try {
      in.addData((1L, "a"), (2L, "b"), (1L, "a2"))
      q.processAllAvailable()
      in.addData((2L, "b2"), (3L, "c"))
      q.processAllAvailable()
      val keys = spark.table("dd_out").collect().map(_.getLong(0)).sorted
      assert(keys.toSeq == Seq(1L, 2L, 3L), "one row per key across batches")
    } finally q.stop()

    // watermark-bounded dedup: duplicate within the delay dropped, state
    // evicted after the watermark passes
    val in2 = MemoryStream[(Long, java.sql.Timestamp)](spark)
    val deduped2 = SDedup.withinWatermark(
      in2.toDF().toDF("k", "ts"), Seq("k"), "ts", "10 minutes")
    val q2 = Sinks.memory(deduped2, "dd_wm_out", OutputMode.Append())
    try {
      def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      in2.addData((1L, ts(1, 0)), (1L, ts(1, 5)))   // dup within delay
      q2.processAllAvailable()
      in2.addData((9L, ts(3, 0)))                   // advances watermark far past key 1
      q2.processAllAvailable()
      in2.addData((1L, ts(3, 1)))                   // key 1 state evicted → re-admitted
      q2.processAllAvailable()
      val rows = spark.table("dd_wm_out").collect().map(_.getLong(0))
      assert(rows.count(_ == 1L) == 2, s"key 1 once per watermark era: ${rows.toSeq}")
      assert(rows.count(_ == 9L) == 1)
    } finally q2.stop()
  }

  test("checkpoint restart: dedup state + source offsets recover, sink stays exactly-once") {
    import graft.streaming.{Dedup => SDedup}
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val srcDir = tmp("restart_src_"); val outDir = tmp("restart_out_")
    val ckpt = tmp("restart_ckpt_")
    def ts(d: Int, h: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d $h%02d:00:00")
    val schema = Seq((1L, ts(1, 1))).toDF("k", "ts").schema
    new GraftSession(spark)
    def runPhase(): Unit = throughGraftCheckpoints(spark) {
      val in = spark.readStream.schema(schema).parquet(srcDir)
      val dd = SDedup.withinWatermark(in, Seq("k"), "ts", "365 days").select("k")
      val q = dd.writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    try {
      // phase 1: keys 1, 2 (2 dup); query checkpoints and "dies"
      Seq((1L, ts(1, 1)), (2L, ts(1, 2)), (2L, ts(1, 3)))
        .toDF("k", "ts").coalesce(1).write.mode("append").parquet(srcDir)
      runPhase()
      val mid = spark.read.parquet(outDir).collect().map(_.getLong(0)).sorted.toSeq
      assert(mid == Seq(1L, 2L), s"phase-1 output: $mid")
      // phase 2 appends: a CROSS-RESTART duplicate of key 1 (dropped only
      // if the state store was restored from the checkpoint) + new key 3
      Seq((1L, ts(2, 1)), (3L, ts(2, 2)))
        .toDF("k", "ts").coalesce(1).write.mode("append").parquet(srcDir)
      runPhase() // new query instance, same checkpoint
      val fin = spark.read.parquet(outDir).collect().map(_.getLong(0)).sorted.toSeq
      // exactly-once: phase-1 rows not re-committed, cross-restart dup
      // deduped, new key present — each key exactly once
      assert(fin == Seq(1L, 2L, 3L), s"post-restart output: $fin")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rm)
        f.delete(): Unit
      }
      Seq(srcDir, outDir, ckpt).foreach(d => rm(new java.io.File(d)))
    }
  }

  test("checkpoint restart: windowed AGGREGATION state recovers (append mode, watermark)") {
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val srcDir = tmp("restart_agg_src_"); val outDir = tmp("restart_agg_out_")
    val ckpt = tmp("restart_agg_ckpt_")
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val schema = Seq(("a", ts(1, 0))).toDF("k", "ts").schema
    new GraftSession(spark)
    def runPhase(): Unit = throughGraftCheckpoints(spark) {
      val in = spark.readStream.schema(schema).parquet(srcDir)
      val agg = in.withWatermark("ts", "0 seconds")
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start").as("w_start"), col("n"))
      val q = agg.writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    def sink(): Map[String, Long] = spark.read.parquet(outDir).collect()
      .map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
    try {
      // phase 1: hour-1 window fills (2 events); the 02:05 event advances
      // the watermark past it -> w1 emits, w2 stays OPEN with count 1 in
      // the state store; then the query "dies"
      Seq(("a", ts(1, 10)), ("a", ts(1, 20)), ("a", ts(2, 5)))
        .toDF("k", "ts").coalesce(1).write.mode("append").parquet(srcDir)
      runPhase()
      assert(sink() == Map("2024-01-01 01:00:00.0" -> 2L), sink().toString)
      // phase 2 appends another hour-2 event + an hour-3 event that closes
      // w2. The emitted w2 count must include BOTH phases' events — only
      // possible if the in-flight window state was restored — and w1 must
      // not re-emit (no double commit)
      Seq(("a", ts(2, 30)), ("a", ts(3, 10)))
        .toDF("k", "ts").coalesce(1).write.mode("append").parquet(srcDir)
      runPhase()
      assert(sink() == Map(
        "2024-01-01 01:00:00.0" -> 2L,
        "2024-01-01 02:00:00.0" -> 2L), sink().toString)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rm)
        f.delete(): Unit
      }
      Seq(srcDir, outDir, ckpt).foreach(d => rm(new java.io.File(d)))
    }
  }

  test("RocksDB state store: stateful dedup + checkpoint restart, same results off-heap") {
    // At 100 TB the HDFS-backed provider keeps every key's state in executor
    // HEAP; the RocksDB provider (bundled rocksdbjni) spills state to local
    // disk with bounded block-cache memory. The engine's stateful plans must
    // run unchanged on it — provider choice is config, not code.
    import graft.streaming.{Dedup => SDedup}
    val rocks = spark.newSession() // session-scoped conf: no cross-suite leak
    rocks.conf.set(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    rocks.conf.set("spark.sql.shuffle.partitions", "4")
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val srcDir = tmp("rocks_src_"); val outDir = tmp("rocks_out_")
    val ckpt = tmp("rocks_ckpt_")
    def ts(d: Int, h: Int) = java.sql.Timestamp.valueOf(f"2024-01-$d%02d $h%02d:00:00")
    val schema = Seq((1L, ts(1, 1))).toDF("k", "ts").schema
    new GraftSession(rocks)
    def runPhase(): Unit = throughGraftCheckpoints(rocks) {
      val in = rocks.readStream.schema(schema).parquet(srcDir)
      val dd = SDedup.withinWatermark(in, Seq("k"), "ts", "365 days").select("k")
      val q = dd.writeStream.format("parquet")
        .option("path", outDir).option("checkpointLocation", ckpt)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    try {
      Seq((1L, ts(1, 1)), (2L, ts(1, 2)), (2L, ts(1, 3)))
        .toDF("k", "ts").coalesce(1).write.mode("append").parquet(srcDir)
      runPhase()
      // the provider really is RocksDB: its checkpoints are zip/changelog
      // files, not the HDFS provider's .delta files
      def stateFiles = {
        val b = new scala.collection.mutable.ArrayBuffer[String]
        def walk(f: java.io.File): Unit = {
          if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(walk)
          else b += f.getName
        }
        walk(new java.io.File(ckpt, "state")); b.toSeq
      }
      assert(stateFiles.exists(n => n.endsWith(".zip") || n.endsWith(".changelog")),
        s"expected RocksDB checkpoint files, saw: ${stateFiles.take(8)}")
      assert(!stateFiles.exists(_.endsWith(".delta")), "HDFS provider files present")
      // cross-restart dup of key 1 dropped only via restored RocksDB state
      Seq((1L, ts(2, 1)), (3L, ts(2, 2)))
        .toDF("k", "ts").coalesce(1).write.mode("append").parquet(srcDir)
      runPhase()
      val fin = spark.read.parquet(outDir).collect().map(_.getLong(0)).sorted.toSeq
      assert(fin == Seq(1L, 2L, 3L), s"post-restart output: $fin")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rm)
        f.delete(): Unit
      }
      Seq(srcDir, outDir, ckpt).foreach(d => rm(new java.io.File(d)))
    }
  }

  test("idempotent publish: replayed batch ids, torn writes, uncommitted reads") {
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val outDir = tmp("pub_out_")
    try {
      val b0 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      // first publish writes; re-publishing the SAME batch id (the
      // crash-between-publish-and-commit replay) is a no-op
      assert(Sinks.publishBatch(b0, outDir, 0L))
      assert(!Sinks.publishBatch(b0, outDir, 0L))
      assert(spark.read.parquet(s"$outDir/batch=0").count() == 2)
      // torn write: data present but NO marker (crash mid-write) — the
      // replay must overwrite the whole directory, not append to it
      Seq((9L, "junk"), (10L, "junk"), (11L, "junk")).toDF("id", "v")
        .write.mode("overwrite").parquet(s"$outDir/batch=1")
      val b1 = Seq((3L, "c")).toDF("id", "v")
      assert(Sinks.publishBatch(b1, outDir, 1L))
      assert(spark.read.parquet(s"$outDir/batch=1").collect()
        .map(_.getLong(0)).toSeq == Seq(3L))
      // readCommitted: a torn batch dir without a marker is invisible
      Seq((99L, "torn")).toDF("id", "v")
        .write.mode("overwrite").parquet(s"$outDir/batch=2")
      val seen = Sinks.readCommitted(spark, outDir)
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(seen == Seq(1L, 2L, 3L), s"committed rows: $seen")
      // a reader polling BEFORE any commit sees an empty-but-valid view,
      // not a crash: schema from the caller, or inferred from torn files
      val pre = tmp("pub_pre_")
      val empty = Sinks.readCommitted(spark, pre, Some(b0.schema))
      assert(empty.isEmpty && empty.schema == b0.schema)
      Seq((7L, "torn")).toDF("id", "v")
        .write.mode("overwrite").parquet(s"$pre/batch=0")
      val inferred = Sinks.readCommitted(spark, pre)
      assert(inferred.isEmpty && inferred.schema.fieldNames.toSeq == Seq("id", "v"))
      // hard failure is reserved for a missing outDir / nothing to infer
      intercept[IllegalArgumentException](
        Sinks.readCommitted(spark, s"$outDir/does_not_exist"))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rm)
        f.delete(): Unit
      }
      rm(new java.io.File(outDir))
    }
  }

  test("idempotentServe: per-batch transform published exactly-once") {
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val srcDir = tmp("srv_src_"); val outDir = tmp("srv_out_"); val ckpt = tmp("srv_ck_")
    try {
      val input = Seq((1L, 2.0), (2L, 3.0), (3L, 5.0), (4L, 7.0)).toDF("id", "x")
      input.repartition(2).write.mode("overwrite").parquet(srcDir)
      val in = spark.readStream.schema(input.schema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir) // 2 micro-batches
      val q = Sinks.idempotentServe(in, outDir, ckpt,
        b => b.select(col("id"), (col("x") * 10).as("served")))
      try q.awaitTermination() finally { q.stop(); () }
      Sinks.awaitDeregistered(q)
      val got = Sinks.readCommitted(spark, outDir)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq
      assert(got == Seq((1L, 20.0), (2L, 30.0), (3L, 50.0), (4L, 70.0)))
      // ≥2 committed batch dirs (the transform ran per micro-batch)
      val dirs = Option(new java.io.File(outDir).listFiles())
        .getOrElse(Array.empty[java.io.File]).count(_.getName.startsWith("batch="))
      assert(dirs >= 2, s"expected >=2 batch dirs, got $dirs")
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rm)
        f.delete(): Unit
      }
      Seq(srcDir, outDir, ckpt).foreach(p => rm(new java.io.File(p)))
    }
  }

  test("content-addressed curation ops run on live streams (narrow filters)") {
    // mixture and splitByHash are pure filters/projections of the key —
    // no state, no shuffle — so the same operators curate streams as-is;
    // content addressing means a row keeps the SAME fate in batch and in
    // streaming replays (exactly-once friendly).
    val in = MemoryStream[(Long, String)](spark)
    val mixed = graft.operators.Sampling.mixture(
      in.toDF().toDF("doc_id", "src"), "src", "doc_id",
      Map("keepall" -> 1.0, "half" -> 0.5), seed = 7L)
    val split = graft.operators.Sampling.splitByHash(mixed, "doc_id", testPercent = 10)
    val q = Sinks.memory(split, "mix_out", OutputMode.Append())
    try {
      val rows = (1L to 100L).map(i => (i, if (i % 2 == 0) "keepall" else "half")) ++
        (101L to 110L).map(i => (i, "dropme"))
      in.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("mix_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      assert(got.count(_._2 == "keepall") == 50, "weight-1.0 source keeps every row")
      assert(!got.exists(_._2 == "dropme"), "unlisted source vanishes")
      val halfN = got.count(_._2 == "half")
      assert(halfN > 10 && halfN < 40, s"weight-0.5 in binomial range, got $halfN")
      // batch replay of the same data = identical membership AND split
      val batch = graft.operators.Sampling.splitByHash(
        graft.operators.Sampling.mixture(
          rows.toDF("doc_id", "src"), "src", "doc_id",
          Map("keepall" -> 1.0, "half" -> 0.5), seed = 7L),
        "doc_id", testPercent = 10)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      assert(got.sortBy(_._1).toSeq == batch.sortBy(_._1).toSeq,
        "stream and batch agree row-for-row (content addressing)")
    } finally q.stop()
  }

  test("epochExpand runs on live streams; batch replay agrees row-for-row") {
    // the explode is stateless and the fractional draw content-addressed,
    // so streaming ingest produces the same expansion as a batch rebuild
    val in = MemoryStream[(Long, String)](spark)
    val expanded = graft.operators.Sampling.epochExpand(
      in.toDF().toDF("doc_id", "src"), "src", "doc_id",
      Map("dbl" -> 2.0, "frac" -> 0.4))
    val q = Sinks.memory(expanded, "epoch_out", OutputMode.Append())
    try {
      val rows = (1L to 50L).map(i => (i, if (i % 2 == 0) "dbl" else "frac"))
      in.addData(rows: _*)
      q.processAllAvailable()
      val got = spark.table("epoch_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      assert(got.count(_._2 == "dbl") == 50, "2.0 epochs = every row twice")
      val fracN = got.count(_._2 == "frac")
      assert(fracN > 0 && fracN < 25, s"0.4 epochs keeps a strict subset, got $fracN")
      val batch = graft.operators.Sampling.epochExpand(
        rows.toDF("doc_id", "src"), "src", "doc_id",
        Map("dbl" -> 2.0, "frac" -> 0.4))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      assert(got.sortBy(x => (x._1, x._3)).toSeq == batch.sortBy(x => (x._1, x._3)).toSeq,
        "stream and batch agree row-for-row")
    } finally q.stop()
  }

  test("W6 streaming: stream-stream windowed join through the dialect") {
    def writeCsv(lines: String*): java.io.File = {
      val dir = java.nio.file.Files.createTempDirectory("graft_ssj").toFile
      val w = new java.io.PrintWriter(new java.io.File(dir, "a.csv"))
      lines.foreach(w.println); w.close(); dir
    }
    val d1 = writeCsv("2024-01-01T01:10:00,x,1.0", "2024-01-01T02:10:00,x,2.0")
    val d2 = writeCsv("2024-01-01T01:20:00,x,5.0", "2024-01-01T03:00:00,x,9.0")
    val g = new GraftSession(spark, streaming = true)
    g.sql("create stream ssj1 (ts timestamp, k string, v double) source file('" + d1.getAbsolutePath + "')")
    g.sql("create stream ssj2 (ts timestamp, k string, w double) source file('" + d2.getAbsolutePath + "')")
    val j = g.sql(
      "select a.k as k, a.v as v, b.w as w " +
      "from ssj1 [size 1 h on ts] as a join ssj2 [size 1 h on ts] as b on a.k = b.k")
    assert(j.isStreaming, "windowed join over two streams must stay a streaming plan")
    val q = Sinks.memory(j, "ssj_out", OutputMode.Append())
    try {
      q.processAllAvailable()
      val rows = spark.table("ssj_out").collect()
        .map(r => (r.getString(0), r.getDouble(1), r.getDouble(2)))
      // only the hour-1 pair is co-windowed; hour-2 a-row and hour-3 b-row
      // have no partner in their buckets
      assert(rows.toSeq == Seq(("x", 1.0, 5.0)))
    } finally q.stop()
  }

  /** Result of [[replayJoin]]: streamed and batch rows, the final
    * watermark and the join's state rows after the last micro-batch. */
  private case class JoinReplay(streamed: Seq[Seq[String]], batch: Seq[Seq[String]],
      watermark: java.sql.Timestamp, stateRows: Long)

  /** Replays `fsql` (`%1$s`, `%2$s`: the two streams, each with columns
    * ts, k, v) over two file streams, one pair of CSV files per batch, and
    * evaluates the same text in batch over the same files. */
  private def replayJoin(name: String, fsql: String,
      batches: Seq[(Seq[String], Seq[String])]): JoinReplay = {
    import java.nio.file.{Files, StandardCopyOption}
    val dirs = Seq("a", "b").map(side => Files.createTempDirectory(s"graft_${name}_$side").toFile)
    def create(g: GraftSession): Unit = dirs.zip(Seq("a", "b")).foreach { case (d, side) =>
      g.sql(s"create stream ${name}_$side (ts timestamp, k string, v double) " +
        s"source file('${d.getAbsolutePath}')")
    }
    val text = fsql.format(s"${name}_a", s"${name}_b")
    val g = new GraftSession(spark, streaming = true)
    create(g)
    val q = Sinks.memory(g.sql(text), s"${name}_out", OutputMode.Append())
    val (wm, stateRows) = try {
      batches.zipWithIndex.foreach { case ((as, bs), i) =>
        dirs.zip(Seq(as, bs)).foreach { case (d, lines) =>
          // a file stream must never list a half-written file
          val tmp = Files.createTempFile("graft_drop", ".csv")
          Files.write(tmp, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
          Files.move(tmp, new java.io.File(d, f"part-$i%03d.csv").toPath,
            StandardCopyOption.ATOMIC_MOVE)
        }
        q.processAllAvailable()
      }
      val p = q.lastProgress
      (java.sql.Timestamp.from(java.time.Instant.parse(p.eventTime.get("watermark"))),
        p.stateOperators.head.numRowsTotal)
    } finally q.stop()
    def cells(rows: Array[org.apache.spark.sql.Row]): Seq[Seq[String]] =
      rows.map(_.toSeq.map(String.valueOf)).toSeq.sortBy(_.mkString("|"))
    val streamed = cells(spark.table(s"${name}_out").collect())
    spark.sql(s"drop view if exists ${name}_out")
    val b = new GraftSession(spark)
    create(b)
    JoinReplay(streamed, cells(b.sql(text).collect()), wm, stateRows)
  }

  /** `n` rows per hour from `fromH` (inclusive) to `toH` (exclusive) of
    * 2024-01-01, starting `offsetMin` into each step, keys x and y in turn. */
  private def hourRows(fromH: Int, toH: Int, n: Int, offsetMin: Int): Seq[String] =
    for (h <- fromH until toH; i <- 0 until n) yield {
      val m = offsetMin + i * (60 / n)
      f"2024-01-01T$h%02d:$m%02d:00,${if (i % 2 == 0) "x" else "y"},${h * 100 + i}.0"
    }

  /** Rows whose window `[start, end)` has `end` (column `endAt`) at or
    * below the watermark: no later on-time row can change them. */
  private def closedBy(rows: Seq[Seq[String]], endAt: Int, wm: java.sql.Timestamp): Seq[Seq[String]] =
    rows.filter(r => !java.sql.Timestamp.valueOf(r(endAt)).after(wm))

  test("W6 streaming join evicts state once the watermark closes its windows") {
    // three batches of three hours each; both sides use the 1 h window
    val batches = (0 until 3).map(b => (hourRows(3 * b, 3 * b + 3, 6, 0), hourRows(3 * b, 3 * b + 3, 4, 5)))
    val r = replayJoin("ssj_evict",
      "select a.w_start as w_start, a.w_end as w_end, a.k as k, a.v as v, b.v as w " +
        "from %1$s [size 1 h on ts] as a join %2$s [size 1 h on ts] as b on a.k = b.k",
      batches)
    val input = batches.flatMap { case (as, bs) => as ++ bs }
    val hour = 3600L * 1000
    val openRows = input.count { l =>
      val t = java.time.LocalDateTime.parse(l.takeWhile(_ != ','))
        .toInstant(java.time.ZoneOffset.UTC).toEpochMilli
      t - Math.floorMod(t, hour) + hour > r.watermark.getTime
    }
    // Spark keeps the rows newer than (watermark - 1 h); the last row of each
    // side sits at hh:50, so those are exactly the rows of open windows
    info(s"${input.size} input rows, ${r.stateRows} in state, $openRows in open windows")
    assert(r.stateRows < input.size, s"join kept all ${input.size} input rows")
    assert(r.stateRows <= openRows,
      s"join keeps ${r.stateRows} rows; windows still open hold $openRows (watermark ${r.watermark})")
    val closed = closedBy(r.streamed, 1, r.watermark)
    assert(closed.nonEmpty && closed == closedBy(r.batch, 1, r.watermark))
  }

  test("W6 streaming join across window sizes and a sliding side matches batch") {
    val batches = (0 until 3).map(b => (hourRows(4 * b, 4 * b + 4, 4, 0), hourRows(4 * b, 4 * b + 4, 3, 10)))
    // equal starts pair a 1 h window with the 2 h window that shares its
    // start: a key on the whole window (start and end) would pair nothing
    Seq("[size 2 h on ts]", "[size 2 h on ts every 30 min]").foreach { spec =>
      val r = replayJoin("ssj_mixed",
        "select a.w_start as w_start, b.w_end as w_end, a.k as k, a.v as v, b.v as w " +
          s"from %1$$s [size 1 h on ts] as a join %2$$s $spec as b on a.k = b.k",
        batches)
      val closed = closedBy(r.streamed, 1, r.watermark)
      assert(closed.nonEmpty, s"$spec: no closed window (watermark ${r.watermark})")
      assert(closed == closedBy(r.batch, 1, r.watermark), spec)
    }
  }

  test("W6 streaming LEFT join emits unmatched rows once the watermark evicts them") {
    // b has no rows in hours 1 and 4, so a's rows there pair with nothing
    val gaps = Set("2024-01-01T01", "2024-01-01T04")
    val batches = (0 until 3).map(b => (hourRows(3 * b, 3 * b + 3, 4, 0),
      hourRows(3 * b, 3 * b + 3, 3, 10).filterNot(l => gaps(l.take(13)))))
    val r = replayJoin("ssj_left",
      "select a.w_start as w_start, a.w_end as w_end, a.k as k, a.v as v, b.v as w " +
        "from %1$s [size 1 h on ts] as a left join %2$s [size 1 h on ts] as b on a.k = b.k",
      batches)
    // an unmatched row is emitted when it leaves the join state, one window
    // size after its window closed
    val evicted = new java.sql.Timestamp(r.watermark.getTime - 3600L * 1000)
    val done = closedBy(r.streamed, 1, evicted)
    assert(done.count(_(4) == "null") == 8, s"unmatched rows: ${done.filter(_(4) == "null")}")
    assert(done == closedBy(r.batch, 1, evicted))
  }

  test("IntervalJoin.streaming: live stream-stream join within the time bound") {
    val inL = MemoryStream[(java.sql.Timestamp, String, Long)](spark)
    val inR = MemoryStream[(java.sql.Timestamp, String, Long)](spark)
    val l = inL.toDF().toDF("l_ts", "k", "l_id")
    val r = inR.toDF().toDF("r_ts", "k", "r_id")
    // r matches l when r_ts ∈ [l_ts - 10 min, l_ts]
    val j = graft.operators.IntervalJoin.streaming(
      l, r, Seq("k"), "l_ts", "r_ts",
      beforeUs = 600000000L, afterUs = 0L, watermarkDelay = "0 seconds")
    assert(j.isStreaming)
    val q = Sinks.memory(j.select("l_id", "r_id"), "ivj_out", OutputMode.Append())
    try {
      def ts(m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 01:$m%02d:00")
      inL.addData((ts(20), "x", 1L), (ts(40), "x", 2L))
      inR.addData((ts(15), "x", 10L), // within 10 min of l1 only
        (ts(35), "x", 11L),           // within 10 min of l2 only
        (ts(25), "x", 12L),           // AFTER l1 (no match: after bound 0), before l2 by 15 min (out)
        (ts(5), "y", 13L))            // wrong key
      q.processAllAvailable()
      val rows = spark.table("ivj_out").collect()
        .map(x => (x.getLong(0), x.getLong(1))).sorted
      assert(rows.toSeq == Seq((1L, 10L), (2L, 11L)))
    } finally q.stop()
  }

  test("streaming GraftSession: file stream source reads and aggregates") {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toFile
    val f = new java.io.File(dir, "in.csv")
    val w = new java.io.PrintWriter(f)
    w.println("1,3.5"); w.println("2,4.5"); w.close()
    val g = new GraftSession(spark, streaming = true)
    g.sql("create stream s (id long, v double) source file('" + dir.getAbsolutePath + "')")
    val sdf = g.catalog.relation("s")
    assert(sdf.isStreaming)
    val q = Sinks.memory(sdf.groupBy().agg(sum("v").as("t")), "fs_out", OutputMode.Complete())
    try {
      q.processAllAvailable()
      assert(spark.table("fs_out").collect().head.getDouble(0) == 8.0)
    } finally { q.stop(); f.delete(); dir.delete() }
  }
}
