package graft.gates

import graft.GraftSession
import graft.operators._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.streaming.StreamingRelationV2
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import Duck._
import Family._
import Harness._

/** The gates that start a streaming query. */
object StreamGates {

  /** File-backed one-batch stream replay: write the bounded frame to a
    * temp parquet dir and `readStream` it back. Unlike a MemoryStream
    * feed, rows never collect to the driver and never ride inside task
    * binaries (the old collect+addData feed made 21 MB tasks on the
    * sfsynth1 sweep) — executors read the files directly, exactly like a
    * production object-store stream source. Every file pre-exists at
    * `start()`, so the source replays everything in ONE micro-batch, the
    * same semantics as the pre-start `addData` block it replaces. NOT
    * for arrival-ORDER-sensitive replays (count windows): a file split
    * does not contractually preserve row order — those keep the
    * single-partition MemoryStream feed. */
  private def replayStream(s: SparkSession, df: DataFrame): DataFrame = {
    val dir = tempDir("graft_replay_")
    // r15 opt: the file stream source parallelizes BY FILE, so a one-file
    // replay runs its whole micro-batch (the per-row apply kernels this
    // harness exists to exercise) as one task on one core — measured 4.8 s
    // of x109's 7.3 s. Spread the landing files across the cluster; a
    // replay that is already multi-file keeps its layout. Row order across
    // files is not preserved, which is exactly replayStream's documented
    // contract (order-sensitive replays use MemoryStream instead).
    val want = s.sparkContext.defaultParallelism
    val spread = if (df.rdd.getNumPartitions * 2 >= want) df
                 else df.repartition(want)
    spread.write.mode("overwrite").parquet(dir)
    s.readStream.schema(df.schema).parquet(dir)
  }

  /** The one stream lifecycle of the gate harness: start `df`, drain it
    * with `processAllAvailable`, stop it, and return its output as a batch
    * frame. `spark.sql.shuffle.partitions` = `parts` (a one-batch replay:
    * few state stores beat many) and `confs` hold only around `start()`
    * (the query captures them there) and are then restored. Append mode
    * writes the parquet file sink under `out`'s (dir, checkpoint), fresh
    * temp dirs by default, so rows stay on the executors; it is read back
    * with the stream's own schema, so no inference job runs. Complete
    * mode, which the file sink cannot write, and a stream fed from a
    * MemoryStream, whose rows are on the driver already (the file sink
    * would only add its write, log and read-back), go to a uniquely
    * named memory sink that is copied out before `stop()` and whose view
    * is dropped after. Nothing is left behind: no temp view, no changed
    * conf. */
  private def drain(s: SparkSession, df: DataFrame, gate: String,
                    mode: OutputMode = OutputMode.Append(), parts: Int = 4,
                    confs: Map[String, String] = Map.empty,
                    out: Option[(String, String)] = None): DataFrame = {
    val fromDriver = df.queryExecution.logical.collectLeaves().exists {
      case r: StreamingRelationV2 => r.sourceName == "memory"
      case _ => false
    }
    val toFiles = mode == OutputMode.Append() && !fromDriver
    val sink = s"${gate}_sink_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val (dir, ckpt) = out.getOrElse(
      if (toFiles) (tempDir(s"${gate}_out_"), tempDir(s"${gate}_ckpt_")) else (null, null))
    val set = confs + ("spark.sql.shuffle.partitions" -> parts.toString)
    val saved = set.keys.map(k => k -> s.conf.getOption(k)).toMap
    val q = try {
      set.foreach { case (k, v) => s.conf.set(k, v) }
      if (toFiles) graft.streaming.Sinks.parquet(df, dir, ckpt, Trigger.ProcessingTime(0L))
      else graft.streaming.Sinks.memory(df, sink, mode)
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
    try {
      try {
        q.processAllAvailable()
        if (toFiles) s.read.schema(df.schema).parquet(dir)
        else { // copied out, because its view is dropped below
          val t = s.table(sink)
          s.createDataFrame(java.util.Arrays.asList(t.collect(): _*), t.schema)
        }
      } finally q.stop()
    } finally { if (!toFiles) s.catalog.dropTempView(sink); () }
  }

  /** The parquet-parity ending: (n, stream_matches_batch) for a drained
    * stream against its frozen batch output, compared in one action. */
  private def parityRow(s: SparkSession, got: DataFrame, batchOut: DataFrame,
                        nCol: String): DataFrame = {
    import s.implicits._
    val (n, same) = parityOneAction(got, batchOut)
    Seq((n, if (n > 0 && same) 1 else 0)).toDF(nCol, "stream_matches_batch")
  }

  /** Count-window stream ≡ batch parity (size 9; `slide` rows apart, or
    * tumbling at 0, CountWindow.assign's convention):
    * the thinned event subset replays in on-field order through the
    * stateful streaming counter (CountWindow.assign); per-row w_id
    * assignments must equal the batch dialect's row_number chunking.
    * Count windows are arrival-ORDER-sensitive, so this replay keeps the
    * single-partition MemoryStream feed (one pre-start block = one
    * ordered batch) instead of the file-backed replayStream — a file
    * split does not contractually preserve row order. The feed is the
    * thinned %20 subset, so the driver round-trip stays bounded. */
  private def countWindowStream(s: SparkSession, d: String, gate: String,
                                slide: Int): DataFrame = {
    import s.implicits._
    val g = GraftSession.forDir(s, d)
    val every = if (slide > 0) s" every $slide" else ""
    val batch = g.sql(
        "select event_id as id, w_id from " +
        "(select * from events where event_id % 20 = 0) as e " +
        s"[size 9$every on event_id partitioned on event_type]")
    val rows = g.catalog.relation("events")
      .where(col("event_id") % 20 === 0)
      .select(col("event_id"), col("event_type"))
      .orderBy("event_id") // arrival order = batch's `on`-field order
      .collect().map(r => (r.getLong(0), r.getString(1))).toIndexedSeq
    val in = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)](s)
    val assigned = graft.streaming.CountWindow.assign(
      in.toDF().toDF("id", "event_type"), 9, Seq("event_type"), slide)
    in.addData(rows: _*) // one block → one partition → stable order
    val (got, want) =
      longPairs(drain(s, assigned.select(col("id"), col("w_id")), gate), batch)
    Seq((want.length.toLong, if (got == want && got.nonEmpty) 1 else 0))
      .toDF("n_rows", "stream_matches_batch")
  }

  /** Sorted (got, want) pairs of two long columns from ONE action: the
    * drained stream's output joins the batch plan's last stage, so the
    * compare costs the batch side's own jobs and no more. */
  private def longPairs(got: DataFrame,
                        want: DataFrame): (Seq[(Long, Long)], Seq[(Long, Long)]) = {
    def tagged(df: DataFrame, side: Boolean) =
      df.select(df.columns.take(2).map(col) :+ lit(side).as("__got"): _*)
    val (g, w) = tagged(got, true).union(tagged(want, false)).collect()
      .partition(_.getBoolean(2))
    def sorted(rows: Array[org.apache.spark.sql.Row]) =
      rows.map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    (sorted(g), sorted(w))
  }

  /** Query batches stream in; each micro-batch is served from the shared
    * `codec` layout (per-batch literal probe-bucket pruning: only the
    * probed bucket directories are read) and published exactly-once via
    * the x83 idempotent sink. Committed output ≡ one batch serve of the
    * same queries (top-k is per qid, so micro-batch boundaries cannot
    * change any result). */
  private def annServeStream(s: SparkSession, d: String, gate: String,
                             codec: IvfIndex.Codec): DataFrame = {
    import s.implicits._
    val dir = ivfIndexFixture(s, d, codec) // read-only here
    val queries = emb(s, d).localCheckpoint().where(col("vec_id") < 40)
      .select("vec_id", "embedding").localCheckpoint()
    val serve = (b: DataFrame) =>
      IvfIndex.topK(s, dir, b, k = 5, nprobe = 4, shortlist = 25)
    val batchOut = serve(queries).localCheckpoint()
    val srcDir = tempDir(s"${gate}_src_")
    val outDir = tempDir(s"${gate}_out_")
    val ckpt = tempDir(s"${gate}_ckpt_")
    queries.repartition(4).write.mode("overwrite").parquet(srcDir)
    val in = s.readStream.schema(queries.schema)
      .option("maxFilesPerTrigger", "2").parquet(srcDir) // ≥2 micro-batches
    val q = graft.streaming.Sinks.idempotentServe(in, outDir, ckpt, serve)
    try q.awaitTermination() finally { q.stop(); () }
    graft.streaming.Sinks.awaitDeregistered(q)
    val got = graft.streaming.Sinks.readCommitted(s, outDir)
    val (_, eq) = parityOneAction(got, batchOut)
    Seq((queries.count(), if (eq) 1 else 0))
      .toDF("n_queries", "stream_matches_batch")
  }

  val all: Seq[Gate] = Seq(
    // ---- q117: the SOCKET source (S3) driven hermetically — a local
    // ephemeral TCP server feeds the dir's nation rows as CSV lines, a
    // streaming session declares the stream over host/port, and the
    // parsed rows are hash-checked against the SAME parquet table via
    // DuckDB: the last §2 row that had no driver gate ----
    // It polls its memory sink instead of calling `drain`: a socket
    // source never reports that it is finished, so `processAllAvailable`
    // can return before every row has arrived.
    Gate("q117_socket_source", Stream,
      // q117: the socket-fed rows ARE the nation table — full row/hash
      // recompute from the same parquet (the strongest oracle form)
      "SELECT n_nationkey AS k, n_name AS name FROM nation ORDER BY k",
      (s, d) => {
      val nation = g(s, d).catalog.relation("nation")
        .select(org.apache.spark.sql.functions.col("n_nationkey").cast("long"),
          org.apache.spark.sql.functions.col("n_name"))
        .orderBy("n_nationkey")
        .collect().map(r => (r.getLong(0), r.getString(1)))
      val server = new java.net.ServerSocket(0)
      val port = server.getLocalPort
      val feeder = new Thread(() => {
        try {
          val sock = server.accept()
          val w = new java.io.PrintWriter(sock.getOutputStream)
          nation.foreach { case (k, n) => w.println(s"$k,$n") }
          w.flush()
          Thread.sleep(20000) // hold the socket open while the stream reads
          sock.close()
        } catch { case _: Throwable => () }
      })
      feeder.setDaemon(true)
      feeder.start()
      val gs = new GraftSession(s, streaming = true)
      gs.sql(s"create stream socknat (k long, name string) source host('localhost', $port)")
      val df = gs.catalog.relation("socknat")
      val sink = s"q117_sock_${System.nanoTime()}"
      val q = graft.streaming.Sinks.memory(df, sink,
        org.apache.spark.sql.streaming.OutputMode.Append())
      try {
        val deadline = System.currentTimeMillis() + 60000
        var done = false
        while (!done && System.currentTimeMillis() < deadline) {
          q.processAllAvailable()
          done = s.table(sink).count() >= nation.length
          if (!done) Thread.sleep(200)
        }
      } finally { q.stop(); server.close() }
      try s.table(sink)
        .select(org.apache.spark.sql.functions.col("k"),
          org.apache.spark.sql.functions.col("name"))
        .orderBy("k").localCheckpoint()
      finally { s.catalog.dropTempView(sink); () }
    }),
    // ---- streaming ≡ batch parity for paragraph dedup (x60's streaming
    // half, same shape as x51): hot-key model precomputed, the SAME
    // corpus replays through the per-row stream filter; flags assert
    // md5-exact agreement with the two-pass batch paragraphDedup ----
    Gate("x64_paragraph_dedup_stream", Stream, "SELECT CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(1 AS INTEGER) AS stream_matches_batch FROM documents",
      (s, d) => {
      // localCheckpoint: consumed three times (batch dedup, hot model,
      // stream feed)
      val injected = docs(s, d).select(col("doc_id"),
        concat(
          when(col("doc_id") % 2 === 0, lit("Accept all cookies to continue."))
            .otherwise(lit("ACCEPT ALL, COOKIES -- to continue!")),
          lit("\n\n"),
          regexp_replace(col("text"), "((?:\\S+ ){12})", "$1\n\n"),
          lit("\n\nShare this article on social media.")).as("text"))
        .localCheckpoint()
      // hot model trained ONCE (r16 opt), frozen, and shared by the batch
      // dedup and the per-micro-batch streaming apply
      val hot = Dedup.hotParagraphs(injected, "text", "doc_id", minDocFreq = 5L)
        .localCheckpoint()
      val batchOut = Dedup.paragraphDedupWith(injected, "text", "doc_id", hot)
        .select(col("doc_id"), col("n_kept"), col("n_removed"),
          md5(col("cleaned")).as("h"))
        .localCheckpoint()
      val in = replayStream(s, injected.select("doc_id", "text"))
      val streamed = Dedup.applyParagraphDedup(in, "text", "doc_id", hot)
        .select(col("doc_id"), col("n_kept"), col("n_removed"),
          md5(col("cleaned")).as("h"))
      parityRow(s, drain(s, streamed, "x64"), batchOut, "n_docs")
    }),
    // ---- streaming exact dedup (watermark-bounded state): the events
    // stream replays file-backed through dropDuplicatesWithinWatermark;
    // dedup keys carry no payload columns, so ANY first-arrival winner is
    // the same row and the one-micro-batch result is exactly the DISTINCT
    // key set — hash-matched against DuckDB's SELECT DISTINCT. Watermark
    // EVICTION semantics (late-duplicate re-admission) are covered by
    // StreamingSpec's two-batch test; this gate pins the keep-first
    // output contract at data scale with rows never touching the driver
    // until the final bounded collect ----
    Gate("x58_stream_dedup", Stream, "SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type",
      (s, d) => {
      val ev = GraftSession.forDir(s, d).catalog.relation("events")
      val in = replayStream(s, ev.select("user_id", "event_type", "ts"))
      val deduped = graft.streaming.Dedup.withinWatermark(
        in, Seq("user_id", "event_type"), "ts", "1 hour")
      drain(s, deduped.select(col("user_id"), col("event_type")), "x58")
        .orderBy("user_id", "event_type")
    }),
    // ---- streaming URL dedup (r12): the x114 canonicalize-then-dedup
    // hygiene on a STREAM — normalization is a stateless codegen
    // projection riding in front of the watermark-bounded exact-dedup
    // state (the x58 discipline); the surviving key set is ONE canonical
    // URL per 3-variant family, and the canonical STRINGS themselves are
    // leader arithmetic the oracle rebuilds ----
    Gate("x118_url_dedup_stream", Stream,
      // x118: the surviving key set is the canonical URL of each
      // 3-variant family — rebuilt string-for-string from leader
      // arithmetic (d = doc_id - doc_id % 3)
      "WITH l AS (SELECT DISTINCT doc_id - doc_id % 3 AS d FROM documents) " +
      "SELECT (CASE WHEN d % 2 = 0 THEN 'https' ELSE 'http' END) || '://' || " +
      "(CASE WHEN d % 8 = 0 THEN 'blog.' ELSE '' END) || " +
      "'site' || CAST(d % 37 AS VARCHAR) || '.' || " +
      "(CASE d % 5 WHEN 0 THEN 'com' WHEN 1 THEN 'org' WHEN 2 THEN 'co.uk' " +
      "WHEN 3 THEN 'net' ELSE 'ac.jp' END) || " +
      "'/p/' || CAST(d % 11 AS VARCHAR) || " +
      "(CASE WHEN d % 6 <= 2 THEN '?q=' || CAST(d % 13 AS VARCHAR) ELSE '' END) " +
      "AS url_norm FROM l ORDER BY url_norm",
      (s, d) => {
      val leader = col("doc_id") - col("doc_id") % 3
      val canon = UrlCuration.synthCanonicalUrl(leader)
      val url = when(col("doc_id") % 3 === 0, canon)
        .when(col("doc_id") % 3 === 1,
          concat(regexp_replace(canon, "://", "://www."),
            lit("#v"), col("doc_id").cast("string")))
        .otherwise(when(instr(canon, "?") > 0,
            concat(canon, lit("&utm_campaign=y")))
          .otherwise(concat(canon, lit("?utm_source=x"))))
      val in0 = docs(s, d).select(col("doc_id"), url.as("url"),
        lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("ts"))
      val in = replayStream(s, in0)
        .withColumn("url_norm", UrlCuration.normalizeUrl(col("url")))
      val deduped = graft.streaming.Dedup.withinWatermark(
        in, Seq("url_norm"), "ts", "1 hour")
      drain(s, deduped.select(col("url_norm")), "x118").orderBy("url_norm")
    }),
    // ---- streaming unigram apply parity (r14): the x88 file-replay
    // discipline for the SECOND tokenizer family — segmentation + token
    // id tables frozen batch-side (model-sized), every micro-batch row
    // encodes through stream-static joins only, md5-exact per-doc token
    // stream vs the batch operator ----
    Gate("x128_unigram_stream", Stream,
      // x128: stream ≡ batch parity flag (not DuckDB-expressible); n_docs
      // = docs with at least one [a-z]+ word, recomputed exactly
      "SELECT CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(1 AS INTEGER) AS stream_matches_batch FROM documents " +
      "WHERE len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), " +
      "w -> w <> '')) > 0",
      (s, d) => {
      val dd = docs(s, d).localCheckpoint()
      val model = Subwords.Unigram(
        Subwords.unigramTrain(Subwords.vocab(dd, "text", "doc_id"), vocabSize = 512, iters = 3))
      val (seg0, ids0) = Subwords.encodeTables(dd, "text", "doc_id", model)
      val seg = seg0.localCheckpoint(); val ids = ids0.localCheckpoint()
      def digest(enc: org.apache.spark.sql.DataFrame) = enc.groupBy(col("id"))
        .agg(count(lit(1)).as("n_tokens"),
          md5(concat_ws(" ", transform(
            array_sort(collect_list(struct(col("wpos"), col("tpos"),
              col("token_id")))),
            e => e.getField("token_id").cast("string")))).as("h"))
      val batchOut = digest(
        Subwords.encodeWith(dd, "text", "doc_id", seg, ids))
        .localCheckpoint()
      val in = replayStream(s, dd.select("doc_id", "text").repartition(32))
      val streamed = Subwords.encodeWith(in, "text", "doc_id", seg, ids)
      parityRow(s, digest(drain(s, streamed, "x128")), batchOut, "n_docs")
    }),
    // ---- streaming RESTART RECOVERY (r9): checkpointed writeStream over
    // a two-phase file replay — phase 1 processes the first half of the
    // timeline, the query STOPS (simulated failure), a NEW query restarts
    // from the SAME checkpoint and processes the appended second half.
    // Every one of the 750 distinct keys occurs in BOTH halves, so the
    // exactly-once contract is fully load-bearing: a lost state store
    // would emit ~2× rows (cross-phase duplicates re-admitted), a
    // double-committed batch would duplicate phase-1 output — either
    // breaks the hash against DuckDB's SELECT DISTINCT over the full
    // input. Watermark delay exceeds the replayed timeline, so eviction
    // never interferes with the recovery semantics under test (eviction
    // itself is x58/StreamingSpec territory) ----
    Gate("x81_restart_recovery", Stream,
      // exactly-once across the kill/restart: the parquet sink after BOTH
      // phases must hold each key exactly once — the plain DISTINCT of
      // the full input, nothing doubled, nothing lost
      "SELECT DISTINCT user_id, event_type FROM events ORDER BY user_id, event_type",
      (s, d) => {
      val ev = GraftSession.forDir(s, d).catalog.relation("events")
        .select(col("user_id"), col("event_type"), col("ts"))
      val srcDir = tempDir("x81_src_")
      val outDir = tempDir("x81_out_")
      val ckpt = tempDir("x81_ckpt_")
      val cut = lit("2024-01-16 00:00:00").cast("timestamp")
      def runPhase(): DataFrame = {
        val in = s.readStream.schema(ev.schema).parquet(srcDir)
        drain(s, graft.streaming.Dedup.withinWatermark(
            in, Seq("user_id", "event_type"), "ts", "400 days")
          .select(col("user_id"), col("event_type")), "x81",
          out = Some((outDir, ckpt)))
      }
      ev.where(col("ts") < cut).coalesce(2).write.mode("append").parquet(srcDir)
      runPhase() // phase 1: first half, checkpoint written, query "dies"
      ev.where(col("ts") >= cut).coalesce(2).write.mode("append").parquet(srcDir)
      // RESTART from the checkpoint: offsets + dedup state restored
      runPhase().orderBy("user_id", "event_type")
    }),
    // ---- idempotent foreachBatch publish (r9): exactly-once WITHOUT the
    // file sink's _spark_metadata log (that driver-side compaction log is
    // itself the bottleneck at 100 TB — see Sinks.idempotentParquet).
    // The replay is forced through multiple micro-batches
    // (maxFilesPerTrigger=1); after phase 1 the NEWEST entry in the
    // checkpoint's commits/ log is DELETED (a crash in the window between
    // sink publish and checkpoint commit), so the restart re-executes
    // that batch — same id, same data. Without the commit-marker skip in
    // publishBatch the replayed batch doubles its rows and breaks the
    // hash; a lost offsets log would double everything. readCommitted
    // reads back exactly the committed batch dirs. ----
    Gate("x83_stream_publish", Stream,
      // exactly-once publish across the injected commit-lag crash: the
      // committed batch dirs after both phases hold every doc exactly
      // once — the replayed batch id must NOT double its rows
      "SELECT doc_id, lang, n_chars FROM documents ORDER BY doc_id",
      (s, d) => {
      val docsDf = GraftSession.forDir(s, d).catalog.relation("documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val srcDir = tempDir("x83_src_")
      val outDir = tempDir("x83_out_")
      val ckpt = tempDir("x83_ckpt_")
      def runPhase(): Unit = {
        val in = s.readStream.schema(docsDf.schema)
          .option("maxFilesPerTrigger", "1").parquet(srcDir)
        val q = graft.streaming.Sinks.idempotentParquet(in, outDir, ckpt)
        // stop() joins the execution thread — awaitTermination alone can
        // return before the query deregisters, racing the next phase
        try q.awaitTermination() finally { q.stop(); () }
        graft.streaming.Sinks.awaitDeregistered(q)
      }
      docsDf.where(col("doc_id") % 2 === 0)
        .repartition(2).write.mode("append").parquet(srcDir)
      runPhase() // phase 1: ≥2 batches published and committed
      // crash between sink publish and checkpoint commit: drop the newest
      // commits/ entry — the restart MUST replay that batch id
      val commitsDir = new java.io.File(ckpt, "commits")
      val entries = Option(commitsDir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.nonEmpty && f.getName.forall(_.isDigit))
      require(entries.length >= 2, s"expected >=2 committed batches, got ${entries.length}")
      val newest = entries.maxBy(_.getName.toLong)
      // drop the Hadoop checksum sidecar too: a stale .N.crc makes the
      // local FS reject the re-commit of the replayed batch
      new java.io.File(commitsDir, s".${newest.getName}.crc").delete(): Unit
      newest.delete(): Unit
      docsDf.where(col("doc_id") % 2 =!= 0)
        .repartition(2).write.mode("append").parquet(srcDir)
      runPhase() // restart: replays the uncommitted batch, then the rest
      graft.streaming.Sinks.readCommitted(s, outDir).orderBy("doc_id")
    }),
    // ---- streaming span excision (r9): the x87 transformation applied
    // STATELESS on a stream — hot-span model precomputed batch-side
    // (broadcast sorted hashes), each streamed doc excises its own
    // intervals row-at-a-time; md5-exact parity vs the batch operator,
    // same contract as x51/x64's hot-set streaming dedups ----
    Gate("x88_span_dedup_stream", Stream,
      // x88: the parity flag IS the assertion (batch side is x87's
      // fully-oracled operator); the oracle pins doc count + flag
      "SELECT CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(1 AS INTEGER) AS stream_matches_batch FROM documents",
      (s, d) => {
      val injected = docs(s, d).select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(col("text"),
            lit(" the quick brown fox jumps over the lazy dog tonight")))
          .otherwise(col("text")).as("text"))
        .localCheckpoint()
      // localCheckpoint: the hot model is re-read per micro-batch and by
      // the parity check — freeze it, don't replan the gram pipeline.
      // Trained ONCE and shared with the batch side (r16 opt): the batch
      // excision previously re-ran the same gram explode + doc-frequency
      // aggregation internally.
      val hot = Dedup.hotSpans(injected, "text", "doc_id",
          spanWords = 8, minDocFreq = 2L)
        .localCheckpoint()
      val batchOut = Dedup.exciseSharedSpansWith(injected, "text", "doc_id",
          hot, spanWords = 8)
        .select(col("id"), col("n_words"), col("n_removed"),
          md5(col("cleaned")).as("h"))
        .localCheckpoint()
      // repartition the replay: the docs table is ONE parquet file, and
      // the file stream source parallelizes by file — without the spread
      // the whole micro-batch (per-row interval filters included) runs
      // as a single task on one core
      val in = replayStream(s, injected.select("doc_id", "text").repartition(32))
      val streamed = Dedup.applySpanExcision(in, "text", "doc_id", hot,
          spanWords = 8)
        .select(col("id"), col("n_words"), col("n_removed"),
          md5(col("cleaned")).as("h"))
      parityRow(s, drain(s, streamed, "x88"), batchOut, "n_docs")
    }),
    // streaming ANN serve: the production retrieval pipeline E2E, one
    // gate per codec over the shared x90 / x101 / x117 layouts (see
    // annServeStream) — Flat (r9), IVF-PQ's pruned ADC shortlist + exact
    // re-rank (r11), IVF+SQ8's int8 buckets (r12)
    Gate("x91_ann_serve_stream", Stream,
      // x91: stream≡batch parity IS the assertion (the batch side is the
      // x90-gated serve); the oracle pins the query count + flag
      "SELECT count(*) AS n_queries, CAST(1 AS INTEGER) AS stream_matches_batch " +
      "FROM embeddings WHERE vec_id < 40",
      (s, d) => annServeStream(s, d, "x91", IvfIndex.Flat)),
    Gate("x103_ivfpq_serve_stream", Stream,
      // x103: same parity-flag form — the streamed IVF-PQ serve must
      // equal the batch IvfIndex.topK result exactly
      "SELECT count(*) AS n_queries, CAST(1 AS INTEGER) AS stream_matches_batch " +
      "FROM embeddings WHERE vec_id < 40",
      (s, d) => annServeStream(s, d, "x103", IvfIndex.Pq())),
    Gate("x120_ivfsq8_serve_stream", Stream,
      // x120: same parity contract on the SQ8 tier
      "SELECT count(*) AS n_queries, CAST(1 AS INTEGER) AS stream_matches_batch " +
      "FROM embeddings WHERE vec_id < 40",
      (s, d) => annServeStream(s, d, "x120", IvfIndex.Sq8)),
    // ---- streaming ≡ batch parity for line dedup: the hot-line model is
    // precomputed (hotLines), then the SAME corpus replays through the
    // per-row streaming filter (applyLineDedup over MemoryStream); flags
    // assert md5-exact agreement with the two-pass batch lineDedup ----
    Gate("x51_line_dedup_stream", Stream,
      // stream≡batch parity gates: the cross-mode equality itself is not
      // DuckDB-expressible (contract flag), but the corpus size / exact
      // pair count are recomputed independently
      "SELECT CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(1 AS INTEGER) AS stream_matches_batch FROM documents",
      (s, d) => {
      // localCheckpoint: the regexp-injected frame is consumed three times
      // (batch dedup, hot-line model, stream feed)
      val injected = docs(s, d).select(col("doc_id"),
        concat(col("source"), lit(" | COMMON SITE HEADER\ncookie notice: accept all\n"),
          regexp_replace(col("text"), "((?:\\S+ ){8})", "$1\n")).as("text"))
        .localCheckpoint()
      // hot model trained ONCE (r16 opt), frozen, and shared by the batch
      // dedup and the per-micro-batch streaming apply
      val hot = Dedup.hotLines(injected, "text", "doc_id", minDocFreq = 5L)
        .localCheckpoint()
      val batchOut = Dedup.lineDedupWith(injected, "text", "doc_id", hot)
        .select(col("doc_id"), col("n_kept"), col("n_removed"),
          md5(col("cleaned")).as("h"))
        .localCheckpoint()
      // file-backed replay + parquet sink: rows stream executor-side both
      // ways; the driver only ever sees the two aggregate counts below
      val in = replayStream(s, injected.select("doc_id", "text"))
      val streamed = Dedup.applyLineDedup(in, "text", "doc_id", hot)
        .select(col("doc_id"), col("n_kept"), col("n_removed"),
          md5(col("cleaned")).as("h"))
      // doc_id is unique per side, so equal counts + empty set diffs
      // == exact multiset equality, computed distributed
      parityRow(s, drain(s, streamed, "x51"), batchOut, "n_docs")
    }),
    // ---- streaming ≡ batch parity for the interval join: the same event
    // subsets replay through IntervalJoin.streaming (native stream-stream
    // join); the pair set must equal the bucketized batch plan's ----
    Gate("x52_interval_join_stream", Stream,
      "WITH l AS (SELECT event_id AS l_id, event_type, CAST(ts AS TIMESTAMP) AS l_ts " +
      "FROM events WHERE event_id % 200 = 0), " +
      "r AS (SELECT event_id AS r_id, event_type, CAST(ts AS TIMESTAMP) AS r_ts " +
      "FROM events WHERE event_id % 200 <> 0 AND event_id % 25 = 1) " +
      "SELECT CAST(count(*) AS BIGINT) AS n_pairs, " +
      "CAST(1 AS INTEGER) AS stream_matches_batch FROM l JOIN r " +
      "ON l.event_type = r.event_type " +
      "AND r.r_ts BETWEEN l.l_ts - INTERVAL 6 HOUR AND l.l_ts",
      (s, d) => {
      import s.implicits._
      val ev = GraftSession.forDir(s, d).catalog.relation("events")
      // parity needs representative replay, not full volume (x42 gates the
      // batch op at full size): right side thinned 5× keeps the gate fast
      // thin hard: the join key (event_type) has 5 distinct values, so every
      // right row scans its whole per-key left state — replay cost is
      // |L/key|·|R|, not |L|+|R|; x42 gates the batch op at full volume
      // localCheckpoint: each side is read twice (batch join + stream feed)
      val l = ev.where(col("event_id") % 200 === 0)
        .select(col("event_id").as("l_id"), col("event_type"), col("ts").as("l_ts"))
        .localCheckpoint()
      val r = ev.where(col("event_id") % 200 =!= 0 && col("event_id") % 25 === 1)
        .select(col("event_id").as("r_id"), col("event_type"), col("ts").as("r_ts"))
        .localCheckpoint()
      val batch = IntervalJoin.join(l, r, Seq("event_type"), "l_ts", "r_ts",
          beforeUs = 21600000000L, afterUs = 0L)
        .select(col("l_id"), col("r_id"))
      // file-backed replay (order-insensitive join): no driver collect,
      // no data in task binaries; all files pre-exist => one micro-batch
      val js = IntervalJoin.streaming(
        replayStream(s, l), replayStream(s, r),
        Seq("event_type"), "l_ts", "r_ts",
        beforeUs = 21600000000L, afterUs = 0L, watermarkDelay = "0 seconds")
      // state-store count per micro-batch = shuffle partitions: 2 stores;
      // the replay is one batch, so skip the trailing watermark-only batch
      val (got, want) = longPairs(drain(s, js.select(col("l_id"), col("r_id")),
          "x52", parts = 2,
          confs = Map("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")),
        batch)
      // no nonEmpty guard: if the BATCH op legitimately yields zero
      // pairs (tiny sf), an empty stream result is CORRECT. A broken
      // stream returning nothing while batch has pairs still fails the
      // equality, and the oracle independently pins n_pairs.
      val eq = got == want
      Seq((want.length.toLong, if (eq) 1 else 0))
        .toDF("n_pairs", "stream_matches_batch")
    }),
    // ---- streaming ≡ batch parity for count windows (W2) ----
    Gate("x55_count_window_stream", Stream,
      // parity flags: the oracle pins the row/session counts (real data
      // dependence) and the parity bit must be 1
      "SELECT CAST(count(*) AS BIGINT) AS n_rows, " +
      "CAST(1 AS INTEGER) AS stream_matches_batch " +
      "FROM events WHERE event_id % 20 = 0",
      (s, d) => countWindowStream(s, d, "x55", 0)),
    // ---- streaming ≡ batch parity for SLIDING count windows (r11):
    // slide 4 < size 9, so every row lands in up to 3 overlapping
    // windows — the stateful counter must emit the SAME (row, w_id)
    // multiset as the batch row_number explode ----
    Gate("x106_count_window_sliding_stream", Stream,
      // x106: the oracle recomputes the exploded (row, w_id) count —
      // each of the N rows lands in (r+9)//4 - r//4 windows — and the
      // parity bit must be 1
      "SELECT CAST(SUM((r + 9) // 4 - r // 4) AS BIGINT) AS n_rows, " +
      "CAST(1 AS INTEGER) AS stream_matches_batch FROM " +
      "(SELECT (row_number() OVER (PARTITION BY event_type ORDER BY event_id) - 1) AS r " +
      "FROM events WHERE event_id % 20 = 0)",
      (s, d) => countWindowStream(s, d, "x106", 4)),
    // ---- streaming ≡ batch parity for session windows: the same subset
    // replays through the native session_window streaming aggregation
    // (Sessions.aggregate, the documented streaming path); per-session
    // (key, w_start, w_end, count) must equal the batch dialect's
    // gap-split window plan ----
    Gate("x56_session_window_stream", Stream, "WITH e AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts FROM events " +
      "WHERE event_id % 20 = 0), " +
      "d AS (SELECT event_type, ts, CASE WHEN ts - lag(ts) OVER " +
      "(PARTITION BY event_type ORDER BY ts) > INTERVAL 60 MINUTE " +
      "OR lag(ts) OVER (PARTITION BY event_type ORDER BY ts) IS NULL " +
      "THEN 1 ELSE 0 END AS brk FROM e), " +
      "sid AS (SELECT event_type, ts, SUM(brk) OVER (PARTITION BY event_type " +
      "ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sess FROM d) " +
      "SELECT CAST(count(*) AS BIGINT) AS n_sessions, " +
      "CAST(1 AS INTEGER) AS stream_matches_batch " +
      "FROM (SELECT event_type, sess FROM sid GROUP BY event_type, sess)",
      (s, d) => {
      import s.implicits._
      val g = GraftSession.forDir(s, d)
      val batch = g.sql(
          "select w_start, w_end, event_type as k, count(*) as n from " +
          "(select * from events where event_id % 20 = 0) as e " +
          "[session 60 min on ts partitioned on event_type] " +
          "group by w_start, w_end, event_type")
        .collect()
        .map(r => (r.getString(2), r.getTimestamp(0).getTime,
          r.getTimestamp(1).getTime, r.getLong(3))).sorted
      // file-backed replay (session aggregation is arrival-order-
      // insensitive within the single replay batch): no driver collect
      val in = replayStream(s, g.catalog.relation("events")
        .where(col("event_id") % 20 === 0)
        .select(col("ts"), col("event_type").as("k")))
      val sessioned = graft.streaming.Sessions.aggregate(
        in, "ts", "3600 seconds", Seq("k"),
        (count(lit(1)).as("n"), Nil))
      // complete mode: emit every session without waiting on the watermark
      val got = drain(s, sessioned, "x56", mode = OutputMode.Complete()).collect()
        .map(r => (r.getString(2), r.getTimestamp(0).getTime,
          r.getTimestamp(1).getTime, r.getLong(3))).sorted
      val eq = got.toSeq == batch.toSeq && got.nonEmpty
      Seq((batch.length.toLong, if (eq) 1 else 0))
        .toDF("n_sessions", "stream_matches_batch")
    }),
    // ---- streaming ≡ batch parity for GAP windows (r11): `every` >
    // `size` through the DIALECT on a real stream — rows in gaps drop,
    // starts align to `every`, w_end = w_start + size. The streamed side
    // is the translator's own streaming plan (tumble-by-every + offset
    // filter), not a hand-built operator, so this pins the FSQL surface ----
    Gate("x102_gap_window_stream", Stream,
      // gap windows: the oracle recomputes the distinct surviving window
      // starts (rows in the second day of each 2-day period are in NO
      // window) and the parity bit must be 1
      "SELECT CAST(count(*) AS BIGINT) AS n_windows, " +
      "CAST(1 AS INTEGER) AS stream_matches_batch FROM (" +
      "SELECT DISTINCT (epoch_us(CAST(ts AS TIMESTAMP)) // 172800000000) AS w " +
      "FROM events WHERE event_id % 20 = 0 " +
      "AND epoch_us(CAST(ts AS TIMESTAMP)) % 172800000000 < 86400000000)",
      (s, d) => {
      import s.implicits._
      val g = GraftSession.forDir(s, d)
      val fsql = "select w_start, w_end, count(*) as n, " +
        "round(sum(value), 4) as v from %s [size 1 d on ts every 2 d] " +
        "group by w_start, w_end"
      val batch = g.sql(fsql.format(
          "(select * from events where event_id % 20 = 0) as e"))
        .collect().map(r => (r.getTimestamp(0).getTime,
          r.getTimestamp(1).getTime, r.getLong(2), r.getDouble(3))).sorted
      // file-backed replay through a streaming session: the subset lands
      // on parquet and the dialect's CREATE STREAM file source reads it
      val dir = tempDir("x102_feed_") + "/feed.parquet"
      g.catalog.relation("events")
        .where(col("event_id") % 20 === 0)
        .select(col("ts"), col("value"))
        .write.mode("overwrite").parquet(dir)
      val gs = new GraftSession(s, streaming = true)
      gs.sql(s"create stream gapev (ts timestamp, value double) source file('$dir')")
      val streamed = gs.sql(fsql.format("gapev"))
      assert(streamed.isStreaming, "x102 must exercise the streaming plan")
      // complete mode: emit every window without waiting on the watermark
      val got = drain(s, streamed, "x102", mode = OutputMode.Complete()).collect()
        .map(r => (r.getTimestamp(0).getTime,
          r.getTimestamp(1).getTime, r.getLong(2), r.getDouble(3))).sorted
      val eq = got.toSeq == batch.toSeq && got.nonEmpty
      Seq((batch.length.toLong, if (eq) 1 else 0))
        .toDF("n_windows", "stream_matches_batch")
    }),
    // ---- STREAMING decontamination (r11): the x20 removal as a
    // stateless stream filter — benchmark shingle hashes broadcast as one
    // sorted array, each arriving doc probes with the codegen binary
    // search; surviving-id parity with the batch `clean` composition ----
    Gate("x109_decontaminate_stream", Stream,
      // x109: the x20 gram recompute flipped to the SURVIVOR count (train
      // docs with zero benchmark-shingle hits) + the parity bit
      "WITH d AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws FROM documents), " +
      "g AS (SELECT doc_id, CASE WHEN len(ws) < 3 THEN [array_to_string(ws,' ')] " +
      "ELSE list_distinct([array_to_string(ws[i:i+2],' ') for i in range(1, len(ws)-1)]) END AS grams FROM d), " +
      "b AS (SELECT DISTINCT unnest(grams) AS sh FROM g WHERE doc_id % 97 = 0), " +
      "t AS (SELECT doc_id, unnest(grams) AS sh FROM g WHERE doc_id % 97 <> 0), " +
      "f AS (SELECT DISTINCT t.doc_id FROM t JOIN b USING (sh)) " +
      "SELECT CAST((SELECT count(*) FROM d WHERE doc_id % 97 <> 0) - " +
      "(SELECT count(*) FROM f) AS BIGINT) AS n_clean, " +
      "CAST(1 AS INTEGER) AS stream_matches_batch",
      (s, d) => {
      import s.implicits._
      val dd = docs(s, d).localCheckpoint()
      val train = dd.where(col("doc_id") % 97 =!= 0)
      val bench = dd.where(col("doc_id") % 97 === 0)
      val batchIds = Decontaminate.clean(train, bench, "text", "doc_id",
          w = 3, minHits = 1)
        .select(col("doc_id")).collect().map(_.getLong(0)).sorted
      val hot = Decontaminate.benchShingleHashes(bench, "text", "doc_id",
        w = 3).localCheckpoint()
      val in = replayStream(s, train.select("doc_id", "text"))
      val streamed = Decontaminate.applyClean(in, "text", "doc_id", hot,
        w = 3, minHits = 1).select("doc_id")
      val got = drain(s, streamed, "x109").collect().map(_.getLong(0)).sorted
      val eq = got.nonEmpty && got.toSeq == batchIds.toSeq
      Seq((batchIds.length.toLong, if (eq) 1 else 0))
        .toDF("n_clean", "stream_matches_batch")
    }),
    // ---- streaming DSIR: model offline (bounded bucket table), scores
    // applied per-row on a file-replayed stream — stateless, no shuffle.
    // The STREAMED scores hash-match the same DuckDB oracle as batch
    // x71 (sorted fold ⇒ bit-identical), the strongest parity form ----
    Gate("x73_dsir_stream", Stream,
      // the streamed scores must equal the batch oracle bit-for-bit
      duckDsirScores + " ORDER BY id",
      (s, d) => {
      val dd = docs(s, d)
      val model = Importance.dsirModel(dd, "text", "doc_id",
        isTarget = col("source") === "src0", buckets = 256)
      val in = replayStream(s, dd.select("doc_id", "text"))
      drain(s, Importance.applyDsirScore(in, "text", "doc_id", model, 256), "x73")
        .orderBy("id")
    })
  )
}
