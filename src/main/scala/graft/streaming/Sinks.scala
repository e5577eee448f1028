package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/** Sink surface for streaming queries (SURVEY §2.1: the reference defines
  * no sinks beyond INSERT INTO — fsql/parser.scala:273-277; we standardize
  * on Structured Streaming writers with watermark-aware defaults).
  */
object Sinks {

  /** Console sink for interactive use. */
  def console(df: DataFrame, mode: OutputMode = OutputMode.Update()): StreamingQuery =
    df.writeStream.outputMode(mode).format("console").start()

  /** In-memory sink (named table) — the parity-test harness sink. */
  def memory(df: DataFrame, name: String,
             mode: OutputMode = OutputMode.Append()): StreamingQuery =
    df.writeStream.outputMode(mode).format("memory").queryName(name).start()

  /** Parquet file sink with checkpointing (exactly-once file output). */
  def parquet(df: DataFrame, path: String, checkpoint: String,
              trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    df.writeStream.outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .format("parquet").start(path)

  /** Publish one micro-batch under `outDir/batch=<id>` with a commit
    * marker, idempotently: a batch id whose marker already exists is
    * skipped (the replay-after-crash case), a batch id with data but NO
    * marker (crash mid-write) is overwritten whole. Returns true iff this
    * call wrote the batch. The `_COMMITTED` marker file is invisible to
    * parquet readers (underscore-prefixed paths are filtered by Spark's
    * file index), so a directory is only ever observed empty-or-complete.
    */
  def publishBatch(batch: DataFrame, outDir: String, batchId: Long): Boolean = {
    val dir = new org.apache.hadoop.fs.Path(outDir, s"batch=$batchId")
    val fs = dir.getFileSystem(
      batch.sparkSession.sessionState.newHadoopConf())
    val marker = new org.apache.hadoop.fs.Path(dir, "_COMMITTED")
    if (fs.exists(marker)) false
    else {
      batch.write.mode("overwrite").parquet(dir.toString)
      fs.create(marker, true).close()
      true
    }
  }

  /** Exactly-once parquet publish WITHOUT the built-in file sink's
    * `_spark_metadata` log. The file sink proves exactly-once by recording
    * every file it ever wrote in a driver-maintained compaction log that
    * readers must replay — at 100 TB (millions of files, months-long
    * queries) that log is itself the bottleneck: compactions pause the
    * stream and cold reads scan the whole log. foreachBatch + a per-batch
    * commit marker gets the same guarantee from the checkpoint's offset
    * log alone: the engine replays an uncommitted batch with the SAME
    * batch id and the SAME data, and [[publishBatch]] makes re-publishing
    * that id a no-op. Output is plain partitioned parquet — readers need
    * no sink-specific log, and the `batch=` layout partition-prunes
    * incremental consumers reading only batches they haven't seen.
    */
  def idempotentParquet(df: DataFrame, outDir: String, checkpoint: String,
                        trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    idempotentServe(df, outDir, checkpoint, identity, trigger)

  /** [[idempotentParquet]] with a per-batch TRANSFORM before the publish —
    * the online-serving shape: each micro-batch of requests is mapped
    * (e.g. ANN-served against a persisted index, scored against a
    * broadcast model) and the RESULT is published exactly-once. The
    * guarantee is unchanged: a replayed batch id re-serves the same
    * input rows and [[publishBatch]] skips the already-committed id, so
    * `serve` must be deterministic per batch (every serve path in this
    * library is). */
  def idempotentServe(df: DataFrame, outDir: String, checkpoint: String,
                      serve: DataFrame => DataFrame,
                      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    df.writeStream.outputMode(OutputMode.Append())
      .foreachBatch { (b: org.apache.spark.sql.Dataset[Row], id: Long) =>
        publishBatch(serve(b.toDF()), outDir, id); ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()

  /** Read back only COMMITTED batches from an [[idempotentParquet]] output
    * dir — uncommitted (crash-torn) batch directories are excluded, so a
    * reader running concurrently with the stream never sees a partial
    * batch. Returns rows without the `batch` partition column.
    *
    * A reader polling BEFORE the first commit is a valid state, not an
    * error: it gets an empty DataFrame, with the schema taken from
    * `schema` if given, else inferred from any (possibly torn) batch
    * directory's files. The hard failure is reserved for a missing
    * `outDir` (wrong path) or an empty-and-uninferable one with no
    * schema to answer with.
    */
  def readCommitted(spark: org.apache.spark.sql.SparkSession,
                    outDir: String,
                    schema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    val root = new org.apache.hadoop.fs.Path(outDir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(root), s"output dir $outDir does not exist")
    val dirs = fs.listStatus(root).filter(_.isDirectory)
    val committed = dirs.collect {
      case st if fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_COMMITTED")) =>
        st.getPath.toString
    }
    if (committed.nonEmpty) spark.read.parquet(committed.toIndexedSeq: _*)
    else {
      val s = schema.orElse(
        dirs.map(_.getPath.toString).sorted.collectFirst(Function.unlift { p =>
          scala.util.Try(spark.read.parquet(p).schema).toOption
        }))
      s match {
        case Some(st) =>
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], st)
        case None => throw new IllegalArgumentException(
          s"no committed or readable batches under $outDir and no schema " +
            "given — pass an expected schema for an empty-but-valid view")
      }
    }
  }

  /** Block (bounded) until `q` is deregistered from its session's active
    * list. `stop()` joins the execution thread but deregistration from
    * `streams.active` is asynchronous — gates that assert on the drained
    * state need this barrier. Scoped to THIS query's id (a query leaked
    * by unrelated code can't wedge the wait) and fails loudly at the
    * timeout instead of hanging the run. */
  def awaitDeregistered(q: StreamingQuery, timeoutMs: Long = 120000L): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (q.sparkSession.streams.active.exists(_.id == q.id)) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException(
          s"streaming query ${q.id} still registered after ${timeoutMs} ms")
      Thread.sleep(50)
    }
  }
}
