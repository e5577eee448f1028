package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.GraftSession

/** One FSQL query replayed over the `events` feed. `fsql` takes the stream
  * name as `%1$s`. `closedBy` names the column that must be at or below the
  * final watermark for a result row to be final (None: every row is final).
  * `sinkAgg` counts rows per key inside each micro-batch, for queries whose
  * raw output is too large to collect. */
final case class StreamQuery(kind: String, fsql: String, mode: String,
                             closedBy: Option[String], sinkAgg: Boolean = false)

object StreamQueries {
  val all: Seq[StreamQuery] = Seq(
    StreamQuery("tumbling",
      "select w_start, w_end, count(*) as n, round(sum(value), 4) as v " +
        "from %1$s [size 1 h on ts] group by w_start, w_end", "append", Some("w_end")),
    StreamQuery("sliding",
      "select w_start, w_end, count(*) as n, round(sum(value), 4) as v " +
        "from %1$s [size 2 h on ts every 30 min] group by w_start, w_end",
      "append", Some("w_end")),
    StreamQuery("session",
      "select w_start, w_end, user_id, count(*) as n, round(sum(value), 4) as v " +
        "from %1$s [session 30 min on ts partitioned on user_id] group by user_id",
      "append", Some("w_end")),
    StreamQuery("count",
      "select w_id, event_type as et, count(*) as n " +
        "from %1$s [size 100 on event_id partitioned on event_type] group by event_type",
      "update", None),
    StreamQuery("join",
      "select e1.w_start as w_start, e1.w_end as w_end, e1.event_type as et " +
        "from %1$s [size 1 h on ts] as e1 join %1$s [size 1 h on ts] as e2 " +
        "on e1.event_type = e2.event_type", "append", Some("w_end"), sinkAgg = true))
}

/** Replays the parquet files of `feedDir` into the source directory of a
  * streaming session, one file at a time: a file is dropped only after
  * every micro-batch the previous one caused (including the no-data batch
  * that emits closed windows) has finished. */
final class Replay(spark: SparkSession, data: String, feedDir: String,
                   work: String, q: StreamQuery, atEnd: Option[() => Unit]) {

  private def cell(v: Any): String = v match {
    case null => "<null>"
    case d: Double => java.lang.String.format(java.util.Locale.ROOT, "%.4f", Double.box(d))
    case other => other.toString
  }

  /** Final emitted rows as (row without its count) -> count. `counted`
    * rows carry their count in the last column; in update mode a later row
    * for the same window (all columns but `n`) replaces the earlier one. */
  private def accumulate(acc: mutable.Map[Seq[String], Long], rows: Array[Row],
                         counted: Boolean): Unit = rows.foreach { r =>
    val vals = r.toSeq.map(cell)
    if (counted) acc(vals.init) = acc.getOrElse(vals.init, 0L) + r.getLong(r.length - 1)
    else if (q.mode == "update") {
      val i = r.fieldIndex("n")
      acc(vals.patch(i, Nil, 1)) = r.getLong(i)
    } else acc(vals) = acc.getOrElse(vals, 0L) + 1
  }

  /** `expected`: where the batch evaluation of this query is cached (it
    * depends only on the input and the engine build), or None to skip the
    * output check. */
  def run(expected: Option[String]): Map[String, Any] = {
    val files = Option(new java.io.File(feedDir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    require(files.nonEmpty, s"no feed files in $feedDir")
    val src = Paths.get(work, "src.parquet")
    Files.createDirectories(src)
    val stage = Files.createDirectories(Paths.get(work, "stage"))
    val gs = new GraftSession(spark, streaming = true)
    val name = s"ev_${q.kind}"
    gs.sql(s"create stream $name (event_id long, ts timestamp, user_id long, " +
      s"event_type string, value double, props string) source file('$src')")
    val acc = mutable.Map.empty[Seq[String], Long]
    val tStart = Clock.now()
    val out = gs.sql(q.fsql.format(name))
    val cols = out.columns.toSeq
    val sink = (b: DataFrame, _: Long) => acc.synchronized {
      if (q.sinkAgg) accumulate(acc, b.groupBy(cols.map(b(_)): _*).count().collect(), true)
      else accumulate(acc, b.collect(), false)
    }
    val query = out.writeStream.outputMode(q.mode)
      .option("checkpointLocation", s"$work/checkpoint")
      .foreachBatch(sink).start()
    val (drops, watermark) = try {
      val drops = files.map { f =>
        val staged = Files.copy(f.toPath, stage.resolve(f.getName))
        val t0 = Clock.now()
        Files.move(staged, src.resolve(f.getName), StandardCopyOption.ATOMIC_MOVE)
        query.processAllAvailable()
        Map("file" -> f.getName, "t0" -> t0, "t1" -> Clock.now())
      }
      atEnd.foreach(_())
      (drops, Option(query.lastProgress).map(_.eventTime.get("watermark")).orNull)
    } finally query.stop()
    val tEnd = Clock.now()
    val (ok, detail) = expected.map(verify(acc, cols, watermark, _)).getOrElse((true, "unchecked"))
    Map("kind" -> q.kind, "start" -> tStart, "end" -> tEnd, "files" -> drops.toSeq,
      "watermark" -> watermark, "emitted" -> acc.values.sum, "ok" -> ok,
      "detail" -> detail, "check_ms" -> (Clock.now() - tEnd))
  }

  /** The batch FSQL evaluation of the replayed rows (all of `events`),
    * computed once per input and engine build. */
  private def batchResult(cols: Seq[String], cache: String): mutable.Map[Seq[String], Long] = {
    import org.apache.spark.sql.functions.col
    val file = new java.io.File(cache, s"${q.kind}.json")
    val want = mutable.Map.empty[Seq[String], Long]
    if (file.exists()) {
      Main.mapper.readValue(file, classOf[Array[Array[String]]])
        .foreach(r => want(r.init.toSeq) = r.last.toLong)
    } else {
      val batch = GraftSession.forDir(spark, data).sql(q.fsql.format("events"))
      if (q.sinkAgg)
        accumulate(want, batch.groupBy(cols.map(col): _*).count().collect(), true)
      else accumulate(want, batch.select(cols.map(col): _*).collect(), false)
      file.getParentFile.mkdirs()
      val tmp = new java.io.File(cache, s"${q.kind}.json.tmp")
      Main.mapper.writeValue(tmp, want.toSeq.map { case (k, n) => k :+ n.toString })
      Files.move(tmp.toPath, file.toPath, StandardCopyOption.ATOMIC_MOVE)
    }
    want
  }

  /** Emitted rows against the batch evaluation, both restricted to windows
    * the final watermark has closed. */
  private def verify(got: mutable.Map[Seq[String], Long], cols: Seq[String],
                     watermark: String, cache: String): (Boolean, String) = {
    val want = batchResult(cols, cache)
    val closed: Seq[String] => Boolean = (for (c <- q.closedBy; w <- Option(watermark)) yield {
      val i = cols.indexOf(c)
      val limit = java.sql.Timestamp.from(java.time.Instant.parse(w))
      (k: Seq[String]) => !java.sql.Timestamp.valueOf(k(i)).after(limit)
    }).getOrElse((_: Seq[String]) => true)
    val g = got.filter(kv => closed(kv._1))
    val w = want.filter(kv => closed(kv._1))
    val missing = w.keySet.diff(g.keySet).size
    val extra = g.keySet.diff(w.keySet).size
    val wrong = w.count { case (k, n) => g.get(k).exists(_ != n) }
    val ok = missing == 0 && extra == 0 && wrong == 0 && w.nonEmpty
    val detail = s"expected ${w.size} closed windows: $missing missing, " +
      s"$extra extra, $wrong miscounted"
    if (!ok) System.err.println(s"[perfbench] stream check ${q.kind}: $detail")
    (ok, detail)
  }
}
