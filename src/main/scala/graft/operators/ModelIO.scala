package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persistence for the model artifacts. One-file text artifacts (BPE
  * merges, unigram vocabularies, DSIR log-ratio tables) are lines through
  * [[writeLines]]/[[readLines]]. The single-column "hot set" artifacts —
  * the broadcast-sized tables the streaming appliers probe (hot span gram
  * hashes, hot paragraph keys, benchmark shingle hashes) — are one parquet
  * directory per artifact, exactly one column with a pinned name and
  * type, so `CREATE MODEL` can validate the layout eagerly (the 'linear'
  * kind's discipline) and the registration content-hash covers the whole
  * set.
  *
  * These artifacts are MODEL-sized by contract (doc-freq-thresholded hot
  * sets / a benchmark's shingles — the appliers broadcast them), so a
  * save is one small parquet write, never a corpus landing.
  */
object ModelIO {

  /** Write `lines`, newline-joined (no trailing newline) as UTF-8, to the
    * file at `path`, replacing it — through the Hadoop filesystem, so the
    * artifact lands wherever the cluster's storage is. */
  def writeLines(spark: SparkSession, path: String, lines: Seq[String]): Unit = {
    val p = new Path(path)
    val out = p.getFileSystem(spark.sessionState.newHadoopConf()).create(p, true)
    try out.write(lines.mkString("\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** The non-empty lines of the file at `path`, in order. */
  def readLines(spark: SparkSession, path: String): Seq[String] = {
    val p = new Path(path)
    val in = p.getFileSystem(spark.sessionState.newHadoopConf()).open(p)
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    text.linesIterator.filter(_.nonEmpty).toSeq
  }

  /** Write `df`'s single value column to `path` as parquet under
    * `name` with `dataType`. Fails eagerly on a multi-column frame. */
  def saveColumnSet(df: DataFrame, path: String, name: String,
                    dataType: String): Unit = {
    require(df.columns.length == 1,
      s"expected a single-column set, got (${df.columns.mkString(", ")})")
    df.select(col(df.columns.head).cast(dataType).as(name))
      .write.mode("overwrite").parquet(path)
  }

  /** Load a [[saveColumnSet]] artifact, validating the (name, type)
    * layout — a wrong-kind artifact fails here, at registration/first
    * use, with a message naming what was found. */
  def loadColumnSet(spark: SparkSession, path: String, name: String,
                    dataType: String): DataFrame = {
    val df = spark.read.parquet(path)
    require(df.columns.length == 1 &&
        df.columns.head.equalsIgnoreCase(name),
      s"expected a single '$name' column, found (${df.columns.mkString(", ")})")
    val t = df.schema.head.dataType.typeName
    require(t == dataType,
      s"expected column '$name' of type $dataType, found $t")
    df.select(col(df.columns.head).as(name))
  }
}
