package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val sf: String = "/root/testdata/sf0.001"

  lazy val session: GraftSession = GraftSession.forDir(spark, sf)

  /** Bytes written so far through graft's local checkpoint file system.
    * Hadoop keeps file-system statistics per class, so these are its own. */
  def graftCheckpointBytes(s: SparkSession): Long = {
    val raw = graft.streaming.LocalCheckpointFileManager
      .localFs(s.sessionState.newHadoopConf()).getRaw.getClass
    org.apache.hadoop.fs.FileSystem.getStatistics("file", raw).getBytesWritten
  }
}
