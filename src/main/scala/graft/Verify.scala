package graft
import org.apache.spark.sql.{DataFrame, SparkSession}
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** The session the Verify and Bench mains run on:
    * `local[N]` with N = SPARK_GRAFT_CPUS, defaulting to the host's
    * available processors. */
  def localSession(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Local pre-flight and profiling convenience: SPARK_GRAFT_ONLY=q94,x44
    * selects the gates whose names start with a listed prefix (unset →
    * full run). A subset run says so on stdout and stderr, loud and
    * unmissable: it must never pass for a full one. */
  def selectedGates(tag: String): Map[String, (SparkSession, String) => DataFrame] =
    sys.env.get("SPARK_GRAFT_ONLY") match {
      case None => SparkEntry.queries
      case Some(s) =>
        val sub = SparkEntry.queries.filter { case (n, _) => s.split(",").exists(n.startsWith) }
        println(s"""{"SUBSET":true,"SPARK_GRAFT_ONLY":"$s","n_of":${SparkEntry.queries.size},"n_selected":${sub.size}}""")
        System.err.println(s"[$tag] *** SUBSET RUN: ${sub.size}/${SparkEntry.queries.size} queries (SPARK_GRAFT_ONLY=$s) ***")
        sub
    }

  // JSON string escape: backslash, quote, and ALL control chars (<0x20)
  // — a tab or CR in gate SQL would otherwise make oracle_sql.json
  // unparseable and silently skip the oracle compare.
  def q(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    require(args.length == 2, s"usage: Verify <sfDir> <outDir> (got ${args.length} args)")
    val Array(sfDir, outDir) = args
    val spark = localSession()
    new java.io.File(outDir).mkdirs()
    val selected = selectedGates("verify")
    var cleanupFailures = 0
    selected.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.toString}")
        e.printStackTrace()
        // delete any stale output from a previous run: a leftover parquet
        // would make the driver's compare read old (passing) results and
        // report a broken query as correct
        val stale = new java.io.File(s"$outDir/$name")
        if (stale.exists()) {
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
            f.delete()
          }
          rm(stale)
        }
      }
      // result fully written (or the query failed) — safe point to drop
      // operator-pinned RDDs so a 163-gate run cannot accumulate pinned
      // range-partitioned blocks across queries. Own try: a throwing
      // forDir (e.g. corrupt table file) must stay a PER-QUERY failure,
      // not abort the run before later gates and oracle_sql.json
      try GraftSession.forDir(spark, sfDir).releaseOperatorCaches()
      catch { case scala.util.control.NonFatal(e) =>
        cleanupFailures += 1
        System.err.println(s"[verify] $name cleanup FAILED: $e")
      }
    }
    if (cleanupFailures > 0)
      System.err.println(s"[verify] $cleanupFailures post-gate cleanup failure(s)")
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
