package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}

/** One benchmark run in one JVM: set up a session, run one workload's fixed
  * op list in a seeded order, and write the raw measurements as JSON. The
  * runner (run.py) turns them into metrics and checks the outputs.
  *
  * Usage: Main --workload <name> --seed <n> --trace <0|1> --cores <n> --data <dir> --feed <dir> --expected <dir>
  *             --work <dir> --out <file>
  *        Main --dump-oracles <file>   (the DuckDB oracle SQL of every gate)
  */
object Main {
  val SetupReps = 3
  val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    opt.get("dump-oracles") match {
      case Some(path) =>
        write(path, (Workloads.batch ++ Workloads.defects).flatMap { case (n, _) =>
          SparkEntry.oracleSql.get(n).map(n -> _) }.toMap)
      case None => run(opt)
    }
  }

  private def write(path: String, value: Any): Unit =
    mapper.writeValue(new java.io.File(path), value)

  private def run(opt: Map[String, String]): Unit = {
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = opt("work")
    // Set-up (session start and catalog registration) runs SetupReps
    // times, stopping the session in between; the runner reports the
    // median. Only the last session runs the workload.
    val setups = (1 to SetupReps).map { i =>
      val t0 = Clock.now()
      val spark = SparkSession.builder()
        .master(s"local[$cores]")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.local.dir", s"$work/local")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val tReg = Clock.now()
      GraftSession.forDir(spark, opt("data"))
      val t1 = Clock.now()
      if (i < SetupReps) spark.stop()
      (spark, t1 - t0, t1 - tReg)
    }
    val spark = setups.last._1
    val probe = if (traced) Some(new Probe(spark)) else None
    probe.foreach(_.install())
    val ctx = new Ctx(spark, opt("data"), opt("feed"), opt("expected"), work, seed)
    val tWarm = Clock.now()
    workload match {
      case "batch_gates" | "known_defects" => ctx.warmBatch()
      case "fsql_stream" => ctx.warmStream()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val warmMs = Clock.now() - tWarm
    val body = workload match {
      case "batch_gates" => ctx.batch(Workloads.batch)
      case "known_defects" => ctx.batch(Workloads.defects)
      case "fsql_stream" => ctx.stream()
    }
    write(opt("out"), body ++ Map(
      "workload" -> workload, "seed" -> seed, "cores" -> cores,
      "setup_ms" -> setups.map(_._2), "register_ms" -> setups.map(_._3),
      "warm_ms" -> warmMs,
      "live_heap_mb" -> ctx.heap.maxMb, "heap_samples_mb" -> ctx.heap.samplesMb.toSeq,
      "warmup_failures" -> ctx.warmFailures, "cleanup_failures" -> ctx.cleanFailures,
      "trace" -> probe.map(_.dump()).orNull))
    spark.stop()
  }
}

/** Driver heap occupancy right after full collections, taken at the end
  * of the batch op list and at the end of each stream replay, while its
  * state is still live. */
final class HeapSampler {
  val samplesMb = ArrayBuffer.empty[Double]
  def maxMb: Double = samplesMb.max
  def sample(): Unit = samplesMb += HeapSampler.settle()
}

object HeapSampler {
  private def usedMb: Double =
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

  /** Collects until the heap stops shrinking (at most 6 rounds) and returns
    * what is left in MB. Each round frees what Spark's cleaner released
    * after the one before (broadcast and shuffle blocks held through weak
    * references). */
  def settle(): Double = {
    var last = Double.MaxValue
    var used = 0.0
    var rounds = 0
    do {
      if (rounds > 0) { last = used; Thread.sleep(50) }
      System.gc()
      used = usedMb
      rounds += 1
    } while (last - used > 1.0 && rounds < 6)
    used
  }
}

final class Ctx(val spark: SparkSession, val data: String, feed: String,
                expected: String, work: String, seed: Long) {
  val heap = new HeapSampler
  var warmFailures = 0
  var cleanFailures = 0

  private def loud(kind: String, what: String, e: Throwable): Unit =
    System.err.println(s"[perfbench] $kind failed: $what: $e")

  private def warm(what: String)(f: => Unit): Unit =
    try f catch { case e: Throwable => warmFailures += 1; loud("warm-up", what, e) }

  private def release(): Unit =
    try GraftSession.forDir(spark, data).releaseOperatorCaches()
    catch { case e: Throwable => cleanFailures += 1; loud("cleanup", "release", e) }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Warm-up on work that is in no op list: dialect gates left out of the
    * sample (the first ops of a fresh JVM run about twice as slow as the
    * same ops later, so without them the seed's order would set the
    * figures), a text kernel and a vector kernel. It ends with full
    * collections, so the warm-up's garbage is not collected during the
    * first op. */
  def warmBatch(): Unit = {
    val g = GraftSession.forDir(spark, data)
    // written to parquet like the ops' results, so the write path is warm
    Workloads.warmup.foreach(n => warm(n)(
      SparkEntry.queries(n)(spark, data).write.mode("overwrite").parquet(s"$work/warm/$n")))
    warm("text kernel")(noop(graft.operators.Dedup.minhashSignatures(
      g.catalog.relation("documents").limit(50), "text", "doc_id")))
    warm("vector kernel") {
      val e = g.catalog.relation("embeddings").limit(50)
      noop(e.select(graft.expr.VectorOps.cosine(e("embedding"), e("embedding"))))
    }
    release()
    HeapSampler.settle()
  }

  /** One timed op: the gate call (construct) and the write of its result
    * to parquet (action). The written result is what the runner checks
    * against the gate's oracle, so each gate runs exactly once. */
  def batch(list: Seq[(String, String)]): Map[String, Any] = {
    val gates = SparkEntry.queries
    val g = GraftSession.forDir(spark, data)
    val ops = new Random(seed).shuffle(list).map { case (name, family) =>
      val before = g.timings
      val result = s"$work/results/$name"
      graft.CodegenGuard.reset()
      val t0 = Clock.now()
      var t1 = t0
      var error: String = null
      try {
        val df = gates(name)(spark, data)
        t1 = Clock.now()
        df.write.mode("overwrite").parquet(result)
      } catch { case e: Throwable => error = e.toString; loud("op", name, e) }
      val t2 = Clock.now()
      val fallbacks = graft.CodegenGuard.current
      val after = g.timings
      release()
      Map("name" -> name, "family" -> family,
        "t0" -> t0, "t1" -> t1, "t2" -> t2, "error" -> error, "result" -> result,
        "timings" -> (if (after eq before) null else after),
        "codegen_fallbacks" -> fallbacks)
    }
    heap.sample()
    Map("ops" -> ops)
  }

  /** Streaming warm-up: one small file through a tumbling FSQL query. */
  def warmStream(): Unit = {
    warm("stream") {
      new Replay(spark, data, s"$feed/warm", s"$work/warm", StreamQueries.all.head,
        None).run(expected = None)
    }
    HeapSampler.settle()
  }

  /** One replay of each of the five FSQL queries. */
  def stream(): Map[String, Any] = Map("replays" -> StreamQueries.all.map { q =>
    val t0 = Clock.now()
    try new Replay(spark, data, s"$feed/replay", s"$work/${q.kind}", q,
      Some(() => heap.sample())).run(Some(expected))
    catch { case e: Throwable =>
      loud("replay", q.kind, e)
      Map("kind" -> q.kind, "start" -> t0, "end" -> Clock.now(), "files" -> Nil,
        "ok" -> false, "detail" -> e.toString)
    }
  })
}

object Workloads {
  private val fsqlWindows = Set("q24", "q25", "q26", "q27", "q28", "q32", "q107",
    "q118", "q120", "q121")
  private val ddlDml = Set("q29", "q30", "q34", "q37", "q97")
  private val sampled = 5
  private val warmed = 20

  /** Single-statement dialect gates: every FSQL window gate (evaluated as
    * batch), every DDL/DML gate, and 5 evenly spaced gates (in name order)
    * of the remaining batch SQL gates among q01-q108, q118, q120 and q121. */
  private val (kept, rest) = {
    val wanted = ((1 to 108).map(i => f"q$i%02d") ++ Seq("q118", "q120", "q121")).toSet
    SparkEntry.queries.keys.filter(n => wanted(n.takeWhile(_ != '_'))).toSeq.sorted
      .partition { n =>
        val id = n.takeWhile(_ != '_')
        fsqlWindows(id) || ddlDml(id)
      }
  }
  private def spaced(xs: Seq[String], k: Int): Seq[String] =
    (0 until k).map(i => xs(i * xs.size / k))

  val dialect: Seq[String] = kept ++ spaced(rest, sampled)

  /** Other batch SQL gates, run untimed before the first op. */
  val warmup: Seq[String] = spaced(rest.diff(dialect), warmed)

  /** LLM-data operator gates, one per operator family. */
  val corpus: Seq[(String, String)] = Seq(
    "x03_dedup_minhash_lsh" -> "dedup",
    "x125_substring_removal" -> "substring",
    "x65_gopher_filters" -> "quality",
    "x97_bpe_encode" -> "tokens",
    "x99_pq_ann" -> "ann")

  /** ANN lifecycle gates that fail their oracle on this input (recall after
    * the index rebuild is not above recall before it). They are a workload
    * of their own, outside BENCHMARK.json, because a measured workload must
    * run without failures; run it to see the defect in `failed`. */
  val defects: Seq[(String, String)] = Seq(
    "x96_ivf_lifecycle" -> "ann",
    "x107_ivfpq_lifecycle" -> "ann")

  /** The batch_gates op list: (gate, family). */
  val batch: Seq[(String, String)] = dialect.map(_ -> "dialect") ++ corpus
}
