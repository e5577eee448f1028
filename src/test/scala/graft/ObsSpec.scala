package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** graft.obs: exact counters over a body, and the one-listener rule. */
class ObsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  test("a forced window-buffer spill shows as spillBytes > 0") {
    // rows leave memory at once and spill every 500 rows: a threshold of
    // 1 opens one spill reader (and its read buffer) per row
    val conf = Seq("spark.sql.windowExec.buffer.in.memory.threshold" -> "1",
      "spark.sql.windowExec.buffer.spill.threshold" -> "500")
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val df = spark.range(0, 4000, 1, 4).withColumn("k", col("id") % 2)
        .withColumn("s", sum("id").over(Window.partitionBy("k")))
      val (sums, c) = obs.Obs.around(spark)(df.select("s").distinct().collect())
      assert(sums.length == 2)
      assert(c.spillBytes > 0, c)
    } finally conf.foreach { case (k, _) => spark.conf.unset(k) }
    val (_, quiet) = obs.Obs.around(spark)(spark.range(0, 4000, 1, 4).count())
    assert(quiet.spillBytes == 0, quiet)
  }

  test("back-to-back around calls each report exactly their own jobs") {
    val rdd = spark.sparkContext.parallelize(1 to 1000, 4)
    def body(): Long = {
      rdd.count()
      rdd.map(x => (x % 3, 1)).reduceByKey(_ + _, 2).collect().length.toLong
    }
    val runs = Seq.fill(2)(obs.Obs.around(spark)(body()))
    runs.foreach { case (groups, c) =>
      assert(groups == 3)
      // count: 1 job, 1 stage, 4 tasks; reduceByKey: 1 job, 2 stages, 4 + 2 tasks
      assert((c.jobs, c.stages, c.tasks) == ((2L, 3L, 10L)), c)
      assert(c.shuffleWriteBytes > 0 && c.shuffleReadBytes > 0, c)
    }
    val (_, none) = obs.Obs.around(spark)(())
    assert(none.jobs == 0 && none.tasks == 0, none)
  }

  test("a plan past spark.sql.codegen.hugeMethodLimit counts as a codegen fallback") {
    // past the limit, WholeStageCodegenExec says so only at INFO and runs
    // the plan without whole-stage codegen
    def run() = obs.Obs.around(spark)(spark.range(0, 1000, 1, 2)
      .selectExpr("id * 3 as x").where("x % 7 = 1").agg(sum("x")).collect())
    val key = "spark.sql.codegen.hugeMethodLimit"
    spark.conf.set(key, "100")
    val (_, huge) = try run() finally spark.conf.unset(key)
    assert(huge.codegenFallbacks > 0, huge)
    val (_, normal) = run()
    assert(normal.codegenFallbacks == 0, normal)
  }

  test("graft.obs holds the only SparkListener under src/") {
    val listener =
      """\b(extends|with|new)\s+(org\.apache\.spark\.scheduler\.)?SparkListener\b|\baddSparkListener\s*\(""".r
    val obsDir = java.nio.file.Paths.get("src/main/scala/graft/obs")
    val files = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get("src"))
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
    }
    assert(files.size > 50, "run from the project root")
    val (inside, outside) = files.partition(_.startsWith(obsDir))
    def declares(p: java.nio.file.Path): Boolean =
      listener.findFirstIn(new String(java.nio.file.Files.readAllBytes(p), "UTF-8")).nonEmpty
    assert(inside.exists(declares))
    val strays = outside.filter(declares)
    assert(strays.isEmpty, s"hand-written listeners outside graft.obs: ${strays.mkString(", ")}")
  }
}
