package graft
// Round-15 optimization profiler (guide §1): per-gate wall time PLUS the
// counters the wall clock alone never names — Spark job count (sequential
// actions), stage count (shuffle boundaries × jobs), task count, and
// cumulative executor run time. At sf0.1 the corpus is ~15 MB, so gates are
// dominated by fixed per-action overhead: a gate with 40 jobs is slow
// because of its HARNESS SHAPE, not its operators. Output: one JSON line
// per gate to the path in arg(1) (default /tmp/gate_profile.json).
// Usage: sbt "Test/runMain graft.GateProfile [gatePrefix,...] [outPath]"
object GateProfile {
  def main(a: Array[String]): Unit = {
    // session shaped exactly like graft.Bench's (cores/partitions from env)
    // so the profile explains the bench numbers, not some other config
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outPath = if (a.length > 1) a(1) else "/tmp/gate_profile.json"
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); stages.addAndGet(j.stageInfos.size.toLong): Unit
      }
      override def onTaskEnd(t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        if (t.taskMetrics != null) taskMs.addAndGet(t.taskMetrics.executorRunTime): Unit
      }
    })
    val sel = SparkEntry.queries.toSeq.sortBy(_._1).filter { case (n, _) =>
      a.headOption.forall(p => p.split(",").exists(n.startsWith))
    }
    val out = new java.io.PrintWriter(outPath)
    sel.foreach { case (name, fn) =>
      // pass 1 warms codegen/JIT like the bench; pass 2 is the profile
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[profile] $name warm FAILED: $e") }
      try GraftSession.forDir(spark, sfDir).releaseOperatorCaches()
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[profile] $name cleanup FAILED: $e") }
      jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0)
      val t0 = System.nanoTime()
      val ok = try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true
      } catch { case e: Throwable =>
        System.err.println(s"[profile] $name FAILED: $e"); false
      }
      val dt = (System.nanoTime() - t0) / 1e9
      try GraftSession.forDir(spark, sfDir).releaseOperatorCaches()
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[profile] $name cleanup FAILED: $e") }
      // listener events drain asynchronously; give the bus a beat
      Thread.sleep(150)
      val line = f"""{"gate":"$name","ok":$ok,"wall_s":${math.rint(dt * 1000) / 1000},"jobs":${jobs.get},"stages":${stages.get},"tasks":${tasks.get},"task_ms":${taskMs.get}}"""
      println("[profile] " + line)
      out.println(line); out.flush()
    }
    out.close()
  }
}
