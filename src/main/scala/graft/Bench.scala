package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Verify.localSession()
    // Warm up (session + catalog registration + JIT/codegen of the three
    // main engine shapes). Each step has its own try: a missing table must
    // not skip the remaining warmups — but every failure is printed and
    // counted in the summary, never swallowed.
    var warmFailures = 0
    var cleanupFailures = 0
    def warm(f: => Unit): Unit =
      try f catch { case scala.util.control.NonFatal(e) =>
        warmFailures += 1
        System.err.println(s"[bench] warm-up FAILED: $e")
      }
    // the catalog layer: the first forDir registers every table
    val tReg = System.nanoTime()
    val (_, registered) = obs.Obs.around(spark)(warm(GraftSession.forDir(spark, sfDir)))
    val registerMs = math.rint((System.nanoTime() - tReg) / 1e5) / 10
    warm(GraftSession.forDir(spark, sfDir).sql("select count(*) as n from lineitem").count())
    warm {
      val docsSample = GraftSession.forDir(spark, sfDir).catalog.relation("documents").limit(50)
      operators.Dedup.minhashSignatures(docsSample, "text", "doc_id").count()
    }
    warm {
      val embSample = GraftSession.forDir(spark, sfDir).catalog.relation("embeddings").limit(50)
      embSample.select(graft.expr.VectorOps.cosine(
        org.apache.spark.sql.functions.col("embedding"),
        org.apache.spark.sql.functions.col("embedding"))).count()
    }
    // Two passes per query, report the per-query MINIMUM: pass 1 absorbs
    // one-time codegen/JIT compilation (not throughput-relevant at scale —
    // a 100 TB job compiles once and runs for hours), and min-of-2 damps
    // the VM's noisy-neighbor windows, which can inflate any single
    // measurement 1.5-10x. Methodology recorded in the JSON ("runs": 2).
    // Each gate runs inside graft.obs: codegen fallbacks (a 64 KB-limit
    // fallback keeps results correct while the hot loop runs interpreted)
    // and memory+disk spill bytes are summed over passes; jobs, stages,
    // tasks and task time come from the final pass, and construct_jobs
    // counts the jobs run while the gate builds its DataFrame — the
    // reasons a gate is slow that the wall clock alone never names.
    val fallbacks = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val spills = scala.collection.mutable.Map[String, Long]().withDefaultValue(0L)
    val profiles = scala.collection.mutable.Map[String, (obs.Counters, Long)]()
    def once(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      var constructJobs = 0L
      val ((ok, dt), c) = obs.Obs.around(spark) {
        val t0 = System.nanoTime()
        // noop sink materializes the FULL plan — count() would let Catalyst
        // prune projections and eliminate sorts, timing only scan+filter.
        val ok =
          try {
            val (df, built) = obs.Obs.around(spark)(fn(spark, sfDir))
            constructJobs = built.jobs
            df.write.format("noop").mode("overwrite").save(); true
          } catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.toString}")
            false
          }
        // negative elapsed marks a failed query instead of reporting a
        // fast-looking bogus time
        val dt = (System.nanoTime() - t0) / 1e9
        // the result is fully consumed (noop sink) — NOW it is safe to drop
        // any operator-pinned RDDs (unkeyed count/session windows persist a
        // range-partitioned shuffle per translation; without this, back-to-
        // back gate runs accumulate pinned blocks until the ContextCleaner
        // happens to run). Release time is outside the timed span by design:
        // it is session hygiene, not query cost. Own try: a throwing forDir
        // must stay a per-query failure, not kill the run pre-JSON.
        try GraftSession.forDir(spark, sfDir).releaseOperatorCaches()
        catch { case scala.util.control.NonFatal(e) =>
          cleanupFailures += 1
          System.err.println(s"[bench] $name cleanup FAILED: $e")
        }
        (ok, dt)
      }
      fallbacks(name) += c.codegenFallbacks
      spills(name) += c.spillBytes
      profiles(name) = (c, constructJobs)
      if (ok) dt else -dt
    }
    val benchSet = Verify.selectedGates("bench")
    // min-of-N with the noise spread IN the artifact (r8 verdict #5): the
    // committed BENCH_full flipped 154↔179 s for identical code because a
    // single noisy-neighbor window inflates any one pass 1.5-10×; N passes
    // + per-query max/min spread makes the artifact itself say how noisy
    // the VM was. Pass 1 still absorbs codegen/JIT; whole-suite passes
    // (not per-query repeats) so cache states stay comparable.
    val nRuns = sys.env.get("SPARK_GRAFT_BENCH_RUNS").map(_.toInt).getOrElse(2)
    // suite-order study knob (r14, drift protocol): SPARK_GRAFT_BENCH_SHUFFLE
    // =<seed> runs every pass in a seeded-random gate order. If ordered ≫
    // shuffled on identical code, the suite accumulates pressure
    // (temp dirs, heap fragmentation, native handles) rather than the
    // gates themselves regressing.
    val benchOrder: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      sys.env.get("SPARK_GRAFT_BENCH_SHUFFLE") match {
        case Some(seed) =>
          System.err.println(s"[bench] *** SHUFFLED GATE ORDER (seed=$seed) ***")
          new scala.util.Random(seed.toLong).shuffle(benchSet.toSeq)
        case None => benchSet.toSeq
      }
    val pass1 = benchOrder.map { case (name, fn) => name -> Vector(once(name, fn)) }.toMap
    val allRuns = (2 to nRuns).foldLeft(pass1) { (acc, _) =>
      benchOrder.map { case (name, fn) =>
        // a failed query is not retried (its negative marker survives);
        // a transient later failure must not clobber an earlier success
        val prev = acc(name)
        name -> (if (prev.head < 0) prev else prev :+ once(name, fn))
      }.toMap
    }
    val results = allRuns.map { case (name, ts) =>
      val ok = ts.filter(_ > 0)
      name -> (if (ok.isEmpty) ts.min else ok.min)
    }
    // per-query noise ratio: slowest/fastest successful pass (1.0 = quiet)
    val spreads = allRuns.collect { case (name, ts) if ts.count(_ > 0) >= 2 =>
      val ok = ts.filter(_ > 0)
      name -> math.rint(ok.max / ok.min * 100) / 100
    }
    import Verify.q
    def obj(kv: Iterable[(String, Any)]): String =
      kv.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    val qs = obj(results)
    val total = if (results.nonEmpty) results.values.filter(_ > 0).sum else 0.0
    // spread summary: median + p90 of the per-query noise ratios
    val sVals = spreads.values.toSeq.sorted
    def pct(p: Double): Double =
      if (sVals.isEmpty) 1.0 else sVals(((sVals.size - 1) * p).toInt)
    val spreadJson = obj(spreads.toSeq.sortBy(-_._2).take(10))
    println(s"""{"metric":"total","value":$total,"unit":"sec","runs":$nRuns,"agg":"min","queries":$qs,"sf":${q(sfDir)}}""")
    // The driver keeps only the LAST ~2000 chars of output; with 90 queries
    // the full line above is ~4 KB, so its head (and the "{"metric"...`
    // opener) falls outside the window and the driver parses nothing.
    // Emit a compact summary line LAST — slowest queries only, 3-decimal
    // values — guaranteed to sit complete inside the tail window. Both
    // lines carry the same total, so either parse is correct.
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    val slowest = obj(results.toSeq.sortBy(-_._2).take(15).map { case (k, v) => k -> r3(v) })
    val nFailed = results.values.count(_ < 0)
    // Regression tripwire (r12 verdict #2): diff this run against the
    // PREVIOUSLY COMMITTED full-run map before overwriting it. Any common
    // gate >3x its prior min lands in a `regressions` block inside the new
    // sidecar + a loud stderr line — the codegen/spill watchdog
    // discipline applied to wall-time (x36 sat at 5.7x in a committed
    // artifact without a note in r12). Noise context: the identical-code
    // band on this box is ±11% suite-wide with single gates 1.5-10x in
    // noisy windows (SCALE.md), so 3x is the "look at it" bar, not proof.
    // A sidecar that exists but cannot be read disables the tripwire, so
    // that failure is printed and counted, never swallowed.
    var priorFailures = 0
    val priorQueries: Map[String, Double] = try {
      val p = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "BENCH_full.json"))
      if (java.nio.file.Files.exists(p)) {
        val s = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        // the sidecar format is ours: "queries":{"name":1.23,...} with no
        // nested objects inside — a targeted regex parse is exact here
        val qblock = """"queries"\s*:\s*\{([^}]*)\}""".r
          .findFirstMatchIn(s).map(_.group(1)).getOrElse("")
        """"([^"]+)"\s*:\s*(-?[0-9.eE+\-]+)""".r.findAllMatchIn(qblock)
          .flatMap(m => scala.util.Try(m.group(1) -> m.group(2).toDouble).toOption)
          .toMap
          .ensuring(_.nonEmpty, s"no \"queries\" map in $p")
      } else Map.empty
    } catch { case scala.util.control.NonFatal(e) =>
      priorFailures += 1
      System.err.println(s"[bench] prior sidecar unreadable, regression tripwire off: $e")
      Map.empty
    }
    val regressions = results.toSeq.collect {
      case (name, now) if now > 0 && priorQueries.getOrElse(name, -1.0) > 0 &&
          now > 3.0 * priorQueries(name) =>
        (name, priorQueries(name), now)
    }.sortBy { case (_, prior, now) => -(now / prior) }
    regressions.foreach { case (name, prior, now) =>
      System.err.println(f"[bench] *** REGRESSION $name: $prior%.2f -> " +
        f"$now%.2f s (${now / prior}%.1fx prior min) — triage before commit ***")
    }
    // Full per-query map to a file: the stdout tail window only fits the
    // compact summary, so round-over-round diffs need this sidecar.
    try {
      val isSubset = sys.env.contains("SPARK_GRAFT_ONLY")
      val allSpread = obj(spreads)
      val fbNonzero = obj(fallbacks.toSeq.filter(_._2 > 0).sortBy(-_._2))
      val spNonzero = obj(spills.toSeq.filter(_._2 > 0).sortBy(-_._2))
      val gateJson = obj(profiles.toSeq.sortBy(_._1).map { case (k, (c, cj)) =>
        k -> s"""{"jobs":${c.jobs},"construct_jobs":$cj,"stages":${c.stages},"tasks":${c.tasks},"task_ms":${c.taskMs}}"""
      })
      val regJson = obj(regressions.map { case (k, prior, now) =>
        k -> s"""{"prior":${r3(prior)},"now":${r3(now)},"ratio":${r3(now / prior)}}"""
      })
      val full = s"""{"metric":"total","value":${r3(total)},"unit":"sec","runs":$nRuns,"agg":"min","n_queries":${results.size},"n_failed":$nFailed,"warm_failures":$warmFailures,"cleanup_failures":$cleanupFailures,"prior_failures":$priorFailures,"register_ms":$registerMs,"register_jobs":${registered.jobs},"subset":$isSubset,"spread_med":${pct(0.5)},"spread_p90":${pct(0.9)},"codegen_fallback_total":${fallbacks.values.sum},"codegen_fallbacks":$fbNonzero,"spill_bytes_total":${spills.values.sum},"spill_bytes":$spNonzero,"gates":$gateJson,"regressions":$regJson,"spread":$allSpread,"queries":$qs,"sf":${q(sfDir)}}"""
      // subset runs write a SEPARATE sidecar UNCONDITIONALLY (the env
      // override is honored only for full runs): a local profiling loop —
      // even one with a stale SPARK_GRAFT_BENCH_FULL in its shell — must
      // never clobber the committed full-run map the driver/judge diffs
      val out = java.nio.file.Paths.get(
        if (isSubset) "BENCH_subset.json"
        else sys.env.getOrElse("SPARK_GRAFT_BENCH_FULL", "BENCH_full.json"))
      java.nio.file.Files.write(out, full.getBytes("UTF-8"))
      System.err.println(s"[bench] full per-query map -> ${out.toAbsolutePath}")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] could not write the per-query sidecar: $e")
    }
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","runs":$nRuns,"agg":"min","n_queries":${results.size},"n_failed":$nFailed,"warm_failures":$warmFailures,"cleanup_failures":$cleanupFailures,"prior_failures":$priorFailures,"register_ms":$registerMs,"register_jobs":${registered.jobs},"codegen_fallback_total":${fallbacks.values.sum},"spill_bytes_total":${spills.values.sum},"spread_med":${pct(0.5)},"spread_p90":${pct(0.9)},"noisiest":$spreadJson,"queries":$slowest,"sf":${q(sfDir)}}""")
    spark.stop()
  }
}
