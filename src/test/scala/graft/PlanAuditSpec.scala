package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window}
import org.apache.spark.sql.execution.FormattedMode

/** Automated scale-killer audit over EVERY SparkEntry gate: flag the two
  * shapes that cannot survive a 100 TB input —
  *
  *  1. BroadcastNestedLoopJoin (O(|L|·|R|) pair scan) anywhere in the
  *     physical plan text, and
  *  2. a logical Window with an EMPTY partition spec (all rows to one
  *     task) that the ENGINE chose (queries whose user-level text demands
  *     a global `over (order by …)` are whitelisted with the reason).
  *
  * AQE note: the physical check greps explainString (the adaptive wrapper
  * hides its children from a tree walk); the window check walks the
  * optimized LOGICAL plan, which AQE does not wrap.
  */
class PlanAuditSpec extends AnyFunSuite {

  /** gate -> why a global-window plan is the query's own semantics */
  private val globalWindowByDesign = Map(
    "q67_ignore_nulls" -> "user query: LOCF via over (order by …), no partition by",
    "x32_global_shuffle" -> "deterministicShuffle IS a global sort by definition (SCALE.md honest limits)",
    "x97_bpe_encode" -> "dense token ids: row_number over the TOKEN VOCABULARY — model-sized BY DEFAULT (bpeEncode caps at DefaultBpeVocabCap unless the caller explicitly uncaps; r11)",
    "x98_pack_tokens" -> "same encode stage: the id window runs over the cap-bounded token vocabulary",
    "q114_bpe_encode_fn" -> "same encode stage reached from SQL: cap-bounded token-id window (SQL default = DefaultBpeVocabCap)",
    "x100_tokens_pipeline" -> "the encode stage's model-sized token-id window (see x97)")

  /** gate -> (max allowed BNLJ nodes, why they are bounded): 1-row
    * aggregate summaries, model tables, or an explicit user cross join of
    * tiny relations — |L|·|tiny| is linear, not quadratic. A gate
    * exceeding its allowance (a NEW nested loop creeping in) or dropping
    * to zero (stale whitelist entry) fails, so the whitelist stays exact.
    * The audit exists for every OTHER gate: the quantified ANY/ALL,
    * null-aware NOT IN, and WITH TIES families stay BNLJ-free (r4-6). */
  private val bnljByDesign = Map(
    "q08_join_using_cross" -> (1, "user query: CROSS JOIN region (5 rows)"),
    "q22_rollup" -> (1, "ANSI empty-input grand-total guard: 1-row grand x first-row-probe anti join (both sides <= 1 row by construction)"),
    "q35_cube" -> (1, "ANSI empty-input grand-total guard (see q22)"),
    "q40_grouping_sets" -> (1, "ANSI empty-input grand-total guard (see q22)"),
    // grouping()/grouping_id() projections now take the grand-total
    // branch too (constants-substitution fix): same 1-row × 1-row guard
    "q68_grouping_fn" -> (1, "ANSI empty-input grand-total guard (see q22)"),
    "q74_rollup_fn" -> (1, "ANSI empty-input grand-total guard (see q22)"),
    "q36_sketches" -> (1, "cross join of 1-row sketch summaries"),
    "q72_table_fns" -> (1, "user query: cross join of two table functions (6x5 rows)"),
    "q77_corr_scalar_native" -> (2, "non-equality correlation is a theta join by semantics; inner side 25 rows, Catalyst-decorrelated"),
    "x06_dedup_embed_cosine" -> (1, "broadcast of the (bounded) candidate model"),
    "x07_sim_brute_topk" -> (1, "broadcast query vectors vs corpus — the documented brute-force baseline"),
    "x08_sim_lsh_topk" -> (1, "broadcast LSH probe set (bounded)"),
    "x16_sim_ivf_topk" -> (1, "broadcast IVF centroids (model-sized)"),
    "x115_int8_ann" -> (2, "broadcast query codes vs corpus twice by design: the exact brute-force truth plus the int8 serve under audit"),
    "x116_cluster_balanced" -> (2, "three 1-row flag frames crossJoined: kept aggregate × per-cluster cap audit × assignment range audit"),
    "x18_sample_dialect" -> (1, "broadcast 1-row sampling-rate summary"),
    "x31_mixture" -> (1, "broadcast per-source weight table (#sources rows)"),
    "x33_bigram_lm" -> (1, "broadcast 1-row vocabulary-size aggregate"),
    "x38_centroid_assign" -> (1, "broadcast centroid model (k rows)"),
    "x40_temperature_mix" -> (1, "broadcast per-source count/weight summary (#sources rows)"),
    "x53_bm25" -> (1, "broadcast 1-row (N, avgdl) corpus stats"),
    "x63_heavy_hitters" -> (1, "broadcast 1-row total-token-count summary"),
    "x70_standardize" -> (1, "broadcast 1-row per-dimension (mean[], std[]) stats"),
    "x76_ann_recall" -> (1, "1-row × 1-row recall-summary crossJoin"),
    "x54_quantized_topk" -> (1, "broadcast quantization-scale summary (model-sized)"),
    "x89_hard_negatives" -> (1, "broadcast query sample vs corpus — the x07 brute shape with label+band filters"),
    "x93_cross_entropy" -> (1, "broadcast 1-row reference-vocabulary-size aggregate (the x33 shape)"),
    "q113_hard_negatives_fn" -> (1, "same brute shape reached from SQL (x89)"))

  test("no gate plans a BroadcastNestedLoopJoin or an engine-chosen global window") {
    val spark = TestSpark.spark
    val sf = TestSpark.sf
    // the streaming parity gates execute a replay during build — they are
    // audited by their own specs; skip the expensive harness runs here
    val skip = Set("x51_line_dedup_stream", "x52_interval_join_stream",
      "x55_count_window_stream", "x56_session_window_stream",
      "x58_stream_dedup", "x64_paragraph_dedup_stream", "x73_dsir_stream")
    val violations = scala.collection.mutable.Buffer.empty[String]
    var audited = 0
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (!skip(name)) {
        try {
          val df = fn(spark, sf)
          if (!df.isStreaming) {
            audited += 1
            def walkL(p: LogicalPlan): Unit = {
              p match {
                case w: Window if w.partitionSpec.isEmpty &&
                    !globalWindowByDesign.contains(name) =>
                  violations += s"$name: global (unpartitioned) Window"
                case _ => ()
              }
              p.children.foreach(walkL)
              p.subqueries.foreach(walkL)
            }
            walkL(df.queryExecution.optimizedPlan)
            // FormattedMode prints every node twice (numbered tree + the
            // per-node details section) — halve the text occurrences
            val bnljCount = "BroadcastNestedLoopJoin".r
              .findAllIn(df.queryExecution.explainString(FormattedMode)).length / 2
            val allowed = bnljByDesign.get(name).map(_._1).getOrElse(0)
            if (bnljCount > allowed)
              violations += s"$name: $bnljCount BroadcastNestedLoopJoin (allowed $allowed)"
            else if (allowed > 0 && bnljCount < allowed)
              violations += s"$name: BNLJ allowance stale ($bnljCount < $allowed) — tighten the whitelist"
          }
        } catch {
          case e: Exception => violations += s"$name: failed to plan (${e.getMessage})"
        }
      }
    }
    assert(audited > 120, s"audit only reached $audited gates — harness broken?")
    assert(violations.isEmpty,
      "scale-killer plan shapes found:\n  " + violations.mkString("\n  "))
  }

  test("a windowed FSQL stream join plans state cleanup on both sides") {
    // without a watermarked time range in the join condition Spark keeps
    // every input row of both sides until the query stops
    import org.apache.spark.sql.execution.streaming.operators.stateful.join.StreamingSymmetricHashJoinExec
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    val spark = TestSpark.spark
    val dir = java.nio.file.Files.createTempDirectory("graft_join_audit")
    java.nio.file.Files.write(dir.resolve("a.csv"),
      "2024-01-01T01:10:00,x\n2024-01-01T02:10:00,y\n".getBytes("UTF-8"))
    val g = new GraftSession(spark, streaming = true)
    g.sql(s"create stream join_audit (ts timestamp, k string) source file('$dir')")
    val j = g.sql("select a.k as k from join_audit [size 1 h on ts] as a " +
      "join join_audit [size 2 h on ts every 1 h] as b on a.k = b.k")
    val q = graft.streaming.Sinks.memory(j, "join_audit_out")
    val joins = try {
      q.processAllAvailable()
      q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
        .collect { case s: StreamingSymmetricHashJoinExec => s }
    } finally { q.stop(); spark.sql("drop view if exists join_audit_out") }
    assert(joins.size == 1)
    val cleanup = joins.head.stateWatermarkPredicates
    assert(cleanup.left.isDefined && cleanup.right.isDefined, cleanup.toString)
  }

  test("ANN family executes with ZERO codegen compile fallbacks (r11 weak)") {
    // Spark keeps results correct when generated Java exceeds Janino's
    // 64 KB method limit — it logs and silently drops to interpreted
    // execution. The literal-unrolled IVF/PQ model trees did exactly that
    // for two rounds (31 occurrences per test run at the shipped
    // parameters) while every gate stayed green. EXECUTE the family that
    // regressed and assert the log detector saw nothing.
    val spark = TestSpark.spark
    val sf = TestSpark.sf
    CodegenGuard.install()
    // x96/x107 (lifecycle: train + append + audit + rebuild) pin the
    // encode/assignment paths the serve gates don't re-train (r12)
    val family = Seq("x16_sim_ivf_topk", "x76_ann_recall", "x90_ivf_index",
      "x99_pq_ann", "x101_ivfpq_ann", "q115_pq_topk_fn", "q116_ivfpq_topk_fn",
      "x96_ivf_lifecycle", "x107_ivfpq_lifecycle",
      // r12: the int8 loop-expression family (quantize/dot/cosine) and
      // the composed IVF+SQ8 serve join the pinned set — same silent-
      // degradation surface as the IVF/PQ trees this audit exists for
      "x115_int8_ann", "x117_ivfsq8_ann", "q131_int8_quantize_fn",
      // the residual-PQ encode and the SQL IVF+SQ8 serve
      "x113_ivfpq_residual_ann", "q133_ivfsq8_topk_fn")
    CodegenGuard.reset()
    family.foreach { name =>
      val fn = SparkEntry.queries(name)
      fn(spark, sf).write.format("noop").mode("overwrite").save()
      val n = CodegenGuard.current
      assert(n == 0, s"$name triggered $n codegen compile fallback(s): " +
        CodegenGuard.recentSamples.mkString(" | "))
    }
    // sanity: the detector actually sees compile-failure logs (guards
    // against a silently detached appender making this test vacuous) —
    // emit the marker through Spark's own CodeGenerator logger name, so
    // the check exercises the same logger → level filter → guard path
    // the real fallback warning takes.
    CodegenGuard.reset()
    org.apache.logging.log4j.LogManager
      .getLogger("org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator")
      .warn("Failed to compile the generated Java code. (CodegenGuard self-check)")
    assert(CodegenGuard.current > 0,
      "detector self-check: a marker logged through the CodeGenerator " +
        "logger never reached the guard — the appender is detached or the " +
        "logger level filters WARN")
    CodegenGuard.reset()
  }

  test("PQ training generates no method too long for the JIT") {
    // HotSpot interprets any method over 8,000 bytecode bytes; Spark logs
    // that at INFO on the CodeGenerator logger, which CodegenGuard lifts
    // to INFO. k = 5 is used nowhere else, so the generated code is new
    // and really compiles here; a probe on the same logger config proves
    // it did, so a codegen-cache hit cannot pass this vacuously.
    import org.apache.logging.log4j.{Level, LogManager}
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val emb = TestSpark.session.catalog.relation("embeddings")
    val name = "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"
    CodegenGuard.install()
    CodegenGuard.reset()
    LogManager.getLogger(name)
      .info("Generated method too long to be JIT compiled: (CodegenGuard self-check)")
    assert(CodegenGuard.current == 1, "the guard missed an INFO line on CodeGenerator")
    CodegenGuard.reset()
    val compiles = new java.util.concurrent.atomic.AtomicInteger(0)
    val probe = new AbstractAppender("jit-limit-probe", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage.getFormattedMessage.startsWith("Code generated in")) compiles.incrementAndGet()
    }
    probe.start()
    val lc = LogManager.getContext(false).asInstanceOf[LoggerContext]
      .getConfiguration.getLoggers.get(name)
    lc.addAppender(probe, Level.INFO, null)
    try operators.Similarity.pqTrain(emb, m = 16, k = 5, iters = 1)
    finally { lc.removeAppender(probe.getName); probe.stop() }
    assert(compiles.get > 0, "the INFO probe saw no compile")
    assert(CodegenGuard.current == 0, CodegenGuard.recentSamples.mkString(" | "))
  }
}
