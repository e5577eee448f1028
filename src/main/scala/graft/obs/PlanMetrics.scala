package graft.obs

import org.apache.spark.sql.DataFrame

/** Runtime per-operator SQLMetrics off a DataFrame's OWN QueryExecution —
  * the engine behind the dialect's `EXPLAIN ANALYZE` and the
  * DressRehearsal sf10 metrics artifact.
  *
  * Two traps this encapsulates (both measured in round 9):
  *  - `Dataset.foreach`/`collect` execute `rddQueryExecution`, a SEPARATE
  *    QueryExecution, so metrics accumulate on that other plan instance;
  *    `queryExecution.toRdd.foreach` executes THIS plan.
  *  - the pre-AQE plan tree hides the finalized stages; rendering must
  *    descend through AdaptiveSparkPlanExec.executedPlan / QueryStageExec
  *    .plan to see what actually ran.
  */
object PlanMetrics {

  /** EXECUTE the frame's plan and render it with every touched runtime
    * metric (output rows, spill bytes, shuffle bytes, peak memory, files
    * read, …) per operator, then one `totals:` line with the execution's
    * [[Counters]]. */
  def executeAndRender(df: DataFrame): String = {
    val (_, c) = Obs.around(df.sparkSession)(df.queryExecution.toRdd.foreach(_ => ()))
    val sb = new StringBuilder
    render(df.queryExecution.executedPlan, 0, sb)
    sb.append("totals: ").append(c).append('\n').toString
  }

  private def render(p: org.apache.spark.sql.execution.SparkPlan, depth: Int,
                     sb: StringBuilder): Unit = {
    val ms = p.metrics.toSeq
      .map { case (k, m) => (k, m.value) }
      .filter(_._2 > 0) // untouched metrics stay at initial (0 / -1)
      .sortBy(_._1)
      .map { case (k, v) => s"$k=$v" }
    sb.append("  " * depth).append(p.nodeName)
    if (ms.nonEmpty) sb.append("  [").append(ms.mkString(", ")).append("]")
    sb.append('\n')
    val next = p match {
      // descend into the adaptively-finalized plan, not the pre-AQE one
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        Seq(s.plan)
      case other => other.children
    }
    next.foreach(render(_, depth + 1, sb))
  }
}
