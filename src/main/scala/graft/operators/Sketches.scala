package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, TypedColumn}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Bounded-memory frequency sketches (SURVEY §7.2 M4 — beyond the
  * reference surface).
  *
  * [[MisraGries]] is the mergeable heavy-hitters summary (Misra–Gries /
  * space-saving family, per the mergeable-summaries formulation: combine
  * by count-sum, then subtract the (k+1)-th largest count and drop
  * non-positives). Contract, independent of arrival/merge order:
  *
  *  - the summary holds at most `k` terms;
  *  - counts only UNDERCOUNT: `approx(t) <= true(t)`;
  *  - the undercount is bounded: `true(t) - approx(t) <= n / (k+1)`
  *    (n = total items), so every term with `true(t) > n/(k+1)` is
  *    guaranteed present — a superset of the true heavy hitters.
  *
  * Why this next to [[graft.operators.TextAnalysis.vocab]]'s exact
  * top-k: vocab's groupBy shuffles one row per DISTINCT TERM — fine for
  * word vocabularies, ruinous for open keys (URLs, n-grams, user ids)
  * at 100 TB. The sketch aggregates with <= k counters per partition and
  * the shuffle carries k rows per partition TOTAL, at the price of
  * approximate counts with the guarantee above. Exact counts for the
  * (<= k) surviving candidates can be recovered with one cheap
  * broadcast-semi-join recount.
  *
  * The per-term counts themselves depend on arrival/merge order (any
  * MG implementation's do); only the three contract properties are
  * order-invariant, and they are what the x63 gate pins.
  */
object Sketches {

  final class MisraGries(k: Int)
      extends Aggregator[String, Map[String, Long], Map[String, Long]] {
    require(k > 0, "k must be positive")

    def zero: Map[String, Long] = Map.empty

    private def shrink(m: Map[String, Long]): Map[String, Long] =
      if (m.size <= k) m
      else {
        // subtract the (k+1)-th largest count from everything, drop the
        // non-positive rest: at most k entries can exceed the (k+1)-th
        // largest, and total removed mass per element is what yields the
        // n/(k+1) undercount bound
        val counts = m.valuesIterator.toArray
        java.util.Arrays.sort(counts)
        val sub = counts(counts.length - (k + 1))
        m.iterator.collect { case (t, c) if c > sub => t -> (c - sub) }.toMap
      }

    def reduce(b: Map[String, Long], tok: String): Map[String, Long] =
      shrink(b.updated(tok, b.getOrElse(tok, 0L) + 1L))

    def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
      shrink(b.foldLeft(a) { case (m, (t, c)) =>
        m.updated(t, m.getOrElse(t, 0L) + c)
      })

    def finish(r: Map[String, Long]): Map[String, Long] = r

    def bufferEncoder: org.apache.spark.sql.Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
    def outputEncoder: org.apache.spark.sql.Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
  }

  /** The sketch as a typed aggregation column over a token Dataset. */
  def misraGries(k: Int): TypedColumn[String, Map[String, Long]] =
    new MisraGries(k).toColumn

  /** Heavy-hitter CANDIDATES over whitespace tokens of `textCol`:
    * (term, approx_count) rows, at most `k`, guaranteed to include every
    * term with true frequency > n/(k+1). Counts are lower bounds. */
  def heavyHitters(df: DataFrame, textCol: String, idCol: String,
                   k: Int): DataFrame = {
    val toks: Dataset[String] = Par.widen(df, idCol)
      .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("tok"))
      .where(col("tok") =!= "")
      .select(col("tok").as(Encoders.STRING))
    toks.select(misraGries(k).name("sketch"))
      .select(explode(col("sketch")).as(Seq("term", "approx_count")))
  }

  /** Sketch-then-recount: EXACT counts for the (≤ k) [[heavyHitters]]
    * candidates via one broadcast semi-join + hash aggregate over them
    * only. Filtering the result to `n · (k+1) > total` yields exactly
    * the true heavy-hitter set with exact counts — the MG superset
    * guarantee makes the sketch a lossless pre-filter for that set —
    * while the wide shuffle stays k-bounded instead of
    * distinct-term-sized. Output: (term, n). */
  def heavyHittersExact(df: DataFrame, textCol: String, idCol: String,
                        k: Int): DataFrame = {
    val cands = broadcast(
      heavyHitters(df, textCol, idCol, k).select(col("term")))
    val toks = Par.widen(df, idCol)
      .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("tok"))
      .where(col("tok") =!= "")
    toks.join(cands, toks("tok") === cands("term"), "left_semi")
      .groupBy(col("tok")).agg(count(lit(1)).as("n"))
      .select(col("tok").as("term"), col("n"))
  }

  /** HyperLogLog++ cardinality audit: per-group approximate distinct
    * count next to the exact one, with a relative-error flag.
    *
    * The production 100 TB path is `approx_count_distinct` ALONE — HLL
    * state is a few KB per group regardless of cardinality, where exact
    * `count_distinct` shuffles one row per distinct key. This operator
    * is the AUDIT harness that justifies trusting the sketch: run it at
    * a test scale (or on a sampled slice), confirm `within_tol`, ship
    * the approx-only pipeline. The flag is deterministic: Spark's HLL++
    * merge is order-insensitive, so the same data yields the same
    * estimate at any parallelism. Output: (group, exact_n, within_tol).
    */
  /** Quantile-sketch audit: check that `approx_percentile`'s answers
    * (Greenwald–Khanna summaries — mergeable bounded state, the
    * streaming/100 TB quantile path) land within their guaranteed rank
    * error of the true order statistics. For each q the sketch value's
    * rank interval [#below+1, #atMost] must come within
    * `n·(1/accuracy + tolFrac)` ranks of ⌊(n−1)q⌋+1. The FLAG is
    * deterministic even though GK merge order isn't: the bound holds for
    * any merge order. Complements [[graft.operators.Quantiles]] — exact
    * selection when the threshold must be reproducible, audited sketch
    * when a one-pass mergeable summary is the constraint. Output: one
    * row (n, ok_q1, ok_q2, …). */
  def quantileAudit(df: DataFrame, colName: String, qs: Seq[Double],
                    accuracy: Int = 1000, tolFrac: Double = 0.01): DataFrame = {
    val x = col(colName).cast("long")
    val base = df.where(x.isNotNull).select(x.as("x"))
    val n = base.count()
    val approxes = base.agg(
      percentile_approx(col("x"), array(qs.map(lit): _*), lit(accuracy)).as("a"))
      .head().getSeq[Long](0)
    val tol = math.max(1L, math.ceil(n * (1.0 / accuracy + tolFrac)).toLong)
    val flags = qs.zip(approxes).map { case (q, a) =>
      val below = base.where(col("x") < a).count()
      val atMost = base.where(col("x") <= a).count()
      val target = math.floor((n - 1) * q).toLong + 1
      target >= below + 1 - tol && target <= atMost + tol
    }
    val spark = df.sparkSession
    import spark.implicits._
    Seq((n, flags.map(f => if (f) 1 else 0))).toDF("n", "oks")
      .select(col("n") +:
        qs.indices.map(i => element_at(col("oks"), i + 1)
          .as(s"ok_q${(qs(i) * 100).round}")): _*)
  }

  def distinctAudit(df: DataFrame, keyCol: String, groupCol: String,
                    rsd: Double = 0.05, tol: Double = 0.15): DataFrame =
    df.groupBy(col(groupCol))
      .agg(count_distinct(col(keyCol)).as("exact_n"),
        approx_count_distinct(col(keyCol), rsd).as("approx_n"))
      .select(col(groupCol), col("exact_n"),
        (abs(col("approx_n") - col("exact_n")) <= col("exact_n") * tol)
          .cast("int").as("within_tol"))
}
