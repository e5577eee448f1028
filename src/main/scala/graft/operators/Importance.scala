package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR-style data selection: hashed-unigram importance weights
  * (Data Selection via Importance Resampling, Xie et al. 2023 — the
  * published method behind "make the web crawl look like the target
  * domain").
  *
  * Each document is scored by the log-likelihood ratio of its tokens
  * under two smoothed hashed-unigram bucket models — one fit on a TARGET
  * slice (the distribution you want more of), one on the RAW corpus:
  * `score(d) = mean over tokens t of [ln p_target(b(t)) − ln p_raw(b(t))]`.
  * High scores = target-like; selection keeps the top fraction via the
  * EXACT global quantile threshold ([[Quantiles.keepTopFraction]]), so
  * the kept set is reproducible and oracle-checkable end to end.
  *
  * Determinism (the gate contract):
  *  - the token→bucket hash folds the first 4 hex chars of md5(token)
  *    (engine-portable — DuckDB recomputes it exactly, unlike xxhash64;
  *    md5 hex chars are uniform, so ≥4096 combinations spread over
  *    `buckets`);
  *  - per-document summation left-folds the per-token log-ratios in
  *    SORTED value order (`aggregate(sort_array(...))`, the BM25/x53
  *    pattern), so float addition associates identically across
  *    partitionings and engines — scores are bit-stable pre-rounding.
  *
  * Scale: the two bucket models are `buckets`-row aggregates (map-side
  * partials, tiny shuffle) joined and BROADCAST; the corpus side is one
  * narrow token explode + broadcast probe + per-doc hash aggregate — the
  * same shape as tf-idf/OOV. The collect_list per doc is
  * per-DOCUMENT-sized (bounded by doc length), never corpus-sized.
  */
object Importance {

  /** Engine-portable token→bucket hash: fold ascii codes of the first 4
    * md5 hex chars (×31 polynomial), mod `buckets`. */
  private[operators] def bucketOf(tok: Column, buckets: Int): Column = {
    val m = md5(tok)
    val h = ((ascii(substring(m, 1, 1)) * 31 + ascii(substring(m, 2, 1))) * 31 +
      ascii(substring(m, 3, 1))) * 31 + ascii(substring(m, 4, 1))
    pmod(h.cast("long"), lit(buckets.toLong))
  }

  /** Per-document DSIR importance scores. Output: (id, n_toks, score)
    * with `score` = mean token log-ratio rounded to 6 dp (token-free
    * documents are absent — no evidence either way). `isTarget` marks
    * the target slice (e.g. `col("source") === "wiki"`); target rows are
    * scored too (they just also fit the target model). */
  def dsirScores(df: DataFrame, textCol: String, idCol: String,
                 isTarget: Column, buckets: Int = 1024,
                 smoothing: Double = 0.5): DataFrame = {
    val toks = Par.widen(df, idCol)
      .select(col(idCol).as("id"), isTarget.as("is_t"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("tok"))
      .where(col("tok") =!= "")
      .select(col("id"), col("is_t"), bucketOf(col("tok"), buckets).as("b"))
    // two smoothed unigram bucket models; raw = the WHOLE corpus (the
    // proposal distribution documents are drawn from), target = slice
    val model = toks.groupBy(col("b")).agg(
        sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"),
        count(lit(1)).as("cr"))
      .agg(collect_list(struct(col("b"), col("ct"), col("cr"))).as("rows"),
        sum(col("ct")).as("nt"), sum(col("cr")).as("nr"))
      .select(explode(col("rows")).as("r"), col("nt"), col("nr"))
      .select(col("r.b").as("b"),
        (log((col("r.ct") + smoothing) / (col("nt") + smoothing * buckets)) -
          log((col("r.cr") + smoothing) / (col("nr") + smoothing * buckets)))
          .as("lr"))
    // per-doc mean of per-token log-ratios, summed in sorted order so
    // the fold associates identically in any engine/partitioning
    toks.join(broadcast(model), Seq("b"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_toks"),
        aggregate(sort_array(collect_list(col("lr"))), lit(0.0d),
          (acc, x) => acc + x).as("s"))
      .select(col("id"), col("n_toks"),
        round(col("s") / col("n_toks"), 6).as("score"))
  }

  /** The offline half of streaming DSIR: fit the two bucket models on a
    * bounded reference corpus and return the per-bucket log-ratio table.
    * Driver-held by DESIGN, like the IVF centroids: ≤ `buckets` (few K)
    * entries regardless of corpus size — only the bucket aggregates come
    * back from the cluster. Feed it to [[applyDsirScore]]. */
  def dsirModel(df: DataFrame, textCol: String, idCol: String,
                isTarget: Column, buckets: Int = 1024,
                smoothing: Double = 0.5): Array[(Long, Double)] = {
    val toks = Par.widen(df, idCol)
      .select(isTarget.as("is_t"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("tok"))
      .where(col("tok") =!= "")
      .select(col("is_t"), bucketOf(col("tok"), buckets).as("b"))
    val rows = toks.groupBy(col("b")).agg(
        sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"),
        count(lit(1)).as("cr"))
      .collect() // ≤ `buckets` rows by construction
    val nt = rows.map(_.getLong(1)).sum.toDouble
    val nr = rows.map(_.getLong(2)).sum.toDouble
    rows.map { r =>
      r.getLong(0) ->
        (math.log((r.getLong(1) + smoothing) / (nt + smoothing * buckets)) -
          math.log((r.getLong(2) + smoothing) / (nr + smoothing * buckets)))
    }.sortBy(_._1)
  }

  /** Persist a [[dsirModel]] log-ratio table — the artifact behind
    * `CREATE MODEL … KIND 'dsir'`. Text format (one small file, like the
    * BPE merge list): a `buckets\t<n>` header line, then one
    * `bucket\t<logratio>` line per non-empty bucket. Log-ratios print
    * via `Double.toString`, whose shortest-round-trip representation
    * parses back BIT-IDENTICAL — the x73 parity contract survives a
    * save/load cycle. */
  def saveDsirModel(spark: org.apache.spark.sql.SparkSession,
                    model: Array[(Long, Double)], buckets: Int,
                    path: String): Unit = {
    require(buckets >= 1, "buckets must be >= 1")
    model.foreach { case (b, lr) =>
      require(b >= 0 && b < buckets, s"bucket $b outside [0, $buckets)")
      require(!lr.isNaN && !lr.isInfinite, s"unsaveable log-ratio $lr") }
    require(model.map(_._1).distinct.length == model.length,
      "duplicate bucket ids in DSIR model")
    ModelIO.writeLines(spark, path, s"buckets\t$buckets" +: model.sortBy(_._1).toSeq.map {
      case (b, lr) => s"$b\t${java.lang.Double.toString(lr)}" })
  }

  /** Load a [[saveDsirModel]] artifact: (log-ratio table, buckets). */
  def loadDsirModel(spark: org.apache.spark.sql.SparkSession,
                    path: String): (Array[(Long, Double)], Int) = {
    val lines = ModelIO.readLines(spark, path)
    val buckets = lines.headOption match {
      case Some(h) => h.split("\t") match {
        case Array("buckets", n) if n.toIntOption.exists(_ >= 1) => n.toInt
        case _ => throw new IllegalArgumentException(
          s"malformed DSIR header `${lines.head}` in $path (expected `buckets\\t<n>`)")
      }
      case None => throw new IllegalArgumentException(s"empty DSIR model at $path")
    }
    val rows = lines.tail.map { line =>
      line.split("\t") match {
        case Array(b, lr) if b.toLongOption.isDefined &&
            lr.toDoubleOption.isDefined => (b.toLong, lr.toDouble)
        case _ => throw new IllegalArgumentException(
          s"malformed DSIR line `$line` in $path (expected `bucket\\tlogratio`)")
      }
    }.toArray
    rows.foreach { case (b, _) =>
      require(b >= 0 && b < buckets, s"bucket $b outside [0, $buckets) in $path") }
    (rows, buckets)
  }

  /** Fit the DSIR bucket models and persist the artifact at `path` —
    * the train-then-register flow behind `CREATE MODEL … KIND 'dsir'`
    * (train, then save). */
  def trainDsirModel(df: DataFrame, textCol: String, idCol: String,
                     isTarget: Column, buckets: Int,
                     path: String): Array[(Long, Double)] = {
    val model = dsirModel(df, textCol, idCol, isTarget, buckets)
    saveDsirModel(df.sparkSession, model, buckets, path)
    model
  }

  /** The online half: score rows — BATCH OR STREAMING — against a
    * precomputed [[dsirModel]], row-at-a-time with no shuffle, grouping,
    * or state: tokens → bucket → broadcast-literal map lookup → sorted
    * fold. Same deploy shape as `Dedup.applyParagraphDedup` (model
    * offline, stateless apply on live ingest). Per-token log-ratios are
    * sorted BEFORE folding, so scores are bit-identical to the batch
    * [[dsirScores]] on the same model corpus — the x73 parity contract.
    * Unseen buckets (possible when the scored stream has tokens the
    * model corpus lacked) contribute 0 — no evidence either way.
    * Output: (id, n_toks, score); token-free rows are dropped. */
  def applyDsirScore(df: DataFrame, textCol: String, idCol: String,
                     model: Array[(Long, Double)],
                     buckets: Int = 1024): DataFrame = {
    // DENSE array literal indexed by bucket, not a map literal: Spark map
    // literals probe by LINEAR scan (ArrayBasedMapData), so a map lookup
    // per token costs O(buckets) — a hidden tokens×buckets term the sf10
    // sweep measured (x73 140 s; constant in corpus size but ~25B
    // comparisons at 1M docs). Ordinal element_at on an array is O(1);
    // buckets the model corpus never produced score 0 (no evidence),
    // exactly the map path's coalesce default — scores bit-identical.
    val dense = Array.fill(buckets)(0.0d)
    model.foreach { case (b, lr) => if (b >= 0 && b < buckets) dense(b.toInt) = lr }
    val alit = array(dense.map(lit).toIndexedSeq: _*)
    val toks = filter(split(lower(trim(col(textCol))), "\\s+"),
      t => t =!= "")
    val lrs = transform(toks,
      t => element_at(alit, (bucketOf(t, buckets) + lit(1L)).cast("int")))
    // Par.widen: the per-token md5 scoring kernel is the expensive part and
    // everything here is narrow — on a one-file input it would otherwise run
    // on a single core (and twice, when a downstream ORDER BY adds a range-
    // partitioning sample pass). No-op for streaming inputs and for already-
    // parallel scans (the at-scale case).
    Par.widen(df, idCol).select(col(idCol).as("id"), lrs.as("__lrs"))
      .where(size(col("__lrs")) > 0)
      .select(col("id"), size(col("__lrs")).cast("long").as("n_toks"),
        round(
          aggregate(sort_array(col("__lrs")), lit(0.0d), (a, x) => a + x) /
            size(col("__lrs")), 6).as("score"))
  }

  /** Score-and-select: keep the most target-like `frac` of the corpus
    * by exact global score quantile. Returns the surviving rows of `df`
    * with their score attached. Token-free (NULL-score) documents are
    * dropped — they carry no evidence. */
  def dsirResample(df: DataFrame, textCol: String, idCol: String,
                   isTarget: Column, frac: Double,
                   buckets: Int = 1024): DataFrame = {
    // checkpoint the per-doc score table: the exact-quantile threshold
    // makes several cheap passes over it (count + ≤6 histogram scans +
    // the final filter), and without a materialization each pass would
    // re-run the whole explode/model/fold pipeline. The table is one
    // narrow (id, n_toks, score) row per document — orders of magnitude
    // smaller than the corpus it scores
    val scored = dsirScores(df, textCol, idCol, isTarget, buckets)
      .where(col("score").isNotNull)
      .localCheckpoint()
    val kept = Quantiles.keepTopFraction(scored, "score", frac)
    df.join(kept.select(col("id").as(idCol), col("score")), Seq(idCol))
  }
}
