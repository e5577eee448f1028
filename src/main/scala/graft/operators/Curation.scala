package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end training-data curation pipeline — the composition the M4
  * operators exist for: exact-dedup → quality filter → token budgeting.
  *
  * Single-pass plan (the 100 TB shape): ONE scan, TWO shuffles, ZERO joins —
  *  1. dedup via `row_number() over (partition by text order by doc_id) = 1`
  *     (one full-row shuffle on the dedup key; a groupBy+semi-join dedup
  *     would shuffle the corpus twice and, composed with the stats pass,
  *     re-execute per plan reference);
  *  2. char-level stats (fused one-pass CharClassStats) ride along the token
  *     explode as `first()` aggregates, so token- and char-level statistics
  *     come out of the same per-doc hash aggregation (map-side partial:
  *     the shuffle carries one row per doc);
  *  3. quality filter + per-language budget is a final narrow agg.
  * Every stage mirrors TextAnalysis.stats/quality exactly (same ROUND(…, 6)
  * components), so the DuckDB oracle for x15 stays valid.
  */
object Curation {

  /** Land `df` at `dir` with the commit-marker discipline and hand back
    * the read-back frame: if `dir` already carries a `_COMMITTED` marker
    * the existing parquet is READ and `df` is never executed (the
    * restart-from-seam property — by-name callers skip the whole
    * upstream); otherwise `df` is written, the marker is created, and
    * the landed files are read back. A crash between write and marker
    * leaves an uncommitted directory that the next run overwrites whole
    * — a seam is only ever observed empty-or-complete (the
    * [[graft.streaming.Sinks.publishBatch]] contract, batch-shaped). */
  def seam(df: => DataFrame, dir: String): DataFrame = {
    // the session comes from the landed frame when we write, but a
    // committed seam must be readable WITHOUT evaluating `df` — use the
    // active session for the read-back path
    val spark = org.apache.spark.sql.SparkSession.active
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val marker = new org.apache.hadoop.fs.Path(p, "_COMMITTED")
    if (!fs.exists(marker)) {
      df.write.mode("overwrite").parquet(dir)
      fs.create(marker, true).close()
    }
    spark.read.parquet(dir)
  }

  /** Curate a document corpus:
    * 1. exact dedup on text (keep lowest id);
    * 2. drop docs below `minQuality` (TextAnalysis.quality formula);
    * 3. report per-language surviving doc count and token budget.
    * Output: (lang, n_docs, n_tokens) sorted by lang. */
  def curate(docs: DataFrame, minQuality: Double = 0.5): DataFrame = {
    val w = Window.partitionBy(col("text")).orderBy(col("doc_id"))
    val winners = docs
      .withColumn("__rn", row_number().over(w)).where(col("__rn") === 1)
    // fused [len, digits, alphas, whitespace] scan + blank flag, computed
    // once per doc BEFORE the explode (codegen CSE evaluates CharClassStats
    // once per row despite the four extractions) and carried through it
    val cs = graft.expr.CharClassStats(col("text"))
    val pre = winners.select(col("doc_id"), col("lang"),
      cs.getItem(0).as("__c0"), cs.getItem(1).as("__c1"),
      cs.getItem(2).as("__c2"), cs.getItem(3).as("__c3"),
      (length(trim(col("text"))) === 0).as("__blank"), col("text"))
    val base = pre.select(col("doc_id"), col("lang"), col("__c0"), col("__c1"),
      col("__c2"), col("__c3"), col("__blank"),
      explode(split(trim(col("text")), "\\s+")).as("__tok"))
    // doc-constant columns ride in the GROUP KEY, not the agg buffer: a
    // first()-style carry of a string/array makes the buffer non-mutable
    // and silently degrades HashAggregate to SortAggregate (a full sort of
    // every exploded token row — measured 5x slower); keys have no such
    // restriction, and doc_id already determines them
    val agg = base
      .groupBy(col("doc_id"), col("lang"), col("__c0"), col("__c1"),
        col("__c2"), col("__c3"), col("__blank"))
      .agg(count(lit(1)).as("__n"),
        sum(ceil(length(col("__tok")).cast("double") / 4.0).cast("long")).as("__est"),
        sum(when(lower(col("__tok")).isin(TextAnalysis.stopwords.map(lit(_)): _*), 1L)
          .otherwise(0L)).as("__sw"))
    // the ROUND(.., 6) component values TextAnalysis.stats emits — identical
    // inputs to the shared quality blend, so thresholds cannot diverge
    val len = col("__c0").cast("double")
    val digitRatio = round(when(col("__c0") === 0, 0.0)
      .otherwise(col("__c1").cast("double") / col("__c0")), 6)
    val meanTokLen = round(when(col("__blank"), 0.0)
      .otherwise((col("__c0") - col("__c3")).cast("double") / col("__n")), 6)
    val swRatio = round(when(col("__blank"), 0.0)
      .otherwise(col("__sw").cast("double") / col("__n")), 6)
    val quality = TextAnalysis.qualityFromStats(len, meanTokLen, swRatio, digitRatio)
    val tokenEst = when(col("__blank"), 0L).otherwise(col("__est"))
    agg.select(col("lang"), tokenEst.as("token_est"), quality.as("__q"))
      .where(col("__q") >= minQuality)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("token_est")).as("n_tokens"))
      .orderBy(col("lang"))
  }

  /** The WHOLE training-data pipeline as one composition — the 100 TB
    * dress rehearsal (gate x95 at sf0.01; the DressRehearsal main runs it
    * at sf10 and dumps per-operator SQLMetrics):
    * normalize → Gopher wc/mwl filter → exact dedup → near-dup families
    * (LSH candidates + exact-Jaccard verify + connected components) →
    * leakage-safe split BY FAMILY (near-dups are kept but never straddle
    * train/test) → per-(split, bucket) sequence packing. Returns the
    * packed corpus (id, rep, split, bucket, token_est, shard, bin),
    * ready for [[writeShards]].
    *
    * Scale notes: the two corpus-sized materializations each cut a
    * ≥3-way re-execution of the whole upstream (survivors feed the pair
    * mining, the token stats, AND the split). By default they are
    * `localCheckpoint`s (MEMORY_AND_DISK — they spill rather than OOM,
    * but die with the session). Pass `seamDir` to land them on PARQUET
    * with the x83 `_COMMITTED` marker discipline instead — the 100 TB
    * posture: each seam directory is observed empty-or-complete, and a
    * RE-RUN with the same `seamDir` resumes from any committed seam
    * without re-executing its upstream (restart-from-seam; delete the
    * directory to force recompute). Shard/bin hashing uses the portable
    * multiplicative hash so external systems can recompute placement. */
  def fullPipeline(docs: DataFrame, textCol: String = "text",
                   idCol: String = "doc_id", testPercent: Int = 10,
                   budget: Long = 2048L, buckets: Int = 4,
                   nearDupThreshold: Double = 0.8,
                   seamDir: Option[String] = None): DataFrame = {
    def landed(df: => DataFrame, name: String): DataFrame = seamDir match {
      case None       => df.localCheckpoint()
      case Some(root) => seam(df, s"$root/$name")
    }
    // Par.widen at the head (r16 opt, guide §2.5 input skew): the
    // normalize/gopher prefix is regex-heavy and exactByHash consumes it
    // on BOTH sides of its semi-join — on a one-file scan all of that ran
    // on a single core. No-op for already-parallel scans (the 100 TB case).
    val normed = Par.widen(docs, idCol).select(col(idCol).as("doc_id"),
      TextAnalysis.normalizeText(col(textCol)).as("text"))
    val filtered = QualityFilters.gopherFilter(
      normed, "text", required = Seq("wc_ok", "mwl_ok"))
    val kept = landed(Dedup.exactByHash(filtered, "text", "doc_id"),
      "kept") // read 3×: pair mining, token stats, split
    val pairs = landed(Dedup.nearDuplicates(kept, "text", "doc_id",
        threshold = nearDupThreshold)
      .select(col("ida"), col("idb")), "pairs")
    val fams = Components.connectedComponents(pairs)
    val splits = Sampling.leakageSafeSplit(kept, "text", "doc_id",
      testPercent, Some(fams))
    val tokens = kept
      .select(col("doc_id"),
        explode(split(trim(col("text")), "\\s+")).as("__tok"))
      .where(col("__tok") =!= "")
      .groupBy(col("doc_id"))
      .agg(sum(ceil(length(col("__tok")).cast("double") / 4.0).cast("long"))
        .as("token_est"))
    val bucket = pmod(
      pmod(col("id"), lit(1000000L)) * lit(2654435761L) % lit(1000000L),
      lit(buckets.toLong))
    val assigned = splits.join(tokens, splits("id") === tokens("doc_id"))
      .select(col("id"), col("rep"), col("split"),
        bucket.as("bucket"), col("token_est"))
    packSequences(assigned, "id", "token_est", budget,
      shard = concat(col("split"), lit("#"), col("bucket").cast("string")))
  }

  /** Sequence packing: assign each document to a fixed token-budget bin
    * (the pretraining batch-assembly step). Deterministic running-sum
    * binning — bin = floor(tokens-before-this-doc / budget) within a
    * shard, docs ordered by `idCol`.
    *
    * Scale: packing is per-SHARD (`shard` expression), so the running-sum
    * window parallelizes across shards instead of forcing one global sort;
    * each shard packs independently (the standard practice — training
    * shards are independent files anyway). Output adds (shard, bin). */
  def packSequences(docs: DataFrame, idCol: String, tokenCol: String,
                    budget: Long, shard: org.apache.spark.sql.Column): DataFrame = {
    require(budget > 0, "budget must be positive")
    val w = Window.partitionBy(shard).orderBy(col(idCol))
    val before = coalesce(
      sum(col(tokenCol)).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
    docs.withColumn("shard", shard)
      .withColumn("bin", floor(before / budget).cast("long"))
  }

  /** [[packSequences]] sharded by a content hash of the id — works for any
    * id type (string keys included) and stays uniform when numeric ids are
    * block-allocated per source (where a plain modulo would skew shards). */
  def packSequences(docs: DataFrame, idCol: String, tokenCol: String,
                    budget: Long, shards: Int = 8): DataFrame =
    packSequences(docs, idCol, tokenCol, budget,
      pmod(xxhash64(col(idCol)), lit(shards.toLong)))

  /** Pack a TOKEN STREAM ([[Subwords.encode]] output) into
    * fixed-length training sequences — the pretraining batch-assembly
    * step proper: within each shard, documents concatenate in (id, wpos,
    * tpos) order and the stream is cut every `seqLen` tokens, documents
    * crossing sequence boundaries exactly as LLM packing does. Output
    * adds (shard, seq_id, offset); (shard, seq_id, offset) is a total
    * address of every token.
    *
    * Scale: one window per shard with single-counter state (row_number)
    * — shards pack independently and in parallel, no global sort; the
    * shard expression is the caller's (content-addressed hashing keeps
    * placement reproducible). */
  def packTokenStream(tokens: DataFrame, seqLen: Int,
                      shard: org.apache.spark.sql.Column): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    val w = Window.partitionBy(col("__shard"))
      .orderBy(col("id"), col("wpos"), col("tpos"))
    tokens.withColumn("__shard", shard)
      .withColumn("__i", row_number().over(w).cast("long") - 1L)
      .select(col("__shard").as("shard"),
        floor(col("__i") / seqLen).cast("long").as("seq_id"),
        (col("__i") % seqLen).as("offset"),
        col("id"), col("token_id"))
  }

  /** [[packTokenStream]] with the shard count DERIVED from the corpus
    * instead of pinned by the caller — the production sizing rule the
    * fixed-shard scaladoc prescribes ("shards ∝ corpus"), automated:
    * `nShards = ceil(total_tokens / targetTokensPerShard)`, so per-shard
    * work (one window-sort task over ~targetTokensPerShard rows) stays
    * CONSTANT as the corpus grows. Pass `estimatedTokens` when upstream
    * already knows the total (the curation stats do); otherwise one
    * cheap columnar count() of the stream derives it. Shard assignment
    * is the portable multiplicative hash of the doc id (the x98
    * convention) — placement is reproducible by any external system
    * from (id, nShards) alone, and every token keeps a total
    * (shard, seq_id, offset) address. */
  def packTokenStreamAuto(tokens: DataFrame, seqLen: Int,
                          targetTokensPerShard: Long,
                          estimatedTokens: Option[Long] = None): DataFrame = {
    require(targetTokensPerShard > 0, "targetTokensPerShard must be positive")
    val total = estimatedTokens.getOrElse(tokens.count())
    val nShards =
      math.max(1L, (total + targetTokensPerShard - 1) / targetTokensPerShard)
    packTokenStream(tokens, seqLen,
      pmod(pmod(col("id"), lit(1000000L)) * lit(2654435761L) % lit(1000000L),
        lit(nShards)))
  }

  /** Publish the curated corpus as `shards` size-balanced parquet shards —
    * the final step of a training-data pipeline (downstream loaders want
    * uniform shard sizes for even data-parallel reads).
    *
    * Shard assignment is content-addressed (xxhash64 of the id, the
    * repo-wide sampling convention): a row lands in the same shard across
    * runs, partitionings, and cluster sizes, and shard row-counts
    * concentrate tightly around n/shards (multiplicative Chernoff: ±1% at
    * 10⁶ rows/shard). `repartition(shards, shardCol)` makes each shard
    * exactly one task's output file — one shuffle, then a straight
    * columnar write; no global sort, no driver involvement.
    *
    * Returns per-shard (shard, n_rows) read back from the written files —
    * the audit a publish step should emit. */
  def writeShards(docs: DataFrame, idCol: String, outDir: String,
                  shards: Int): DataFrame = {
    require(shards >= 1, "need at least one shard")
    val shardCol = pmod(xxhash64(col(idCol)), lit(shards.toLong))
    docs.withColumn("shard", shardCol)
      .repartition(shards, col("shard"))
      .write.mode("overwrite")
      .partitionBy("shard")
      .parquet(outDir)
    // materialize NOW (eager localCheckpoint): the audit must reflect the
    // files as just written — a lazy frame over the directory would
    // silently re-read (and change) after any later overwrite of outDir
    // (round-8 advisory)
    docs.sparkSession.read.parquet(outDir)
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("n_rows"))
      .localCheckpoint(true)
  }
}
