package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM-training-data pipelines (SURVEY §7.2 M4).
  *
  * Scale design notes (the 100 TB contract):
  *  - exact dedup is one hash-partitioned groupBy on the key — Spark's
  *    map-side partial aggregation keeps the shuffle at one record per
  *    (partition, key);
  *  - MinHash/SimHash candidate generation shuffles (band, bucket-hash)
  *    pairs, never document cross products; only same-bucket documents are
  *    joined, so the quadratic blowup is bounded by bucket size;
  *  - all signature computation is pure Column expressions (codegen'd,
  *    no UDFs, no driver collects).
  */
object Dedup {

  // ------------------------------------------------------------------
  // exact
  // ------------------------------------------------------------------

  /** Exact dedup: keep the lowest `idCol` per distinct `keyCols` value.
    * Returns the surviving rows (all original columns). */
  def exact(df: DataFrame, keyCols: Seq[String], idCol: String): DataFrame = {
    val key = keyCols.map(col)
    // min-id per key, then inner join back (broadcast-unsafe at scale: the
    // keeper set is the same size as the output; a semi-join on (key, id)
    // shuffles once on the same key as the groupBy — AQE reuses the
    // exchange).
    val keep = df.groupBy(key: _*).agg(min(col(idCol)).as(idCol))
    df.join(keep, keyCols :+ idCol, "left_semi")
  }

  /** Exact dedup keeping the BEST row per duplicate family instead of the
    * min id — the RefinedWeb/FineWeb representative-selection shape: when
    * a page is crawled many times, keep the copy with the highest quality
    * score (longest extraction, best classifier score), not an arbitrary
    * one. Ties break on min id, so the result is deterministic across
    * runs, partitionings, and engines (oracle-gated, x82).
    *
    * Scale: ONE keyed shuffle — row_number over (key → score desc, id
    * asc) keeps rank 1; same exchange shape as [[exact]]'s groupBy, and
    * the window sorts only (score, id) per family. Skewed duplicate families
    * land one-per-task like any keyed window; the cap is the family's own
    * row count (the work dedup must do anyway). */
  def exactKeepBest(df: DataFrame, keyCols: Seq[String], idCol: String,
                    scoreCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(col(scoreCol).desc, col(idCol).asc)
    df.withColumn("__kb_rn", row_number().over(w))
      .where(col("__kb_rn") === 1).drop("__kb_rn")
  }

  /** [[exactKeepBest]] at near-duplicate granularity: cluster with the
    * star-edge path ([[clusterNearDuplicates]] — O(rows×bands) under any
    * skew), then keep each cluster's best-scoring member (ties → min id);
    * rows in no cluster are kept. One extra keyed window over the
    * (small) clustered subset — the corpus never re-shuffles. */
  def keepBestPerCluster(docs: DataFrame, textCol: String, idCol: String,
                         scoreCol: String, threshold: Double = 0.8): DataFrame = {
    val comp = clusterNearDuplicates(docs, textCol, idCol, threshold)
      .select(col("id").as(idCol), col("comp"))
    val clustered = docs.join(comp, Seq(idCol))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("comp")).orderBy(col(scoreCol).desc, col(idCol).asc)
    val losers = clustered
      .withColumn("__kb_rn", row_number().over(w))
      .where(col("__kb_rn") =!= 1).select(col(idCol))
    docs.join(losers, Seq(idCol), "left_anti")
  }

  /** Dedup survivors by content hash — same result as `exact` on a text
    * key but shuffles a 128-bit digest instead of full documents. md5 (not
    * a 64-bit hash): at billions of documents the 64-bit birthday bound
    * makes a collision — i.e. silently dropping a unique document —
    * likely; 128 bits pushes that past 10^18 docs. */
  def exactByHash(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val h = md5(col(textCol).cast("binary"))
    val keep = df.select(h.as("__h"), col(idCol))
      .groupBy(col("__h")).agg(min(col(idCol)).as(idCol))
    df.join(keep.select(col(idCol)), Seq(idCol), "left_semi")
  }

  /** Line-level boilerplate removal (CCNet-style): a non-blank line that
    * occurs in at least `minDocFreq` DISTINCT documents is boilerplate
    * (site headers, nav bars, cookie banners) and is stripped from every
    * document; the survivors are reassembled in original order. Returns
    * the input columns plus `n_kept`, `n_removed`, `cleaned`.
    *
    * Scale (100 TB contract): three key-partitioned shuffles, no cross
    * product — (1) distinct (doc, line) then a map-side-partial count per
    * line; (2) hash anti join of the exploded lines against the hot-line
    * set (small by construction — boilerplate is the repeated tail; AQE
    * broadcasts it when it fits); (3) reassembly groupBy on the doc id.
    * Blank lines are never counted (every doc has them; stripping them
    * would mangle formatting). The reference defines no pipeline ops
    * (SURVEY §7.2); semantics follow CCNet per-shard line dedup. */
  def lineDedup(docs: DataFrame, textCol: String, idCol: String,
                minDocFreq: Long, hashShuffle: Boolean = false): DataFrame =
    lineDedupWith(docs, textCol, idCol,
      hotLines(docs, textCol, idCol, minDocFreq, hashShuffle))

  /** [[lineDedup]] against an ALREADY-COMPUTED hot-line set (r16 opt,
    * guide §1.2): callers that build the hot model anyway — the x51
    * stream-parity harness trains it once for the streaming apply —
    * dedup without recomputing the doc-frequency aggregation. Output is
    * identical by construction ([[lineDedup]] delegates here). */
  def lineDedupWith(docs: DataFrame, textCol: String, idCol: String,
                    hotSet: DataFrame): DataFrame = {
    val lines = docs.select(col(idCol).as("__ld_id"),
      posexplode(split(col(textCol), "\n")).as(Seq("__ld_pos", "__ld_line")))
    val hot = hotSet.select(hotSet(hotSet.columns.head).as("__ld_hot"))
    val kept = lines.join(hot, lines("__ld_line") === hot("__ld_hot"), "left_anti")
    val reasm = kept.groupBy(col("__ld_id")).agg(
      count(lit(1)).as("n_kept"),
      concat_ws("\n",
        transform(array_sort(collect_list(struct(col("__ld_pos"), col("__ld_line")))),
          x => x.getField("__ld_line"))).as("cleaned"))
    docs.join(reasm, col(idCol) === reasm("__ld_id"), "left")
      .withColumn("n_kept", coalesce(col("n_kept"), lit(0L)))
      .withColumn("cleaned", coalesce(col("cleaned"), lit("")))
      .withColumn("n_removed",
        size(split(col(textCol), "\n")).cast("long") - col("n_kept"))
      .drop("__ld_id")
  }

  /** Corpus-global hot (boilerplate) line set — non-blank lines appearing
    * in >= `minDocFreq` distinct docs — as a one-column (`line`) frame.
    * The precomputable "model" half of [[lineDedup]]. hashShuffle mode
    * gets the same result in two phases: (1) doc-frequency on
    * xxhash64(line) — the wide shuffle carries 8-byte keys instead of
    * full lines (10×+ narrower for prose); hash pooling can only INFLATE
    * a count, so phase 1 is a lossless over-approximation of the hot set;
    * (2) recount the true df of just the candidate lines (small by
    * construction — boilerplate is the repeated tail) after a broadcast
    * semi join, which removes any collision-inflated candidate. Results
    * are identical in both modes at any corpus size. */
  def hotLines(docs: DataFrame, textCol: String, idCol: String,
               minDocFreq: Long, hashShuffle: Boolean = false): DataFrame = {
    val nonBlank = docs.select(col(idCol).as("__ld_id"),
        explode(split(col(textCol), "\n")).as("__ld_line"))
      .where(trim(col("__ld_line")) =!= "")
    def dfAtLeast(src: DataFrame): DataFrame =
      src.select(col("__ld_id"), col("__ld_line")).distinct()
        .groupBy(col("__ld_line")).agg(count(lit(1)).as("__ld_df"))
        .where(col("__ld_df") >= minDocFreq)
        .select(col("__ld_line").as("line"))
    if (hashShuffle) {
      val hotHashes = nonBlank
        .select(col("__ld_id"), xxhash64(col("__ld_line")).as("__ld_k")).distinct()
        .groupBy(col("__ld_k")).agg(count(lit(1)).as("__ld_df"))
        .where(col("__ld_df") >= minDocFreq)
        .select(col("__ld_k"))
      dfAtLeast(nonBlank.join(broadcast(hotHashes),
        xxhash64(col("__ld_line")) === hotHashes("__ld_k"), "left_semi"))
    } else dfAtLeast(nonBlank)
  }

  /** Apply a precomputed hot-line set ([[hotLines]]) to documents PER ROW
    * — no explode, no grouping, no state: the hot set (small by
    * construction) collapses to a single broadcast array row and each
    * document filters its own lines with a codegen higher-order function.
    * Streaming-safe (a stateless stream-static join), which is exactly how
    * line dedup deploys on live ingest: the model refreshes offline, the
    * stream curates row-at-a-time. Output contract matches [[lineDedup]]
    * (`n_kept` / `cleaned` / `n_removed`; parity gated by x51). */
  def applyLineDedup(docs: DataFrame, textCol: String, idCol: String,
                     hot: DataFrame): DataFrame = {
    // membership probes run per LINE of every document, and the hot set
    // is a model that GROWS with the corpus (53 → 2,831 lines on the
    // 100× sweep): `array_contains` is a linear scan, turning the
    // stateless filter into lines×|hot| work (x51 673 s at sf10). The
    // array ships as SORTED xxhash64 keys instead — 8 bytes/entry and an
    // O(log|hot|) codegen binary search per probe ([[graft.expr.
    // SortedArrayContains]]); collision contract 2⁻⁶⁴, same as
    // [[exactByHash]]. sf10 re-measure: 673 s → linear.
    val hotArr = broadcast(hot.agg(
      sort_array(collect_list(xxhash64(hot(hot.columns.head))))
        .as("__ld_hotarr")))
    docs.join(hotArr, lit(true), "inner")
      .withColumn("__ld_kept", filter(split(col(textCol), "\n"),
        l => !graft.expr.SortedArrayContains(col("__ld_hotarr"), xxhash64(l))))
      .withColumn("n_kept", size(col("__ld_kept")).cast("long"))
      .withColumn("cleaned", concat_ws("\n", col("__ld_kept")))
      .withColumn("n_removed",
        size(split(col(textCol), "\n")).cast("long") - col("n_kept"))
      .drop("__ld_kept", "__ld_hotarr")
  }

  /** Paragraph-level boilerplate removal with NORMALIZED matching —
    * CCNet/RefinedWeb dedup at paragraph granularity: web boilerplate
    * (cookie banners, nav blocks, share widgets) repeats across pages
    * with cosmetic variation (case, punctuation, extra spaces), so the
    * hot set matches on a normalized key — `lower`, non-alphanumerics
    * collapsed to single spaces, trimmed — while the OUTPUT keeps each
    * surviving paragraph's original bytes. Same contract and shuffle
    * shape as [[lineDedup]] (3 keyed shuffles: distinct (doc, key) →
    * per-key doc-frequency with map-side partials; hash anti join of the
    * paragraph stream against the hot set (small by construction — AQE
    * broadcasts it); per-doc reassembly groupBy). Paragraph boundary =
    * one-or-more blank lines (`\n\s*\n`); paragraphs whose normalized key
    * is empty (decoration-only) are never hot — structure survives. */
  /** Normalized paragraph match key: `lower`, non-alphanumerics collapsed
    * to single spaces, trimmed. Shared by [[paragraphDedup]],
    * [[hotParagraphs]] and [[applyParagraphDedup]]. */
  private def paragraphKey(p: Column): Column =
    trim(regexp_replace(lower(p), "[^a-z0-9]+", " "))

  /** Corpus-global hot (boilerplate) PARAGRAPH key set — normalized keys
    * appearing in >= `minDocFreq` distinct docs — as a one-column (`key`)
    * frame. The precomputable "model" half of [[paragraphDedup]], exactly
    * as [[hotLines]] is for [[lineDedup]]. */
  def hotParagraphs(docs: DataFrame, textCol: String, idCol: String,
                    minDocFreq: Long): DataFrame =
    docs.select(col(idCol).as("__pd_id"),
        explode(split(col(textCol), "\\n\\s*\\n")).as("__pd_para"))
      .withColumn("__pd_key", paragraphKey(col("__pd_para")))
      .where(col("__pd_key") =!= "")
      .select(col("__pd_id"), col("__pd_key")).distinct()
      .groupBy(col("__pd_key")).agg(count(lit(1)).as("__pd_df"))
      .where(col("__pd_df") >= minDocFreq)
      .select(col("__pd_key").as("key"))

  /** Apply a precomputed hot-paragraph key set ([[hotParagraphs]]) PER ROW
    * — no explode, no grouping, no state: the hot set (small by
    * construction) collapses to one broadcast array row and each document
    * filters its own paragraphs with a codegen higher-order function that
    * normalizes each paragraph before the membership probe. Streaming-safe
    * (stateless stream-static join) — the model refreshes offline, the
    * stream curates row-at-a-time; output contract matches
    * [[paragraphDedup]] (parity gated by x64). */
  def applyParagraphDedup(docs: DataFrame, textCol: String, idCol: String,
                          hot: DataFrame): DataFrame = {
    // sorted-hash probe, not array_contains — see [[applyLineDedup]]'s
    // growth note (x64 was 663 s at the 100× sweep for the same reason)
    val hotArr = broadcast(hot.agg(
      sort_array(collect_list(xxhash64(hot(hot.columns.head))))
        .as("__pd_hotarr")))
    docs.join(hotArr, lit(true), "inner")
      .withColumn("__pd_kept", filter(split(col(textCol), "\\n\\s*\\n"),
        p => !graft.expr.SortedArrayContains(col("__pd_hotarr"),
          xxhash64(paragraphKey(p)))))
      .withColumn("n_kept", size(col("__pd_kept")).cast("long"))
      .withColumn("cleaned", concat_ws("\n\n", col("__pd_kept")))
      .withColumn("n_removed",
        size(split(col(textCol), "\\n\\s*\\n")).cast("long") - col("n_kept"))
      .drop("__pd_kept", "__pd_hotarr")
  }

  def paragraphDedup(docs: DataFrame, textCol: String, idCol: String,
                     minDocFreq: Long): DataFrame =
    paragraphDedupWith(docs, textCol, idCol,
      hotParagraphs(docs, textCol, idCol, minDocFreq))

  /** [[paragraphDedup]] against an ALREADY-COMPUTED hot-paragraph key set
    * (r16 opt, guide §1.2) — the x64 harness trains the model once for
    * the streaming apply; the batch side reuses it instead of re-running
    * the doc-frequency aggregation. Output identical by construction
    * ([[paragraphDedup]] delegates here). */
  def paragraphDedupWith(docs: DataFrame, textCol: String, idCol: String,
                         hotSet: DataFrame): DataFrame = {
    val paras = docs.select(col(idCol).as("__pd_id"),
        posexplode(split(col(textCol), "\\n\\s*\\n")).as(Seq("__pd_pos", "__pd_para")))
      .withColumn("__pd_key", paragraphKey(col("__pd_para")))
    val hot = hotSet.select(hotSet(hotSet.columns.head).as("__pd_hot"))
    val kept = paras.join(hot, paras("__pd_key") === hot("__pd_hot"), "left_anti")
    val reasm = kept.groupBy(col("__pd_id")).agg(
      count(lit(1)).as("n_kept"),
      concat_ws("\n\n",
        transform(array_sort(collect_list(struct(col("__pd_pos"), col("__pd_para")))),
          x => x.getField("__pd_para"))).as("cleaned"))
    docs.join(reasm, col(idCol) === reasm("__pd_id"), "left")
      .withColumn("n_kept", coalesce(col("n_kept"), lit(0L)))
      .withColumn("cleaned", coalesce(col("cleaned"), lit("")))
      .withColumn("n_removed",
        size(split(col(textCol), "\\n\\s*\\n")).cast("long") - col("n_kept"))
      .drop("__pd_id")
  }

  // ------------------------------------------------------------------
  // MinHash + LSH
  // ------------------------------------------------------------------

  /** Deterministic universal-hash coefficients (seeded — stable across
    * runs and JVMs, required for driver re-verification). */
  private def coefficients(n: Int, seed: Long): (Seq[Long], Seq[Long]) = {
    val rnd = new scala.util.Random(seed)
    val p = (1L << 31) - 1 // Mersenne prime 2^31-1
    val a = Seq.fill(n)(1L + (rnd.nextLong().abs % (p - 1)))
    val b = Seq.fill(n)(rnd.nextLong().abs % p)
    (a, b)
  }

  private val MersennePrime = (1L << 31) - 1

  /** Word w-shingles of a document as an array column. (Interpreted HOF —
    * fine for ad-hoc Column use; the scale path is [[shingleRows]].) */
  def shingles(text: Column, w: Int = 3): Column = {
    val words = split(lower(trim(text)), "\\s+")
    when(size(words) < w, array(concat_ws(" ", words)))
      .otherwise(transform(
        sequence(lit(0), size(words) - w),
        i => concat_ws(" ", slice(words, i + 1, lit(w)))))
  }

  /** Word w-shingles as (id, shingle) ROWS — same strings as [[shingles]]
    * but fully codegen'd AND shuffle-free: split once into a words array,
    * explode the start offsets, `slice` + `concat_ws` each shingle out of
    * the array (all codegen expressions; the array never shuffles — rows
    * for one doc stay in the scan partition, so a downstream groupBy(id)
    * gets full map-side partial aggregation). Short docs fall back to the
    * whole normalized text. (A previous revision used a lead() window,
    * which cost a partition-by-doc shuffle + sort per call.) */
  def shingleRows(df: DataFrame, textCol: String, idCol: String,
                  w: Int = 3): DataFrame = {
    val norm = trim(lower(col(textCol)))
    val withWords = Par.widen(df, idCol).select(col(idCol).as("id"), split(norm, "\\s+").as("__ws"))
    val full = withWords
      .where(size(col("__ws")) >= w)
      .select(col("id"),
        explode(sequence(lit(1), size(col("__ws")) - (w - 1))).as("__i"), col("__ws"))
      .select(col("id"), concat_ws(" ", slice(col("__ws"), col("__i"), lit(w))).as("sh"))
    val short = withWords
      .where(size(col("__ws")) < w)
      .select(col("id"), concat_ws(" ", col("__ws")).as("sh"))
    full.union(short)
  }

  /** k-component MinHash signature over word shingles: for each seeded
    * permutation i, min_i over shingles of ((a_i * h + b_i) mod p).
    * One narrow projection — no shuffle. */
  def minhashSignature(text: Column, k: Int = 64, shingleW: Int = 3,
                       seed: Long = 42L): Column = {
    val (as, bs) = coefficients(k, seed)
    val hashes = transform(shingles(text, shingleW),
      s => pmod(xxhash64(s), lit(MersennePrime)))
    array((0 until k).map { i =>
      array_min(transform(hashes,
        h => pmod(h * as(i) + bs(i), lit(MersennePrime))))
    }: _*)
  }

  /** MinHash signatures via explode + codegen'd hash aggregation — the
    * scale path. Nested higher-order functions (`transform`/`aggregate`)
    * are CodegenFallback in Catalyst (interpreted per element, ~100×
    * slower); exploding shingles to rows and computing k `min(pmod(...))`
    * aggregates keeps everything in whole-stage codegen with map-side
    * partial aggregation (shingles of one doc are colocated, so the
    * shuffle carries one signature row per doc). */
  def minhashSignatures(df: DataFrame, textCol: String, idCol: String,
                        k: Int = 64, shingleW: Int = 3,
                        seed: Long = 42L): DataFrame = {
    val (as, bs) = coefficients(k, seed)
    val exploded = shingleRows(df, textCol, idCol, shingleW)
      .select(col("id"), pmod(xxhash64(col("sh")), lit(MersennePrime)).as("h"))
    val aggs = (0 until k).map(i =>
      min(pmod(col("h") * as(i) + bs(i), lit(MersennePrime))).as(s"m$i"))
    exploded.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
      .select(col("id"), array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** LSH banding: candidate pairs are documents sharing at least one
    * (band, band-hash) bucket. `bands` * rowsPerBand = signature length.
    * Returns (idA, idB, est_jaccard) with idA < idB, est_jaccard =
    * fraction of equal signature components (the MinHash estimator). */
  def minhashCandidates(df: DataFrame, textCol: String, idCol: String,
                        k: Int = 64, bands: Int = 16, shingleW: Int = 3,
                        threshold: Double = 0.5, seed: Long = 42L): DataFrame = {
    require(k % bands == 0, "bands must divide signature length")
    val r = k / bands
    // Signatures materialized once (≈ rows × k longs — small): referenced
    // by the banding pass AND twice by the estimator join below.
    val sig = minhashSignatures(df, textCol, idCol, k, shingleW, seed)
      .localCheckpoint()
    // same-bucket self-join on (band, band-hash) with IDs ONLY — the
    // narrow distinct collapses multi-band collisions before the wide
    // signature arrays are re-attached to the (small) pair set.
    val banded = sig.select(col("id"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"),
            // xxhash64 hashes array values natively (no serialization)
            xxhash64(slice(col("sig"), b * r + 1, lit(r))).as("bh"))))
          .as("bucket"))
      .select(col("id"), col("bucket.band").as("band"), col("bucket.bh").as("bh"))
    val pairs = banded.select(col("band"), col("bh"), col("id").as("ida"))
      .join(banded.select(col("band"), col("bh"), col("id").as("idb")), Seq("band", "bh"))
      .where(col("ida") < col("idb"))
      .select(col("ida"), col("idb")).distinct()
    val withSigs = pairs
      .join(sig.select(col("id").as("ida"), col("sig").as("siga")), "ida")
      .join(sig.select(col("id").as("idb"), col("sig").as("sigb")), "idb")
    val est = size(filter(zip_with(col("siga"), col("sigb"), (x, y) => x === y),
      (b: Column) => b)).cast("double") / k
    withSigs.select(col("ida"), col("idb"), round(est, 4).as("est_jaccard"))
      .where(col("est_jaccard") >= threshold)
  }

  // ------------------------------------------------------------------
  // SimHash
  // ------------------------------------------------------------------

  /** 64-bit SimHash over word tokens: bit i of the output is set when the
    * sum over tokens of ±1 (by bit i of the token hash) is positive. */
  def simhash(text: Column): Column = {
    val hashes = transform(split(lower(trim(text)), "\\s+"), t => xxhash64(t))
    val bits = transform(sequence(lit(0), lit(63)), i =>
      when(aggregate(hashes, lit(0L),
        (acc, h) => acc + when(call_function("shiftright", h, i).bitwiseAND(1) === 1, 1L).otherwise(-1L)) > 0,
        call_function("shiftleft", lit(1L), i)).otherwise(lit(0L)))
    aggregate(bits, lit(0L), (acc, b) => acc.bitwiseOR(b))
  }

  /** SimHash near-dup candidates: documents sharing at least one of four
    * 16-bit chunks (any pair with Hamming distance <= 3 must share one).
    * Returns (ida, idb, hamming). */
  /** SimHash signatures via explode + codegen'd aggregation (same scale
    * rationale as [[minhashSignatures]]): one ±1 sum per bit as 64
    * codegen'd aggregates, then the bit-pack as a plain projection. */
  def simhashSignatures(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = Par.widen(df, idCol).select(col(idCol).as("id"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("t"))
      .select(col("id"), xxhash64(col("t")).as("h"))
    val aggs = (0 until 64).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1L).otherwise(-1L)).as(s"b$i"))
    val bitCols = (0 until 64).map(i =>
      when(col(s"b$i") > 0, lit(1L << i)).otherwise(lit(0L)))
    toks.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
      .select(col("id"), bitCols.reduce((a, b) => a.bitwiseOR(b)).as("sh"))
  }

  def simhashCandidates(df: DataFrame, textCol: String, idCol: String,
                        maxHamming: Int = 3): DataFrame =
    // materialize once (rows × 16 bytes): both sides of the bucket
    // self-join read the signatures, and the two sides alias differently
    // so exchange reuse cannot deduplicate the agg subtree on its own
    hammingCandidatesFromSig(
      simhashSignatures(df, textCol, idCol).localCheckpoint(), maxHamming)

  /** Banded Hamming candidate pairs over ANY precomputed 64-bit signature
    * relation (id, sh) — the SimHash bucketing machinery, reusable for
    * other perceptual signatures (e.g. `Multimodal.dHash` image hashes):
    * a pair within Hamming distance <= 3 must share one of the four
    * 16-bit chunks, so the N×N comparison collapses to four bucket
    * equi-joins. Returns (ida, idb, hamming) filtered to `maxHamming`. */
  def hammingCandidatesFromSig(withSig: DataFrame,
                               maxHamming: Int = 3): DataFrame = {
    val chunked = withSig.select(col("id"), col("sh"),
      explode(transform(sequence(lit(0), lit(3)),
        c => struct(c.as("chunk"),
          call_function("shiftright", col("sh"), c * lit(16)).bitwiseAND(0xFFFFL).as("ch")))).as("b"))
      .select(col("id"), col("sh"), col("b.chunk").as("chunk"), col("b.ch").as("ch"))
    val l = chunked.select(col("chunk"), col("ch"), col("id").as("ida"), col("sh").as("sha"))
    val r = chunked.select(col("chunk"), col("ch"), col("id").as("idb"), col("sh").as("shb"))
    val pairs = l.join(r, Seq("chunk", "ch")).where(col("ida") < col("idb"))
      .select(col("ida"), col("idb"), col("sha"), col("shb")).distinct()
    val hamming = bit_count(col("sha").bitwiseXOR(col("shb")))
    pairs.select(col("ida"), col("idb"), hamming.cast("int").as("hamming"))
      .where(col("hamming") <= maxHamming)
  }

  // ------------------------------------------------------------------
  // exact n-gram Jaccard (verification-grade, over candidate pairs)
  // ------------------------------------------------------------------

  /** Exact word-n-gram Jaccard for given candidate pairs. Gram sets are
    * computed ONLY for documents that appear in a pair (semi-join
    * pre-filter — candidates ≪ corpus at scale), via the codegen'd
    * [[shingleRows]] + collect_set. */
  def ngramJaccard(pairs: DataFrame, docs: DataFrame, textCol: String,
                   idCol: String, n: Int = 3): DataFrame = {
    val wanted = pairs.select(col("ida").as(idCol))
      .union(pairs.select(col("idb").as(idCol))).distinct()
    val needed = docs.join(wanted, Seq(idCol), "left_semi")
    // materialized once: referenced by BOTH pair-side joins below, which
    // would otherwise each re-run the shingle + collect_set pipeline
    val g = shingleRows(needed, textCol, idCol, n)
      .groupBy(col("id")).agg(collect_set(col("sh")).as("__grams"))
      .localCheckpoint()
    pairs
      .join(g.select(col("id").as("ida"), col("__grams").as("ga")), "ida")
      .join(g.select(col("id").as("idb"), col("__grams").as("gb")), "idb")
      // RAW ratio — thresholds downstream must compare the exact value
      // (rounding before filtering would disagree with an oracle that
      // filters unrounded at the boundary); round only for display
      .select(col("ida"), col("idb"),
        (size(array_intersect(col("ga"), col("gb"))).cast("double") /
          size(array_union(col("ga"), col("gb")))).as("jaccard"))
  }

  /** Character-level edit similarity for already-identified candidate
    * pairs — the second-opinion verifier after shingle Jaccard (catches
    * e.g. word-order shuffles that keep the same shingle set). Returns
    * (ida, idb, lev, edit_sim) with `edit_sim = 1 − lev/max(|a|,|b|)`.
    *
    * Scale: Levenshtein is O(|a|·|b|) per pair — ONLY ever run it on a
    * candidate set bounded by LSH/banding, never all pairs; texts are
    * attached by two hash joins against the (small) pair list, so the
    * corpus never self-joins. */
  def editSimilarity(pairs: DataFrame, docs: DataFrame, textCol: String,
                     idCol: String): DataFrame = {
    val t = docs.select(col(idCol), lower(trim(col(textCol))).as("__t"))
    pairs
      .join(t.select(col(idCol).as("ida"), col("__t").as("__ta")), "ida")
      .join(t.select(col(idCol).as("idb"), col("__t").as("__tb")), "idb")
      .select(col("ida"), col("idb"),
        levenshtein(col("__ta"), col("__tb")).cast("long").as("lev"),
        round(lit(1.0) - levenshtein(col("__ta"), col("__tb")).cast("double") /
          greatest(length(col("__ta")), length(col("__tb"))), 6).as("edit_sim"))
  }

  /** End-to-end near-dup pipeline: MinHash-LSH candidates verified with
    * exact n-gram Jaccard at `threshold`. */
  def nearDuplicates(docs: DataFrame, textCol: String, idCol: String,
                     threshold: Double = 0.8): DataFrame = {
    // Candidate pairs are referenced three times downstream (ida-side,
    // idb-side, and the verify join); localCheckpoint materializes the
    // (tiny) pair set once instead of re-running the MinHash pipeline per
    // reference.
    val cands = minhashCandidates(docs, textCol, idCol, threshold = threshold * 0.6)
      .select(col("ida"), col("idb")).localCheckpoint()
    ngramJaccard(cands, docs, textCol, idCol)
      .where(col("jaccard") >= threshold)
      .select(col("ida"), col("idb"), round(col("jaccard"), 4).as("jaccard"))
  }

  /** Near-dup CLUSTERING via per-bucket STAR edges — the dup-heavy-corpus
    * scale path. [[minhashCandidates]]' same-bucket self-join emits
    * C(m,2) pairs for a bucket of m members: correct when the caller
    * needs every pair, but quadratic in duplicate-cluster size — a
    * boilerplate page repeated 1M times in a web crawl turns one bucket
    * into 5·10^11 pairs. When the goal is cluster ASSIGNMENT (keep one
    * representative per duplicate family), the pair set is over-spec:
    * a spanning set of edges per bucket suffices. This operator links
    * each bucket member to the bucket's MIN id — O(rows × bands) edges
    * TOTAL regardless of bucket skew — verifies those star edges with
    * exact n-gram Jaccard, and runs connected components over the
    * verified edges.
    *
    * Returns (id, comp): every document that survived verification into a
    * non-trivial cluster, labelled by its component's min id. Docs with
    * no verified near-dup edge do not appear (singletons — callers keep
    * them all, mirroring [[Components.dedupByCluster]]).
    *
    * Recall note: connectivity flows only through bucket minima, so two
    * docs whose every shared bucket has a dissimilar min can land in
    * different clusters where the all-pairs path would have linked them
    * directly. Exact duplicates are immune (identical text → identical
    * signature → the bucket min IS an exact duplicate, verification
    * cannot fail), and near-dup families are near-cliques, so in practice
    * the loss is small — the skew-stress spec measures it against the
    * all-pairs truth. The trade is deliberate: recall≈1 with a hard
    * O(rows × bands) bound is what survives a 100 TB crawl; the exact
    * all-pairs path stays available as [[nearDuplicates]] + CC (x27).
    */
  def clusterNearDuplicates(docs: DataFrame, textCol: String, idCol: String,
                            threshold: Double = 0.8, k: Int = 64,
                            bands: Int = 16, shingleW: Int = 3,
                            seed: Long = 42L): DataFrame = {
    val star = starCandidates(docs, textCol, idCol, k, bands, shingleW, seed)
    val verified = ngramJaccard(star, docs, textCol, idCol, shingleW)
      .where(col("jaccard") >= threshold)
      .select(col("ida"), col("idb"))
    Components.connectedComponents(verified)
  }

  /** The star-edge candidate step of [[clusterNearDuplicates]], exposed so
    * the skew-stress spec can assert the O(rows × bands) bound directly:
    * per LSH bucket, one edge (bucket-min-id, member) per member — never
    * the all-pairs C(m,2). Returns distinct (ida, idb), ida = a bucket
    * min, ida != idb. */
  def starCandidates(docs: DataFrame, textCol: String, idCol: String,
                     k: Int = 64, bands: Int = 16, shingleW: Int = 3,
                     seed: Long = 42L): DataFrame = {
    require(k % bands == 0, "bands must divide signature length")
    val r = k / bands
    val banded = minhashSignatures(docs, textCol, idCol, k, shingleW, seed)
      .select(col("id"),
        explode(transform(sequence(lit(0), lit(bands - 1)),
          b => struct(b.as("band"),
            xxhash64(slice(col("sig"), b * r + 1, lit(r))).as("bh"))))
          .as("bucket"))
      .select(col("id"), col("bucket.band").as("band"), col("bucket.bh").as("bh"))
      // one keyed shuffle feeds BOTH the min-aggregate and the join back
      .localCheckpoint()
    // star edges: (bucket-min, member). min() is map-side combinable; the
    // join is bucket-key equi (AQE skew-split applies); distinct collapses
    // the ≤ bands repeats of the same edge BEFORE text attach/verify
    val bucketMin = banded.groupBy(col("band"), col("bh"))
      .agg(min(col("id")).as("ida"))
    banded.join(bucketMin, Seq("band", "bh"))
      .where(col("id") =!= col("ida"))
      .select(col("ida"), col("id").as("idb")).distinct()
  }

  /** Incremental dedup — drop rows of `incoming` that duplicate `corpus`
    * exactly (same text) or approximately (word-shingle Jaccard ≥
    * `threshold`, candidates via cross-corpus MinHash-LSH banding). The
    * production daily-batch-vs-index shape: each new crawl dedups against
    * the historical index, and the index participates only as 8-byte text
    * hashes and k-long signatures — never as documents.
    *
    * Scale: exact pass = one hash anti-join (64-bit xxhash64; collisions
    * ~2^-64, same contract as [[exactByHash]]). Near pass = band-bucket
    * join of batch buckets against corpus buckets (candidates bounded by
    * bucket size, never |batch|×|corpus|), exact shingle verification on
    * the candidate pairs only, one anti-join back. Corpus signatures are
    * recomputed here; at scale persist them once and join (they are
    * k×8 bytes/doc — the low-TB "index" for a 100 TB corpus).
    *
    * Ids must be unique across BOTH frames (standard corpus ids).
    *
    * `exactCandidates = true` swaps the LSH band-bucket candidate source
    * for a shared-shingle inverted-index join: any pair with Jaccard > 0
    * shares a shingle, so recall is exactly 1 — no banding miss even for
    * pairs right at the threshold. Use when results must match an
    * all-pairs oracle bit-for-bit (the gate); costlier on corpora with
    * very common shingles, so the LSH default remains the scale path. */
  def againstCorpus(incoming: DataFrame, corpus: DataFrame, textCol: String,
                    idCol: String, threshold: Double = 0.8, k: Int = 64,
                    bands: Int = 16, shingleW: Int = 3, seed: Long = 42L,
                    exactCandidates: Boolean = false): DataFrame = {
    require(k % bands == 0, "bands must divide signature length")
    val r = k / bands
    // 1) exact text duplicates: hash anti-join (the corpus side shuffles
    // 8-byte hashes, not documents)
    val corpusHashes = corpus.select(xxhash64(col(textCol)).as("__ch")).distinct()
    val afterExact = incoming
      .join(corpusHashes, xxhash64(col(textCol)) === col("__ch"), "left_anti")
    // 2) near-dup candidates: same banding as minhashCandidates, but the
    // bucket join pairs BATCH ids against CORPUS ids only
    def buckets(df: DataFrame, side: String) =
      minhashSignatures(df, textCol, idCol, k, shingleW, seed)
        .select(col("id"),
          explode(transform(sequence(lit(0), lit(bands - 1)),
            b => struct(b.as("band"),
              xxhash64(slice(col("sig"), b * r + 1, lit(r))).as("bh"))))
            .as("bucket"))
        .select(col("id").as(side), col("bucket.band").as("band"),
          col("bucket.bh").as("bh"))
    // shingles travel as xxhash64 longs (8 B vs whole n-gram strings in
    // the distinct + join shuffles; equality up to 2^-64 collisions —
    // the same contract as the exact-pass text hashes above)
    def shingleIndex(df: DataFrame, side: String) =
      shingleRows(df, textCol, idCol, shingleW)
        .select(col("id").as(side), xxhash64(col("sh")).as("sh")).distinct()
    val dupIds =
      if (exactCandidates) {
        // inverted-index join over the SAME distinct gram sets the verify
        // step would use: |A∩B| = shared count, |A∪B| = |A|+|B|-shared,
        // so jaccard computes directly from counts — no array-intersect
        // verification pass needed, and the DIVISION form keeps the
        // boundary decision bit-identical to an oracle that divides
        val ai = shingleIndex(afterExact, "ida")
        val bi = shingleIndex(corpus, "idb")
        val na = ai.groupBy(col("ida")).agg(count(lit(1)).as("__na"))
        val nb = bi.groupBy(col("idb")).agg(count(lit(1)).as("__nb"))
        ai.join(bi, "sh")
          .groupBy(col("ida"), col("idb")).agg(count(lit(1)).as("__shared"))
          .join(na, "ida").join(nb, "idb")
          .where(col("__shared").cast("double") /
            (col("__na") + col("__nb") - col("__shared")) >= threshold)
          .select(col("ida").as(idCol)).distinct()
      } else {
        val cands = buckets(afterExact, "ida")
          .join(buckets(corpus, "idb"), Seq("band", "bh"))
          .select(col("ida"), col("idb")).distinct()
          .localCheckpoint() // tiny; referenced by both sides of the verify join
        // exact shingle-Jaccard verification over the candidates only
        // (cost scales with candidates, not the corpus)
        val docsBoth = afterExact.select(col(idCol).as("__vid"), col(textCol).as("__vt"))
          .union(corpus.select(col(idCol).as("__vid"), col(textCol).as("__vt")))
        ngramJaccard(cands, docsBoth, "__vt", "__vid", shingleW)
          .where(col("jaccard") >= threshold)
          .select(col("ida").as(idCol)).distinct()
      }
    afterExact.join(dupIds, Seq(idCol), "left_anti")
  }

  // ------------------------------------------------------------------
  // embedding cosine near-dup
  // ------------------------------------------------------------------

  /** Near-duplicate pairs by embedding cosine, candidates via banded
    * multi-table sign-LSH — only pairs sharing a (table, bucket) are
    * compared. Returns (ida, idb, cos). */
  def embeddingNearDup(emb: DataFrame, vecCol: String, idCol: String,
                       minCos: Double = 0.4, tables: Int = 4, bits: Int = 4,
                       seed: Long = 42L): DataFrame = {
    val bk = explode(Similarity.hyperplaneBuckets(col(vecCol), tables, bits, seed))
    // materialized once — both self-join sides read the bucketed vectors
    val b = Par.widen(emb, idCol).select(col(idCol).as("id"), col(vecCol).as("v"), bk.as("bucket"))
      .localCheckpoint()
    val l = b.select(col("bucket"), col("id").as("ida"), col("v").as("va"))
    val r = b.select(col("bucket"), col("id").as("idb"), col("v").as("vb"))
    l.join(r, Seq("bucket")).where(col("ida") < col("idb"))
      .select(col("ida"), col("idb"), col("va"), col("vb")).distinct()
      // filter on the RAW cosine (a rounded filter would disagree with an
      // unrounded-threshold oracle at the boundary); round only for display
      .select(col("ida"), col("idb"),
        Similarity.cosine(col("va"), col("vb")).as("__cos"))
      .where(col("__cos") >= minCos)
      .select(col("ida"), col("idb"), round(col("__cos"), 4).as("cos"))
  }

  // ------------------------------------------------------------------
  // cross-document repeated-span excision
  // ------------------------------------------------------------------

  /** Cross-document repeated-SPAN excision — the transformation of Lee
    * et al. 2022 ("Deduplicating Training Data Makes Language Models
    * Better"): every `spanWords`-word n-gram occurring in ≥ `minDocFreq`
    * DISTINCT docs is a shared span; overlapping shared spans merge into
    * maximal intervals and the covered words are cut from EVERY doc,
    * keeping the rest in order. The excising complement of
    * `TextAnalysis.sharedSubstrings` (which only counts), and the
    * span-level sibling of [[lineDedup]]/[[paragraphDedup]] (boilerplate
    * that doesn't respect line breaks: navigation crumbs, license
    * blurbs, templated sentences).
    *
    * Word-level rather than char/suffix-array on purpose: intervals are
    * well-defined under whitespace reflow and the whole plan is 4 narrow
    * keyed shuffles — gram rows are (id, pos, 8-byte hash), the hot set
    * is a hash agg with an exact distinct-doc count, flagged positions
    * come back via a semi join on the hash and collapse to ONE per-doc
    * sorted array (bounded by doc length) before the interval filter,
    * which is a per-row HOF. No all-pairs term, nothing driver-side;
    * under duplicate skew the hot-gram agg stays map-side-partial
    * (counting, not pairing). Docs shorter than `spanWords` words pass
    * through untouched.
    *
    * Output: (id, n_words, n_removed, cleaned). */
  /** (id, word array) rows — the shared tokenization of the span family. */
  private def spanBase(df: DataFrame, textCol: String, idCol: String): DataFrame =
    Par.widen(df, idCol).select(
      col(idCol).as("id"),
      filter(split(trim(col(textCol)), "\\s+"), w => w =!= "").as("__ws"))

  /** Span identity for the gram starting at 1-based position `p`: a
    * rotate-xor fold of the L sliced words' xxhash64 values —
    * order-sensitive, overflow-free (ANSI mode bars the usual multiply
    * polynomial), and bounded at L short-string hashes per position.
    * Deliberately computed from the raw word array in BOTH the exploded
    * batch path and the apply-side HOF lambda: a precomputed whole-doc
    * hash-array alias gets CollapseProject-inlined into its use site
    * (the Generate's per-gram projection, or worse, a filter lambda
    * evaluated per element) and degrades to n² hashes per doc — both
    * variants measured (2× on the x87 gate, 10× on x88's stream).
    * 64-bit equality ≡ span equality up to fold collisions
    * (full-entropy inputs — ~n²/2⁶⁴, the x44 bound).
    *
    * The fold is UNROLLED over the compile-time L rather than written
    * as aggregate(transform(slice(...))): nested HOFs are interpreted
    * per element with per-call array allocation (the slice + the
    * transform), while the unrolled tree is plain element_at/xxhash64/
    * shift expressions — whole-stage-codegen'd in the exploded batch
    * projection and cheap even inside the apply-side filter lambda
    * (measured: the HOF form spent multiple ms per doc). */
  private def spanKeyFromWords(words: Column, p: Column, L: Int): Column =
    (0 until L).foldLeft(lit(0L)) { (acc, j) =>
      shiftleft(acc, 5).bitwiseOR(shiftrightunsigned(acc, 59))
        .bitwiseXOR(xxhash64(element_at(words, (p + lit(j)).cast("int"))))
    }

  /** Gram rows (id, start position, 8-byte span key). */
  private def spanGrams(base: DataFrame, L: Int): DataFrame =
    base.where(size(col("__ws")) >= L)
      .select(col("id"),
        explode(sequence(lit(1), size(col("__ws")) - (L - 1))).as("__p"),
        col("__ws"))
      .select(col("id"), col("__p"),
        spanKeyFromWords(col("__ws"), col("__p"), L).as("__gh"))

  /** The hot-span MODEL: 8-byte hashes of every `spanWords`-word gram in
    * ≥ `minDocFreq` distinct docs — small by construction (shared
    * boilerplate, not the corpus). Compute offline, feed
    * [[applySpanExcision]] row-at-a-time (batch or streaming), exactly
    * as [[hotLines]]/[[hotParagraphs]] feed their apply steps. */
  def hotSpans(df: DataFrame, textCol: String, idCol: String,
               spanWords: Int = 8, minDocFreq: Long = 2L): DataFrame = {
    require(spanWords >= 2, "spanWords must be >= 2")
    require(minDocFreq >= 2L, "minDocFreq must be >= 2 (1 would excise everything)")
    spanGrams(spanBase(df, textCol, idCol), spanWords)
      .groupBy(col("__gh"))
      .agg(countDistinct(col("id")).as("__nd"))
      .where(col("__nd") >= minDocFreq)
      .select(col("__gh").as("key"))
  }

  /** Persist a [[hotSpans]] hot set — the artifact behind `CREATE MODEL
    * … KIND 'spans'`: one (key BIGINT) parquet directory, loaded back by
    * [[loadHotSpans]] and served through [[applySpanExcision]]. */
  def saveHotSpans(hot: DataFrame, path: String): Unit =
    graft.operators.ModelIO.saveColumnSet(hot, path, "key", "long")

  /** Load a [[saveHotSpans]] artifact (layout-validated). */
  def loadHotSpans(spark: org.apache.spark.sql.SparkSession,
                   path: String): DataFrame =
    graft.operators.ModelIO.loadColumnSet(spark, path, "key", "long")

  /** Persist a [[hotParagraphs]] hot set (its key column only — the
    * doc-frequency diagnostic is train-time metadata) — the artifact
    * behind `CREATE MODEL … KIND 'paragraphs'`: one (key STRING) parquet
    * directory, served through [[applyParagraphDedup]]. */
  def saveHotParagraphs(hot: DataFrame, path: String): Unit =
    graft.operators.ModelIO.saveColumnSet(
      hot.select(hot.columns.head), path, "key", "string")

  /** Load a [[saveHotParagraphs]] artifact (layout-validated). */
  def loadHotParagraphs(spark: org.apache.spark.sql.SparkSession,
                        path: String): DataFrame =
    graft.operators.ModelIO.loadColumnSet(spark, path, "key", "string")

  def exciseSharedSpans(df: DataFrame, textCol: String, idCol: String,
                        spanWords: Int = 8, minDocFreq: Long = 2L): DataFrame = {
    require(minDocFreq >= 2L, "minDocFreq must be >= 2 (1 would excise everything)")
    exciseSharedSpansWith(df, textCol, idCol,
      hotSpans(df, textCol, idCol, spanWords, minDocFreq), spanWords)
  }

  /** [[exciseSharedSpans]] against an ALREADY-COMPUTED hot-span set
    * ([[hotSpans]] output, one BIGINT key column) — r16 opt, guide §1.2:
    * the x88 harness trains the model once for the streaming apply; the
    * batch side reuses it instead of re-running the gram explode +
    * doc-frequency aggregation. Output identical by construction
    * ([[exciseSharedSpans]] delegates here). */
  def exciseSharedSpansWith(df: DataFrame, textCol: String, idCol: String,
                            hotSet: DataFrame, spanWords: Int = 8): DataFrame = {
    // the hot set is corpus-derived, so the batch path flags grams with
    // a partitioned semi-join — never a broadcast of the whole set (the
    // streaming [[applySpanExcision]] broadcasts a model-sized one)
    require(spanWords >= 2, "spanWords must be >= 2")
    val L = spanWords
    val base = spanBase(df, textCol, idCol)
    val grams = spanGrams(base, L)
    val hot = hotSet.select(hotSet(hotSet.columns.head).as("__gh"))
    val flagged = grams.join(hot, Seq("__gh"), "left_semi")
      .groupBy(col("id"))
      .agg(sort_array(collect_list(col("__p"))).as("__flags"))
    // Spark's sequence(1, 0) DESCENDS rather than returning empty — guard
    // the zero-word doc (blank text) explicitly
    val pos = when(size(col("__ws")) === 0, array().cast("array<int>"))
      .otherwise(sequence(lit(1), size(col("__ws"))))
    base.join(flagged, Seq("id"), "left")
      .withColumn("__flags",
        coalesce(col("__flags"), array().cast("array<int>")))
      .withColumn("__kept",
        filter(pos, p => !exists(col("__flags"), q => q <= p && p < q + L)))
      .select(col("id"),
        size(col("__ws")).cast("long").as("n_words"),
        (size(col("__ws")) - size(col("__kept"))).cast("long").as("n_removed"),
        array_join(transform(col("__kept"), p => element_at(col("__ws"), p)), " ")
          .as("cleaned"))
  }

  /** Apply a precomputed hot-span set ([[hotSpans]]) PER ROW — no
    * explode, no grouping, no state: the hot hashes collapse to one
    * broadcast sorted array and each doc probes its own gram positions
    * with the codegen binary search (`SortedArrayContains` — NOT
    * `array_contains`, whose linear probe went superlinear at the 100×
    * sweep), then runs the same interval-cover filter as
    * [[exciseSharedSpans]]. Streaming-safe (stateless stream-static
    * join): the model refreshes offline, the stream curates
    * row-at-a-time; output contract matches [[exciseSharedSpans]]
    * (parity gated by x88). Per-row cost O(words·log|hot| +
    * words·|flags-in-doc|). */
  def applySpanExcision(docs: DataFrame, textCol: String, idCol: String,
                        hot: DataFrame, spanWords: Int = 8): DataFrame = {
    require(spanWords >= 2, "spanWords must be >= 2")
    val L = spanWords
    val hotArr = broadcast(hot.agg(
      sort_array(collect_list(hot(hot.columns.head))).as("__sp_hotarr")))
    // r16 opt: one native codegen kernel ([[graft.expr.SpanOps]]) replaces
    // the interpreted HOF chain — the HOF form re-hashed the L sliced
    // words PER POSITION (O(words·L) xxhash64 calls in interpreted
    // lambdas); the kernel hashes each word once and does split + probe +
    // interval cover + re-join in a single allocation-light pass. The
    // three struct-field extractions below collapse to ONE evaluation via
    // codegen common-subexpression elimination (the CharClassStats
    // pattern in Curation.curate).
    val sp = graft.expr.SpanOps.excise(col(textCol), col("__sp_hotarr"), L)
    docs.join(hotArr, lit(true), "inner")
      .select(col(idCol).as("id"),
        sp.getField("n_words").as("n_words"),
        sp.getField("n_removed").as("n_removed"),
        sp.getField("cleaned").as("cleaned"))
  }
}
