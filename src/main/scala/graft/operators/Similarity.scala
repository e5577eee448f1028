package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.expr.AnnModelOps

/** Approximate-nearest-neighbor search over embedding columns
  * (SURVEY §7.2 M4; `embeddings.parquet`: vec_id long, embedding
  * array<float>, label int).
  *
  * Scale design:
  *  - query set is broadcast (small side of the join) — the corpus is
  *    never shuffled for brute force, each partition scores its local rows;
  *  - per-query top-k via a typed `Aggregator` with a bounded heap, so
  *    map-side partial aggregation reduces each partition to k rows before
  *    the (tiny) final shuffle — the collect_list/Window alternatives ship
  *    the whole corpus through one shuffle and are wrong at 100 TB;
  *  - the LSH variant buckets by random-hyperplane signature: candidates
  *    share a bucket, turning the N×Q cross product into a bucket join.
  */
object Similarity {

  /** Dot product / cosine via the native codegen'd Catalyst expressions
    * (graft.expr.VectorOps) — HOF formulations are CodegenFallback and
    * ~100x slower at scale. */
  def dot(a: Column, b: Column): Column = graft.expr.VectorOps.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = graft.expr.VectorOps.cosine(a, b)

  /** Sign-LSH bucket id: bit i = sign of dot(v, h_i) for `planes` seeded
    * pseudo-random hyperplanes. Deterministic across runs. */
  def hyperplaneSignature(v: Column, planes: Int = 12, seed: Long = 42L): Column = {
    val rnd = new scala.util.Random(seed)
    // Hyperplane components are generated per (plane, dim-index) via a
    // seeded gaussian; materialized as array literals (dim read from data
    // would need a pass — fix 64 dims max; shorter vectors use their own
    // length, the codegen'd dot runs over the common prefix).
    val dims = 64
    val hps = Seq.fill(planes)(Array.fill(dims)(rnd.nextGaussian()))
    val bits = hps.zipWithIndex.map { case (hp, i) =>
      val d = graft.expr.VectorOps.dot(v, typedLit(hp.toSeq))
      when(d >= 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** Banded multi-table sign-LSH buckets: `tables` independent tables of
    * `bits` hyperplane sign bits each; a pair is a candidate if it shares
    * ANY table's bucket (same amplification trick as MinHash banding —
    * recall for moderate-cosine pairs that a single wide signature would
    * miss). Returns an array<struct<t,b>> to explode into bucket rows. */
  def hyperplaneBuckets(v: Column, tables: Int = 4, bits: Int = 4,
                        seed: Long = 42L): Column = {
    val bucketCols = (0 until tables).map { t =>
      val sig = hyperplaneSignature(v, bits, seed + 1000L * t)
      struct(lit(t).as("t"), sig.as("b"))
    }
    array(bucketCols: _*)
  }

  /** Bounded top-k heap aggregator over (score, id) pairs. Partial
    * (map-side) combines keep at most k entries per partition — the
    * shuffle carries k rows per (group, partition), not the corpus. */
  private final class TopK(k: Int) extends Aggregator[(Double, Long), List[(Double, Long)], Seq[(Double, Long)]] {
    def zero: List[(Double, Long)] = Nil
    // buffer invariant: sorted by (score desc, id asc), length <= k
    private def better(a: (Double, Long), b: (Double, Long)): Boolean =
      a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
    private def trim(l: List[(Double, Long)]): List[(Double, Long)] =
      l.sortWith(better).take(k)
    def reduce(buf: List[(Double, Long)], in: (Double, Long)): List[(Double, Long)] =
      // O(1) rejection for the common case: a full buffer whose worst entry
      // beats the incoming row (the previous trim-per-row was O(k log k))
      if (buf.lengthCompare(k) >= 0 && !better(in, buf.last)) buf
      else {
        val (ge, lt) = buf.span(b => better(b, in) || b == in)
        (ge ::: in :: lt).take(k)
      }
    def merge(a: List[(Double, Long)], b: List[(Double, Long)]): List[(Double, Long)] =
      trim(a ++ b)
    def finish(r: List[(Double, Long)]): Seq[(Double, Long)] = trim(r)
    def bufferEncoder: org.apache.spark.sql.Encoder[List[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[List[(Double, Long)]]()
    def outputEncoder: org.apache.spark.sql.Encoder[Seq[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
  }

  /** The per-query top-k of vector search: the k best rows of `scored`
    * (qid, vec_id, `score`) per `qid`, ordered by score descending, then
    * vec_id ascending. The bounded [[TopK]] heap partial-aggregates map
    * side, so the shuffle carries at most k rows per (query, partition),
    * never a query's whole candidate set. Rows with a null score never
    * rank. Output columns keep their input types. */
  def topKPerQuery(scored: DataFrame, k: Int, score: String = "cos"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val types = scored.schema
    val top = udaf(new TopK(k))
    scored.where(col(score).isNotNull)
      .groupBy(col("qid"))
      .agg(top(col(score).cast("double"), col("vec_id").cast("long")).as("top"))
      .select(col("qid"), explode(col("top")).as("e"))
      .select(col("qid"), col("e._2").cast(types("vec_id").dataType).as("vec_id"),
        col("e._1").cast(types(score).dataType).as(score))
  }

  /** Brute-force cosine top-k: for each query row (small, broadcast),
    * score every corpus row, keep k best. Output: (qid, vec_id, cos),
    * cos rounded to 4 for cross-engine determinism.
    *
    * Implementation: broadcast nested-loop of corpus × queries (narrow —
    * no corpus shuffle), then [[topKPerQuery]]. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    pairTopK(Par.widen(corpus, idCol).select(col(idCol).as("vec_id"), col(vecCol).as("v")),
      queries.select(col(idCol).as("qid"), col(vecCol).as("qv")), k)

  /** Top-k of every (query, row) pair but self-matches: corpus `rows`
    * (vec_id, v) scored in place against the broadcast `probes` (qid,
    * qv) with the 4-dp `cos`ine, then [[topKPerQuery]]. */
  private def pairTopK(rows: DataFrame, probes: DataFrame, k: Int,
                       cos: (Column, Column) => Column = cosine): DataFrame =
    topKPerQuery(rows.join(broadcast(probes), col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"), round(cos(col("v"), col("qv")), 4).as("cos")), k)

  /** LSH-bucketed ANN: score only corpus rows sharing at least one of the
    * query's banded hyperplane buckets. Recall < 1 by design; same output
    * shape as brute force. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              tables: Int = 4, bits: Int = 4, vecCol: String = "embedding",
              idCol: String = "vec_id", seed: Long = 42L): DataFrame = {
    val bk = (c: Column) => explode(hyperplaneBuckets(c, tables, bits, seed))
    val cb = Par.widen(corpus, idCol).select(col(idCol).as("vec_id"), col(vecCol).as("v"), bk(col(vecCol)).as("b"))
    val qb = broadcast(queries.select(col(idCol).as("qid"), col(vecCol).as("qv"), bk(col(vecCol)).as("b")))
    val scored = cb.join(qb, "b").where(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"), col("v"), col("qv")).distinct()
      .select(col("qid"), col("vec_id"), round(cosine(col("v"), col("qv")), 4).as("cos"))
    topKPerQuery(scored, k)
  }

  // ------------------------------------------------------------------
  // IVF (inverted-file) ANN: spherical k-means coarse quantizer.
  // ------------------------------------------------------------------

  /** Train `nlist` centroids with `iters` Lloyd iterations (cosine /
    * spherical variant). Deterministic: seeds are the `nlist` lowest-id
    * vectors. The model (nlist × dim doubles) lives on the driver — that
    * is the IVF design, not a scalability leak: assignment runs as
    * codegen'd literal-centroid expressions over the distributed corpus,
    * and only (cluster, pos, mean) aggregates come back per iteration. */
  def trainIvfCentroids(corpus: DataFrame, nlist: Int = 16, iters: Int = 2,
                        vecCol: String = "embedding",
                        idCol: String = "vec_id"): Array[Array[Double]] = {
    var centroids: Array[Array[Double]] = corpus
      .orderBy(col(idCol)).limit(nlist)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val wcorpus = Par.widen(corpus, idCol)
    for (_ <- 0 until iters) {
      val assigned = wcorpus.select(col(vecCol).as("v"),
        AnnModelOps.nearestCentroid(col(vecCol), centroids).as("c"))
      val means = assigned
        .select(col("c"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("c"), col("pos"))
        .agg(avg(col("x").cast("double")).as("m"))
        .collect()
      val byCluster = means.groupBy(_.getInt(0))
      centroids = centroids.zipWithIndex.map { case (old, i) =>
        byCluster.get(i) match {
          case Some(rows) => rows.sortBy(_.getInt(1)).map(_.getDouble(2))
          case None       => old // empty cluster keeps its centroid
        }
      }
    }
    centroids
  }

  /** ANN recall audit: measure recall@k of an approximate top-k result
    * against the brute-force truth — the harness that justifies shipping
    * the LSH/IVF path (the [[graft.operators.Sketches.distinctAudit]]
    * pattern applied to retrieval). Both inputs are (qid, vec_id, …)
    * top-k frames; recall = |approx ∩ truth| / |truth| per query.
    * Output: (n_queries, mean_recall rounded 4, min_recall rounded 4).
    *
    * Scale: one keyed (qid, vec_id) semi-join + per-qid count aggregate
    * over two ALREADY-k-bounded frames (k·|queries| rows) — audit cost
    * is independent of corpus size; run it on a query sample, then ship
    * the approximate-only pipeline with evidence. */
  def annRecall(approx: DataFrame, truth: DataFrame): DataFrame = {
    val t = truth.select(col("qid"), col("vec_id"))
    val ap = approx.select(col("qid"), col("vec_id"))
    val tn = t.groupBy("qid").agg(count(lit(1)).as("tn"))
    val hit = t.join(ap, Seq("qid", "vec_id"), "left_semi")
      .groupBy("qid").agg(count(lit(1)).as("hits"))
    tn.join(hit, Seq("qid"), "left")
      .select(col("qid"),
        (coalesce(col("hits"), lit(0L)).cast("double") / col("tn")).as("r"))
      .agg(count(lit(1)).as("n_queries"),
        round(avg(col("r")), 4).as("mean_recall"),
        round(min(col("r")), 4).as("min_recall"))
  }

  /** Every input row plus its nearest-centroid `cluster` id under a
    * freshly trained deterministic spherical k-means model — the
    * semantic-partitioning primitive cluster-balanced selection and
    * per-topic audits build on. One training pass + one codegen argmax
    * projection; no shuffle beyond training's bounded aggregations. */
  def clusterAssignments(emb: DataFrame, nlist: Int = 16, iters: Int = 2,
                         vecCol: String = "embedding",
                         idCol: String = "vec_id"): DataFrame = {
    val centroids = trainIvfCentroids(emb, nlist, iters, vecCol, idCol)
    Par.widen(emb, idCol)
      .withColumn("cluster", AnnModelOps.nearestCentroid(col(vecCol), centroids))
  }

  /** Cluster-balanced sampling — the SemDeDup/DCLM diversity-selection
    * shape: cluster the embedding space, then keep at most `cap` rows
    * PER CLUSTER so dense semantic regions (boilerplate, template
    * families) stop dominating the surviving corpus. The per-cluster
    * sample is [[Sampling.uniformPerGroup]]'s content-addressed md5
    * rank: uniform within the cluster yet fully deterministic across
    * runs, partitionings and engines. Output: input columns + `cluster`.
    * Scale: training + one codegen assignment projection + ONE keyed
    * window shuffle on `cluster`. */
  def clusterBalancedSample(emb: DataFrame, cap: Int, nlist: Int = 16,
                            iters: Int = 2, vecCol: String = "embedding",
                            idCol: String = "vec_id"): DataFrame =
    Sampling.uniformPerGroup(
      clusterAssignments(emb, nlist, iters, vecCol, idCol),
      "cluster", cap, idCol)

  /** IVF ANN top-k: corpus vectors are bucketed by nearest centroid;
    * each query scores only the `nprobe` most promising buckets.
    * Recall < 1 by design; same output shape as brute force. At scale the
    * corpus assignment is the natural partitioning/bucketing column for
    * the vector table (write once, probe many). */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 4, iters: Int = 2,
              vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    IvfIndex.topKWith(corpus, queries, k, IvfIndex.Model(IvfIndex.Flat,
      trainIvfCentroids(corpus, nlist, iters, vecCol, idCol)), nprobe,
      vecCol = vecCol, idCol = idCol)

  // --- product quantization (Jégou et al. 2011) -----------------------------
  // The memory-compressed complement of IVF: vectors split into m
  // subspaces, each sub-vector quantized to one of k sub-centroids; a
  // vector becomes m small ints (m bytes at k ≤ 256) instead of dim
  // floats — dim·4/m× compression. Scoring is ASYMMETRIC (ADC): the
  // query stays exact, the corpus side is reconstructed from its code.

  /** Train PQ codebooks: per subspace, deterministic k-means over the
    * sub-vectors (same first-k init + mean-update scheme as
    * [[trainIvfCentroids]], L2 assignment — `argmax (v·c − |c|²/2)` is
    * exactly argmin L2 without materializing distances). All m subspaces
    * assign in ONE pass per iteration (the fused [[pqEncode]] kernel,
    * whose code is exploded into (j, c) with a dynamic sub-vector slice),
    * so training costs iters corpus scans, not iters × m. An m-way
    * unrolled assignment would generate a method past HotSpot's
    * 8,000-byte JIT limit at m = 16 and run interpreted. Model:
    * m × k × (dim/m) = k·dim doubles — model-sized. */
  def pqTrain(corpus: DataFrame, m: Int = 8, k: Int = 16, iters: Int = 2,
              vecCol: String = "embedding",
              idCol: String = "vec_id"): Array[Array[Array[Double]]] = {
    require(k > 1, "k must be at least 2")
    val seed = corpus.orderBy(col(idCol)).limit(k)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).map(_.toDouble).toArray)
    require(seed.length == k, s"corpus has < $k vectors")
    // dim off the seed rows (r15 opt): the former size() probe was a
    // whole extra driver action per training call for one integer
    val dim = seed.head.length
    require(m > 0 && dim % m == 0, s"m=$m must divide dim=$dim")
    val sub = dim / m
    var codebooks: Array[Array[Array[Double]]] =
      Array.tabulate(m)(j => seed.map(_.slice(j * sub, (j + 1) * sub)))
    val wcorpus = Par.widen(corpus, idCol)
    for (_ <- 0 until iters) {
      val means = wcorpus
        .select(col(vecCol).as("v"),
          posexplode(AnnModelOps.pqEncode(col(vecCol), codebooks))
            .as(Seq("j", "c")))
        .select(col("j"), col("c"),
          posexplode(slice(col("v"), col("j") * sub + 1, lit(sub))).as(Seq("pos", "x")))
        .groupBy(col("j"), col("c"), col("pos"))
        .agg(avg(col("x").cast("double")).as("mu"))
        .collect()
      val byKey = means.groupBy(r => (r.getInt(0), r.getInt(1)))
      codebooks = Array.tabulate(m)(j => Array.tabulate(k) { c =>
        byKey.get((j, c)) match {
          case Some(rows) => rows.sortBy(_.getInt(2)).map(_.getDouble(3))
          case None       => codebooks(j)(c) // empty cluster unchanged
        }
      })
    }
    codebooks
  }

  /** PQ-encode the corpus: (vec_id, code array<int> of length m) — the
    * compressed representation (m bytes/vector at k ≤ 256 vs dim·4). */
  def pqEncode(corpus: DataFrame, codebooks: Array[Array[Array[Double]]],
               vecCol: String = "embedding",
               idCol: String = "vec_id"): DataFrame =
    Par.widen(corpus, idCol).select(col(idCol).as("vec_id"),
      AnnModelOps.pqEncode(col(vecCol), codebooks).as("code"))

  /** Reconstruct the quantized vector from its code — one compact
    * codegen array copy out of the codebook model field (replaces the
    * literal `element_at`/`flatten` chain; see
    * [[graft.expr.AnnModelOps.nearestCentroid]]). */
  def pqReconstruct(code: Column,
                    codebooks: Array[Array[Array[Double]]]): Column =
    AnnModelOps.pqReconstruct(code, codebooks)

  /** ADC top-k over PQ codes: queries exact (broadcast), corpus
    * reconstructed per row from its code, cosine scored with the codegen
    * expression, then [[topKPerQuery]] — the [[bruteForceTopK]] plan
    * shape over the 32×-compressed corpus. Approximate by nature;
    * audit with [[annRecall]] like every approximate path here. */
  def pqTopK(codes: DataFrame, codebooks: Array[Array[Array[Double]]],
             queries: DataFrame, k: Int,
             vecCol: String = "embedding",
             idCol: String = "vec_id"): DataFrame =
    pairTopK(codes.select(col("vec_id"), pqReconstruct(col("code"), codebooks).as("v")),
      queries.select(col(idCol).as("qid"), col(vecCol).as("qv")), k)

  /** PQ with exact RE-RANKING — the shipping configuration: the ADC scan
    * over the compressed codes produces a `shortlist`-sized candidate
    * set per query, and only those ids fetch their ORIGINAL vectors for
    * exact cosine scoring (a semi-join of shortlist×|queries| rows
    * against the corpus — at 100 TB the codes fit in memory for the
    * scan and the originals are touched ~shortlist rows per query, not
    * per corpus row). Recall is set by the shortlist size, exactness of
    * the final ordering by the re-rank. */
  def pqTopKRerank(codes: DataFrame, codebooks: Array[Array[Array[Double]]],
                   corpus: DataFrame, queries: DataFrame, k: Int,
                   shortlist: Int = 50,
                   vecCol: String = "embedding",
                   idCol: String = "vec_id"): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    rerank(pqTopK(codes, codebooks, queries, shortlist, vecCol, idCol),
      corpus.select(col(idCol).as("vec_id"), col(vecCol).as("v")),
      queries, k, vecCol, idCol)
  }

  /** The exact re-rank of a PQ shortlist (IVFADC's second tier): each
    * (qid, vec_id) candidate of `cand` fetches its original vector from
    * `originals` (vec_id, v) and is scored by exact cosine against its
    * query, `queries` in the caller's (`idCol`, `vecCol`) convention; the
    * k best per query survive. The join carries shortlist × |queries|
    * candidate rows, so exact scoring is shortlist-, not corpus-sized. */
  private[operators] def rerank(cand: DataFrame, originals: DataFrame,
                                queries: DataFrame, k: Int, vecCol: String,
                                idCol: String): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("qid"), col(vecCol).as("qv")))
    val exact = originals.select(col("vec_id"), col("v"))
      .join(cand.select(col("qid"), col("vec_id")), "vec_id")
      .join(q, "qid")
      .select(col("qid"), col("vec_id"),
        round(cosine(col("v"), col("qv")), 4).as("cos"))
    topKPerQuery(exact, k)
  }

  /** One hard-assignment step of spherical k-means (the IVF coarse-
    * quantizer training loop, and the embedding-clustering primitive
    * behind SemDeDup-style curation): centroids = per-label mean vectors,
    * then every vector is assigned to its highest-cosine centroid.
    * Returns the (label, assigned, n) confusion counts.
    *
    * Determinism: centroid dimensions and cosines are rounded (6 dp)
    * before the argmax, ties break toward the lowest centroid label — the
    * result is reproducible across partitionings and cluster sizes.
    *
    * Scale: centroids are a k×dim table built with one hash aggregate
    * over (label, dim) and BROADCAST to the assignment join — the vector
    * corpus is scored in place with the codegen'd [[cosine]], never
    * shuffled; only the k·|vectors| scored rows feed the per-vector
    * argmax (bounded-window, keyed by vec id). */
  def centroidAssign(emb: DataFrame, vecCol: String, idCol: String,
                     labelCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Par.widen(emb, idCol).select(col(idCol).as("vec_id"),
      col(labelCol).as("label"),
      col(vecCol).cast("array<double>").as("v"))
    val dims = e.select(col("label").as("clabel"),
        posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("clabel"), col("pos")).agg(avg(col("x")).as("m"))
    val cents = dims.groupBy(col("clabel"))
      .agg(array_sort(collect_list(
        struct(col("pos").as("k"), round(col("m"), 6).as("v")))).as("ps"))
      .select(col("clabel"), transform(col("ps"), s => s.getField("v")).as("cv"))
    val scored = e.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("label"), col("clabel"),
        round(cosine(col("v"), col("cv")), 6).as("cos"))
    val best = scored.withColumn("__rn",
        row_number().over(Window.partitionBy(col("vec_id"))
          .orderBy(col("cos").desc, col("clabel"))))
      .where(col("__rn") === 1)
    best.groupBy(col("label"), col("clabel").as("assigned"))
      .agg(count(lit(1)).as("n"))
  }

  /** Bounded-state second-moment accumulator: sums n, Σv (dim) and the
    * upper triangle of Σ v vᵀ (dim·(dim+1)/2) in ONE flat double array.
    * The buffer is dim²-sized and mergeable, so the whole covariance
    * computation is a single map-side-combined pass — no posexplode²
    * (dim²× row blowup on the wire) and no per-dim shuffles. */
  final class SecondMoments(dim: Int)
      extends Aggregator[Seq[Double], Array[Double], Array[Double]] {
    private val nTri = dim * (dim + 1) / 2
    def zero: Array[Double] = new Array[Double](1 + dim + nTri)
    def reduce(b: Array[Double], v: Seq[Double]): Array[Double] = {
      val a = v.toArray
      b(0) += 1.0
      var i = 0
      var t = 1 + dim
      while (i < dim) {
        b(1 + i) += a(i)
        var j = i
        while (j < dim) { b(t) += a(i) * a(j); j += 1; t += 1 }
        i += 1
      }
      b
    }
    def merge(x: Array[Double], y: Array[Double]): Array[Double] = {
      var i = 0
      while (i < x.length) { x(i) += y(i); i += 1 }
      x
    }
    def finish(r: Array[Double]): Array[Double] = r
    def bufferEncoder: org.apache.spark.sql.Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
    def outputEncoder: org.apache.spark.sql.Encoder[Array[Double]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Double]]()
  }

  /** Population covariance and Pearson correlation matrix of the
    * embedding dimensions — the whitening/PCA prep and the
    * feature-redundancy audit (which dimensions carry the same signal).
    *
    * Output: one row per upper-triangle pair (i, j), 1-based, with
    * `cov` and `corr` rounded to 6 dp (zero-variance dims → corr 0).
    *
    * Determinism: cov = E[xy] − E[x]E[y] from the one-pass sums, ROUNDED
    * at 6 dp; corr is then computed FROM the rounded cov/variances (the
    * oracle mirrors that arithmetic), so partial-merge ulp drift
    * (~1e-13 relative at any realistic scale) cannot leak into the
    * output — the x38 pattern.
    *
    * Scale: ONE aggregation pass with a dim²-bounded buffer
    * ([[SecondMoments]]); the shuffle carries one dim²-array per
    * partition, the result is dim² rows — both independent of corpus
    * size. Compare: `posexplode` twice would put dim²× the corpus on
    * the wire. */
  def dimCovariance(emb: DataFrame, vecCol: String, idCol: String): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val e = Par.widen(emb, idCol)
      .select(col(vecCol).cast("array<double>").as("v"))
      .as[Seq[Double]]
    val dim = e.head().length
    val agg = new SecondMoments(dim).toColumn
    val m = e.select(agg).head()
    val n = m(0)
    def mean(i: Int) = m(1 + i) / n
    def raw(i: Int, j: Int): Double = { // upper-triangle flat index
      val t = 1 + dim + (i * (2 * dim - i + 1)) / 2 + (j - i)
      m(t)
    }
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = for {
      i <- 0 until dim
      j <- i until dim
    } yield {
      val cov = r6(raw(i, j) / n - mean(i) * mean(j))
      val vi = r6(raw(i, i) / n - mean(i) * mean(i))
      val vj = r6(raw(j, j) / n - mean(j) * mean(j))
      val corr = if (vi <= 0.0 || vj <= 0.0) 0.0
                 else r6(cov / (math.sqrt(vi) * math.sqrt(vj)))
      ((i + 1).toLong, (j + 1).toLong, cov, corr)
    }
    rows.toDF("i", "j", "cov", "corr")
  }

  /** PCA model: eigenvalues (desc) and row-orthonormal components of the
    * dimension covariance matrix. */
  final case class PcaModel(eigenvalues: Array[Double],
                            components: Array[Array[Double]])

  /** Fit PCA over the embedding dimensions — dimensionality reduction
    * for retrieval/clustering at a fraction of the storage.
    *
    * The covariance matrix comes from the SAME one-pass dim²-bounded
    * [[SecondMoments]] aggregation as [[dimCovariance]] (6-dp-rounded
    * entries, so the model is identical at any partitioning); the
    * eigendecomposition runs on the DRIVER over the dim×dim matrix —
    * model-sized work like the IVF centroid training, NOT a data-scale
    * step. Cyclic Jacobi rotations (deterministic sweep order, fixed
    * tolerance) with a sign convention (largest-|loading| coordinate
    * positive) make the components reproducible. */
  def pcaFit(emb: DataFrame, vecCol: String, idCol: String, k: Int): PcaModel = {
    val spark = emb.sparkSession
    import spark.implicits._
    val e = Par.widen(emb, idCol)
      .select(col(vecCol).cast("array<double>").as("v"))
      .as[Seq[Double]]
    val dim = e.head().length
    require(k >= 1 && k <= dim, s"k=$k out of range [1, $dim]")
    val m = e.select(new SecondMoments(dim).toColumn).head()
    val n = m(0)
    def r6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    val a = Array.ofDim[Double](dim, dim)
    var t = 1 + dim
    for (i <- 0 until dim; j <- i until dim) {
      val cov = r6(m(t) / n - (m(1 + i) / n) * (m(1 + j) / n))
      a(i)(j) = cov; a(j)(i) = cov; t += 1
    }
    // cyclic Jacobi: rotate away the largest off-diagonal mass, sweep by
    // sweep, until convergence — O(dim³) driver work on a 64×64 matrix
    val v = Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    var sweep = 0
    var off = Double.MaxValue
    while (off > 1e-12 && sweep < 100) {
      off = 0.0
      for (p <- 0 until dim; q <- p + 1 until dim) {
        off += a(p)(q) * a(p)(q)
        if (math.abs(a(p)(q)) > 1e-15) {
          val theta = (a(q)(q) - a(p)(p)) / (2.0 * a(p)(q))
          val tt = math.signum(theta) / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
          val c = 1.0 / math.sqrt(tt * tt + 1.0)
          val s = tt * c
          for (i <- 0 until dim) {
            val aip = a(i)(p); val aiq = a(i)(q)
            a(i)(p) = c * aip - s * aiq; a(i)(q) = s * aip + c * aiq
          }
          for (i <- 0 until dim) {
            val api = a(p)(i); val aqi = a(q)(i)
            a(p)(i) = c * api - s * aqi; a(q)(i) = s * api + c * aqi
          }
          for (i <- 0 until dim) {
            val vip = v(i)(p); val viq = v(i)(q)
            v(i)(p) = c * vip - s * viq; v(i)(q) = s * vip + c * viq
          }
        }
      }
      sweep += 1
    }
    val order = (0 until dim).sortBy(i => (-a(i)(i), i))
    val comps = order.take(k).map { ci =>
      val w = Array.tabulate(dim)(i => v(i)(ci))
      // sign convention: the largest-|loading| coordinate is positive
      val pivot = (0 until dim).maxBy(i => (math.abs(w(i)), -i))
      if (w(pivot) < 0) w.map(-_) else w
    }.toArray
    PcaModel(order.take(k).map(i => math.max(a(i)(i), 0.0)).toArray, comps)
  }

  /** Project embeddings onto the model's components: k codegen'd
    * [[dot]] probes against broadcast LITERAL component vectors — one
    * narrow map over the corpus, no shuffle, no driver data path.
    * Output: (vec_id, pc array<double>, length k). */
  def pcaProject(emb: DataFrame, vecCol: String, idCol: String,
                 model: PcaModel): DataFrame = {
    val v = col(vecCol).cast("array<double>")
    val probes = model.components.map(w => dot(v, array(w.map(lit): _*)))
    Par.widen(emb, idCol)
      .select(col(idCol).as("vec_id"), array(probes: _*).as("pc"))
  }

  /** Per-dimension z-score standardization of an embedding column —
    * the whitening-lite step before cosine/L2 retrieval or clustering
    * when dimensions have wildly different scales (common after
    * concatenating feature families). Output: (vec_id, z) with
    * `z_i = (v_i − mean_i) / stddev_i` (population stddev; zero-variance
    * dimensions divide by 1 so constant features map to 0, not NaN).
    *
    * Determinism: the per-dimension means and stddevs are rounded (6 dp)
    * before use, so aggregation-order ulp noise cannot leak into the
    * output — z values are reproducible across partitionings and
    * cluster sizes (and recomputable by an external oracle).
    *
    * Scale: one posexplode hash aggregate produces the dim-sized stats
    * table (64 rows for the contract embedding), collapsed to a single
    * (mean[], std[]) row and BROADCAST to a crossJoin; the vector corpus
    * is transformed in place by a codegen'd `zip_with` chain — no
    * shuffle of the vectors, no driver collect. */
  def standardize(emb: DataFrame, vecCol: String, idCol: String): DataFrame = {
    val e = Par.widen(emb, idCol).select(col(idCol).as("vec_id"),
      col(vecCol).cast("array<double>").as("v"))
    val dims = e.select(posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(col("pos"))
      .agg(round(avg(col("x")), 6).as("m"),
        round(stddev_pop(col("x")), 6).as("s"))
    val stats = dims
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("ms"),
        array_sort(collect_list(struct(col("pos"), col("s")))).as("ss"))
      .select(transform(col("ms"), p => p.getField("m")).as("m"),
        transform(col("ss"), p =>
          when(p.getField("s") === 0d, 1d).otherwise(p.getField("s"))).as("s"))
    e.crossJoin(broadcast(stats))
      .select(col("vec_id"),
        zip_with(zip_with(col("v"), col("m"), (x, mm) => x - mm), col("s"),
          (c, ss) => c / ss).as("z"))
  }

  /** Symmetric max-abs int8 quantization of an embedding column — the
    * memory-compression step before large-scale ANN (4× smaller than
    * float32; integer dot products; at 100 TB the quantized corpus is
    * what stays resident across executors). Per vector:
    * `scale = 127 / max|v_i|`, `q_i = clamp(floor(v_i·scale + 0.5), ±127)`
    * (floor(x+0.5) rather than round(): identical half-handling in every
    * engine, so quantized values — and therefore integer dot products —
    * are bit-exact reproducible). A quantized dot product rescales by
    * `1/(scale_a·scale_b)`. Zero vectors quantize to all-zero, scale 0.
    * One narrow projection, no shuffle; cost is per-element map work. */
  def quantizeInt8(emb: DataFrame, vecCol: String, idCol: String): DataFrame =
    // both kernels are graft.expr.Int8Ops codegen loops (r12 — the HOF
    // formulation was CodegenFallback with boxed per-element lambdas, and
    // recomputed the scale's array_max per ELEMENT); identical contract,
    // but qvec is now array<byte> — the ACTUAL 4×-vs-float32 resident
    // representation, not long-boxed codes
    Par.widen(emb, idCol)
      .select(col(idCol), col(vecCol).as("__v"),
        graft.expr.Int8Ops.scale(col(vecCol)).as("qscale"))
      .select(col(idCol),
        graft.expr.Int8Ops.encode(col("__v"), col("qscale")).as("qvec"),
        col("qscale"))

  /** Integer dot product of two quantized code arrays (exact — BIGINT);
    * a codegen'd primitive loop (graft.expr.Int8Dot). */
  def intDot(a: Column, b: Column): Column =
    graft.expr.Int8Ops.dotCodes(a, b)

  /** (id, vec array<double>) reconstructed from a [[quantizeInt8]] frame
    * (`idCol`, qvec, qscale) — the lossy-but-bounded inverse: element
    * error ≤ 0.5/qscale; zero-scale rows dequantize to zero vectors. */
  def dequantizeInt8(quantized: DataFrame, idCol: String = "vec_id"): DataFrame =
    quantized.select(col(idCol),
      graft.expr.Int8Ops.decode(col("qvec"), col("qscale")).as("vec"))

  /** Brute-force cosine top-k over int8 codes — the SQ8 cosine serve
    * path: the per-vector scales CANCEL in dot/(‖a‖‖b‖), so scoring is
    * one exact integer dot plus two integer norms per pair — no
    * dequantize, no float reads, all inside whole-stage codegen. Same
    * output shape and contract as [[bruteForceTopK]] (cos rounded to 4);
    * recall loss is the 8-bit quantization noise only. Queries ride one
    * broadcast; the corpus never shuffles. Complements [[quantizedTopK]]
    * (which serves the rescaled DOT metric with exact BIGINT outputs). */
  def int8CosineTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    pairTopK(quantizeInt8(corpus, vecCol, idCol).select(col(idCol).as("vec_id"), col("qvec").as("v")),
      quantizeInt8(queries, vecCol, idCol).select(col(idCol).as("qid"), col("qvec").as("qv")),
      k, graft.expr.Int8Ops.cosineFromCodes)

  /** Quantized brute-force top-k: int8-quantize corpus and queries once,
    * score with EXACT integer dot products, rescale by 1/(sa·sb) to
    * approximate the float dot, keep the k best per query with
    * [[topKPerQuery]]. This is the memory-optimal ANN configuration at
    * 100 TB: the resident corpus is
    * int8 (4× smaller than float32), queries broadcast, the corpus never
    * shuffles, and the per-query shuffle carries ≤ k rows per partition.
    * The exact BIGINT dot for each winner is recovered with a
    * winners-only broadcast join (queries×k rows), so the output is
    * engine-portable with no float tolerance on the dot itself.
    * Zero vectors (scale 0) score 0. Output: (qid, vec_id, dotq, score),
    * ties broken by lower vec_id. */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                    vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val qc = quantizeInt8(corpus, vecCol, idCol)
      .select(col(idCol).as("vec_id"), col("qvec").as("nv"), col("qscale").as("ns"))
    val qq = broadcast(quantizeInt8(queries, vecCol, idCol)
      .select(col(idCol).as("qid"), col("qvec").as("qv"), col("qscale").as("qs")))
    val scored = qc.join(qq, col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"),
        when(col("qs") > 0 && col("ns") > 0,
          intDot(col("nv"), col("qv")) / (col("qs") * col("ns")))
          .otherwise(lit(0.0)).as("score"))
    val winners = topKPerQuery(scored, k, "score")
      .withColumn("score", round(col("score"), 6))
    broadcast(winners).join(qc, "vec_id").join(qq, "qid")
      .select(col("qid"), col("vec_id"),
        intDot(col("nv"), col("qv")).as("dotq"), col("score"))
  }

  /** Hard-negative mining for contrastive training data: for each query
    * vector, the `k` highest-cosine corpus vectors whose `labelCol`
    * DIFFERS from the query's, with cosine in [`floor`, `dupCeiling`) —
    * above the floor (easy negatives teach a contrastive model nothing),
    * strictly below the ceiling (a near-duplicate carrying a different
    * label is a probable labeling error / false negative, not a hard
    * negative). Band and comparisons apply to the 4-dp ROUNDED cosine so
    * results are engine-portable. Output: (qid, vec_id, cos), ties by
    * lower vec_id.
    *
    * Scale: the [[bruteForceTopK]] posture — queries broadcast with
    * their labels, corpus scored in place with the codegen [[cosine]]
    * (never shuffled), the label + band filters drop candidates BEFORE
    * [[topKPerQuery]], so the only shuffle carries ≤ k rows per (query,
    * partition). Exact over
    * whatever candidate set it is given; for corpus-sized query sets use
    * [[hardNegativesIVF]]. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int,
                    dupCeiling: Double = 0.95, floor: Double = -1.0,
                    vecCol: String = "embedding", idCol: String = "vec_id",
                    labelCol: String = "label"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("qid"), col(vecCol).as("qv"),
      col(labelCol).as("qlabel")))
    hardNegativeTopK(Par.widen(corpus, idCol)
      .select(col(idCol).as("vec_id"), col(vecCol).as("v"), col(labelCol).as("nlabel"))
      .join(q, col("qid") =!= col("vec_id")), k, dupCeiling, floor)
  }

  /** The hard-negative contract over candidate pairs (qid, vec_id, v,
    * qv, nlabel, qlabel): labels differ, the 4-dp cosine lies in
    * [`floor`, `dupCeiling`), then the k best per query. */
  private def hardNegativeTopK(pairs: DataFrame, k: Int, dupCeiling: Double,
                               floor: Double): DataFrame =
    topKPerQuery(pairs.where(!(col("nlabel") <=> col("qlabel")))
      .select(col("qid"), col("vec_id"), round(cosine(col("v"), col("qv")), 4).as("cos"))
      .where(col("cos") >= floor && col("cos") < dupCeiling), k)

  /** IVF-bucketed hard-negative mining — the corpus-sized-query-set
    * configuration: corpus vectors bucket by nearest centroid (the same
    * write-once partitioning column as [[ivfTopK]]), each query scores
    * only its `nprobe` most promising buckets, then the identical
    * label/band/top-k contract as [[hardNegatives]]. Recall < 1 by
    * design; audit with [[annRecall]] against a brute sample before
    * shipping (the x76 pattern). */
  def hardNegativesIVF(corpus: DataFrame, queries: DataFrame, k: Int,
                       nlist: Int = 16, nprobe: Int = 4, iters: Int = 2,
                       dupCeiling: Double = 0.95, floor: Double = -1.0,
                       vecCol: String = "embedding", idCol: String = "vec_id",
                       labelCol: String = "label"): DataFrame = {
    val centroids = trainIvfCentroids(corpus, nlist, iters, vecCol, idCol)
    val indexed = Par.widen(corpus, idCol).select(col(idCol).as("vec_id"),
      col(vecCol).as("v"), col(labelCol).as("nlabel"),
      AnnModelOps.nearestCentroid(col(vecCol), centroids).as("c"))
    val probes = broadcast(queries
      .select(col(idCol).as("qid"), col(vecCol).as("qv"), col(labelCol).as("qlabel"),
        explode(AnnModelOps.probeCentroids(col(vecCol), centroids, nprobe)).as("c")))
    hardNegativeTopK(indexed.join(probes, "c").where(col("qid") =!= col("vec_id")),
      k, dupCeiling, floor)
  }
}
