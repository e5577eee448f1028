package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.expr.{AnnModelOps, Int8Ops}

/** The persisted IVF (inverted-file) ANN index — one coarse quantizer,
  * one layout and one lifecycle, with the vector code as the only thing
  * that varies (IVFADC, Jégou, Douze & Schmid, TPAMI 2011; FAISS's
  * `IVF{nlist},{Flat|PQm|SQ8}` index factory).
  *
  * Layout: `centroids` (the nlist×dim coarse model) plus the codec's
  * model and data directories; every data directory is PARTITIONED BY
  * its coarse bucket `c`, so a query batch touching `nprobe` of `nlist`
  * buckets reads only those directories (static partition pruning).
  *
  * Lifecycle: [[save]] (deterministic training, so an index built twice
  * from the same corpus is identical), [[append]] (new vectors encoded
  * with the EXISTING model — no retrain), [[recallAudit]] against the
  * brute-force truth on a fixed query sample, [[refreshIfDrifted]]
  * (blue/green retrain into a new directory), and [[topK]]. Everything
  * but [[save]] works the codec out of the layout on disk.
  *
  * This object is the only place that knows the directory names; the
  * SQL surface reads them from [[layouts]]. */
object IvfIndex {

  /** One persisted ANN layout: its model kind (`CREATE MODEL … KIND`),
    * the model directories (hashed at registration) and the data
    * directories. */
  final case class Layout(kind: String, label: String, saver: String,
                          modelDirs: Seq[String], dataDirs: Seq[String]) {
    def dirs: Seq[String] = modelDirs ++ dataDirs
    def expected: String =
      s"expected a $saver output with ${dirs.map(_ + "/").mkString(", ")}"
  }

  /** The vector code stored per bucket row. */
  sealed abstract class Codec(val layout: Layout) {
    /** data directory -> its rows, from the bucket-assigned
      * (vec_id, v, c) frame */
    private[IvfIndex] def encode(assigned: DataFrame, m: Model): Seq[(String, DataFrame)]
    /** the probe side's query value `qv` */
    private[IvfIndex] def queryCode(qv: Column): Column = qv
    /** cosine of a scanned row of the first data directory against `qv` */
    private[IvfIndex] def score(m: Model): Column
    /** the audit truth's corpus, (vec_id, embedding) */
    private[IvfIndex] def truthCorpus(spark: SparkSession, dir: String): DataFrame =
      readLayout(spark, s"$dir/corpus").select(col("vec_id"), col("v").as("embedding"))
  }

  /** Raw float vectors; float cosine. */
  case object Flat extends Codec(Layout("ivf", "IVF", "IvfIndex.save(…, Flat)",
      Seq("centroids"), Seq("corpus"))) {
    private[IvfIndex] def encode(a: DataFrame, m: Model) = Seq("corpus" -> a)
    private[IvfIndex] def score(m: Model) = Similarity.cosine(col("v"), col("qv"))
  }

  /** Int8 scalar quantization (4× smaller rows): cosine over int8 codes
    * is scale-free (the factors cancel), so serving is integer dots with
    * no re-rank tier. The layout keeps no floats, so the dequantized
    * codes are its audit truth. */
  case object Sq8 extends Codec(Layout("ivfsq8", "IVF+SQ8",
      "IvfIndex.save(…, Sq8)", Seq("centroids"), Seq("codes"))) {
    private[IvfIndex] def encode(a: DataFrame, m: Model) = Seq("codes" ->
      a.withColumn("qscale", Int8Ops.scale(col("v")))
        .select(col("vec_id"), Int8Ops.encode(col("v"), col("qscale")).as("qvec"),
          col("qscale"), col("c")))
    override private[IvfIndex] def queryCode(qv: Column) =
      Int8Ops.encode(qv, Int8Ops.scale(qv))
    private[IvfIndex] def score(m: Model) =
      Int8Ops.cosineFromCodes(col("qvec"), col("qv"))
    override private[IvfIndex] def truthCorpus(spark: SparkSession, dir: String) =
      Similarity.dequantizeInt8(readLayout(spark, s"$dir/codes"))
        .select(col("vec_id"), col("vec").as("embedding"))
  }

  /** Product quantization: `m` subspaces of `k` sub-centroids each, ADC
    * scoring of a `shortlist` per query, then an exact re-rank against
    * the originals of the same pruned buckets. `residual` codes
    * r = x − centroid(x) (Jégou §IV.2) spend the PQ precision on the
    * within-bucket displacement; the flag is persisted in `meta`.
    * Defaults are data-backed (SCALE.md r12 sf10 study): m=16/k=32
    * reached 0.89 recall@10 where m=8/k=16 plateaued at 0.28. */
  final case class Pq(m: Int = 16, k: Int = 32, residual: Boolean = false)
      extends Codec(Pq.layout) {
    private def encodeVec(centroids: Array[Array[Double]]): Column =
      if (residual) residualExpr(col("v"), col("c"), centroids) else col("v")
    private[IvfIndex] def train(corpus: DataFrame, assigned: DataFrame,
                                centroids: Array[Array[Double]], iters: Int,
                                vecCol: String, idCol: String) =
      if (residual)
        Similarity.pqTrain(assigned.select(col("vec_id"),
          encodeVec(centroids).as("embedding")), m, k, iters)
      else Similarity.pqTrain(corpus, m, k, iters, vecCol, idCol)
    private[IvfIndex] def encode(a: DataFrame, md: Model) = Seq(
      "codes" -> a.select(col("vec_id"),
        AnnModelOps.pqEncode(encodeVec(md.centroids), md.codebooks).as("code"),
        col("c")),
      "corpus" -> a)
    /** ADC reconstruction: codebook decode, plus the coarse centroid for
      * residual codes */
    private[IvfIndex] def score(md: Model) = {
      val decoded = Similarity.pqReconstruct(col("code"), md.codebooks)
      Similarity.cosine(
        if (!residual) decoded
        else zip_with(centroidOf(col("c"), md.centroids), decoded, (a, b) => a + b),
        col("qv"))
    }
  }
  object Pq {
    val layout: Layout = Layout("ivfpq", "IVF-PQ", "IvfIndex.save(…, Pq(…))",
      Seq("centroids", "codebooks"), Seq("codes", "corpus"))
  }

  /** The flat (non-IVF) PQ layout of [[savePqIndex]]. */
  private val FlatPqLayout: Layout = Layout("pq", "PQ", "IvfIndex.savePqIndex",
    Seq("codebooks"), Seq("codes", "corpus"))

  /** Every persisted ANN layout, most specific first: an IVF-PQ layout
    * holds every part of the others, so the first match names it. */
  val layouts: Seq[Layout] = Seq(Pq.layout, Sq8.layout, FlatPqLayout, Flat.layout)

  /** The layout whose every part exists under `dir`. */
  def layoutAt(spark: SparkSession, dir: String): Option[Layout] = {
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sessionState.newHadoopConf())
    layouts.find(_.dirs.forall(d => fs.exists(new org.apache.hadoop.fs.Path(dir, d))))
  }

  /** A trained index model: the coarse centroids (nlist×dim, bucket
    * ordered) plus the codec's own model — PQ codebooks, empty
    * otherwise. Model-sized and driver-held by design; callers treat the
    * arrays as read-only (they may be shared through the model cache). */
  final case class Model(codec: Codec, centroids: Array[Array[Double]],
                         codebooks: Array[Array[Array[Double]]] = Array.empty)

  /** v − centroids[c] as array<float>, so the PQ trainer and encoder see
    * the same representation for raw and residual vectors. */
  private def residualExpr(v: Column, c: Column,
                           centroids: Array[Array[Double]]): Column =
    zip_with(v.cast("array<double>"), centroidOf(c, centroids), (a, b) => a - b)
      .cast("array<float>")

  /** centroids[c]: the table rides as ONE complex-type literal (a
    * reference in generated code, not unrolled — the 64 KB lesson). */
  private def centroidOf(c: Column, centroids: Array[Array[Double]]): Column =
    element_at(typedLit(centroids.map(_.toSeq).toSeq), c + lit(1))

  /** (vec_id, v, c): each row with its nearest-centroid bucket. */
  private def assign(df: DataFrame, centroids: Array[Array[Double]],
                     vecCol: String, idCol: String): DataFrame =
    Par.widen(df, idCol).select(col(idCol).as("vec_id"), col(vecCol).as("v"),
      AnnModelOps.nearestCentroid(col(vecCol), centroids).as("c"))

  /** Auto-sized bucket count (SCALE.md production rule): `nlist = 0`
    * resolves to ceil(√n) — one cheap count() aggregate — so a save path
    * sized for 10⁶ vectors doesn't ship 16 giant buckets at 10⁹. Gates
    * keep explicit nlist for oracle determinism. */
  private def resolveNlist(corpus: DataFrame, nlist: Int): Int = {
    require(nlist >= 0, "nlist must be >= 0 (0 = auto ceil(sqrt(n)))")
    if (nlist > 0) nlist
    else math.max(1, math.ceil(math.sqrt(corpus.count().toDouble)).toInt)
  }

  private def writeModel(path: String, df: DataFrame): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  private def writeCodebooks(spark: SparkSession, dir: String,
                             codebooks: Array[Array[Array[Double]]]): Unit = {
    import spark.implicits._
    writeModel(s"$dir/codebooks", codebooks.zipWithIndex.flatMap { case (cb, j) =>
      cb.zipWithIndex.map { case (c, i) => (j, i, c.toSeq) }
    }.toSeq.toDF("j", "c", "centroid"))
  }

  /** Co-locate each bucket before the partitioned write: one file per
    * bucket per holding task instead of (tasks × buckets) small files.
    * Appends add new files, never rewrite — but the multi-file commit is
    * NOT atomic: a reader listing mid-commit sees the old rows plus an
    * eventually-complete subset of the new ones (snapshot the file
    * listing for a point-in-time cut). */
  private def writeData(dir: String, m: Model, assigned: DataFrame,
                        mode: String): Unit =
    m.codec.encode(assigned, m).foreach { case (sub, rows) =>
      rows.repartition(col("c")).write.mode(mode).partitionBy("c")
        .parquet(s"$dir/$sub")
    }

  /** Train and persist an index. `nlist = 0` sizes the coarse quantizer
    * at ceil(√n). */
  def save(corpus: DataFrame, dir: String, codec: Codec = Flat,
           nlist: Int = 16, iters: Int = 2, vecCol: String = "embedding",
           idCol: String = "vec_id"): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = Similarity.trainIvfCentroids(corpus,
      resolveNlist(corpus, nlist), iters, vecCol, idCol)
    val assigned = assign(corpus, centroids, vecCol, idCol)
    val model = codec match {
      case pq: Pq =>
        val codebooks = pq.train(corpus, assigned, centroids, iters, vecCol, idCol)
        writeModel(s"$dir/meta", Seq(Tuple1(pq.residual)).toDF("residual"))
        Model(pq, centroids, codebooks)
      case c => Model(c, centroids)
    }
    writeModel(s"$dir/centroids",
      centroids.zipWithIndex.map { case (v, i) => (i, v.toSeq) }.toSeq.toDF("c", "centroid"))
    if (model.codebooks.nonEmpty) writeCodebooks(spark, dir, model.codebooks)
    writeData(dir, model, assigned, "overwrite")
  }

  /** Grow a saved layout WITHOUT retraining — the daily-ingest path: new
    * vectors are assigned and encoded with the persisted model and
    * appended to their bucket directories. The model drifts from the
    * grown corpus; [[recallAudit]] measures it and [[refreshIfDrifted]]
    * rebuilds. Serve parity after append is exact: the grown layout
    * serves what [[topKWith]] computes over old ∪ new with the same
    * model (spec-asserted). */
  def append(newVectors: DataFrame, dir: String, vecCol: String = "embedding",
             idCol: String = "vec_id"): Unit = {
    val m = load(newVectors.sparkSession, dir)
    writeData(dir, m, assign(newVectors, m.centroids, vecCol, idCol), "append")
  }

  /** The model of a saved layout, its codec read off the layout (IVF-PQ
    * layouts written before `meta` existed are raw). */
  def load(spark: SparkSession, dir: String): Model = {
    val centroids = cachedModel(s"$dir/centroids") {
      readLayout(spark, s"$dir/centroids").select("c", "centroid")
        .orderBy("c").collect().map(_.getSeq[Double](1).toArray)
    }
    layoutAt(spark, dir) match {
      case Some(Pq.layout) =>
        val cb = loadPqCodebooks(spark, dir)
        val residual = cachedModel[java.lang.Boolean](s"$dir/meta")(Boolean.box(
          try readLayout(spark, s"$dir/meta").select("residual").head().getBoolean(0)
          catch { case scala.util.control.NonFatal(_) => false })).booleanValue()
        Model(Pq(cb.length, cb.head.length, residual), centroids, cb)
      case Some(Sq8.layout) => Model(Sq8, centroids)
      case _ => Model(Flat, centroids)
    }
  }

  /** Top-k served from a saved layout: the query batch's distinct probe
    * buckets collapse to a LITERAL `c IN (…)` filter on the partitioned
    * data (static partition pruning — the other buckets never leave the
    * object store). Same output as [[topKWith]] over the same rows and
    * model. PQ keeps a `shortlist` per query (>= k) before its re-rank;
    * recall is bounded above by the probe recall. */
  def topK(spark: SparkSession, dir: String, queries: DataFrame, k: Int,
           nprobe: Int = 4, shortlist: Int = 50, vecCol: String = "embedding",
           idCol: String = "vec_id"): DataFrame = {
    val m = load(spark, dir)
    val needed = probeBuckets(queries, m.centroids, nprobe, vecCol)
    serve(m, sub => readLayout(spark, s"$dir/$sub")
      .where(col("c").isin(needed.map(Int.box): _*)),
      queries, k, nprobe, shortlist, vecCol, idCol)
  }

  /** [[topK]] over an in-memory corpus and an already-trained model
    * (yours, or [[load]]'s): assignment + encoding + probing, no
    * retraining. */
  def topKWith(corpus: DataFrame, queries: DataFrame, k: Int, model: Model,
               nprobe: Int = 4, shortlist: Int = 50,
               vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val data = model.codec.encode(
      assign(corpus, model.centroids, vecCol, idCol), model).toMap
    serve(model, data, queries, k, nprobe, shortlist, vecCol, idCol)
  }

  private def serve(m: Model, data: String => DataFrame, queries: DataFrame,
                    k: Int, nprobe: Int, shortlist: Int, vecCol: String,
                    idCol: String): DataFrame = {
    val probes = broadcast(queries.select(col(idCol).as("qid"),
      m.codec.queryCode(col(vecCol)).as("qv"),
      explode(AnnModelOps.probeCentroids(col(vecCol), m.centroids, nprobe)).as("c")))
    // every row lives in exactly ONE bucket and a query's probe buckets
    // are distinct, so the (c) join pairs each (query, row) at most once
    val scored = data(m.codec.layout.dataDirs.head).join(probes, "c")
      .where(col("qid") =!= col("vec_id"))
      .select(col("qid"), col("vec_id"), round(m.codec.score(m), 4).as("cos"))
    m.codec match {
      case _: Pq =>
        require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
        // shortlist ids come from probed buckets only: the re-rank reads
        // the same pruned directories
        Similarity.rerank(Similarity.topKPerQuery(scored, shortlist),
          data("corpus"), queries, k, vecCol, idCol)
      case _ => Similarity.topKPerQuery(scored, k)
    }
  }

  /** Recall of a saved layout against the brute-force truth over the
    * layout's OWN rows, on a caller-fixed query sample (the x76
    * discipline: a fixed sample keeps the truth linear) — the drift
    * detector for the append-without-retrain lifecycle. */
  def recallAudit(spark: SparkSession, dir: String, queries: DataFrame,
                  k: Int = 10, nprobe: Int = 4, shortlist: Int = 50): DataFrame =
    Similarity.annRecall(topK(spark, dir, queries, k, nprobe, shortlist),
      Similarity.bruteForceTopK(load(spark, dir).codec.truthCorpus(spark, dir),
        queries, k))

  /** Drift-triggered retrain — the lifecycle's rebuild arm. Audits `dir`;
    * when mean recall is below `minRecall`, retrains the coarse quantizer
    * and the codec (same codec parameters) on the CURRENT corpus into
    * `rebuildDir` — a NEW directory, never an in-place rewrite, so a
    * server keeps probing the old layout until the swap (blue/green).
    * Returns one row: (n_queries, recall_before, drifted, retrained,
    * recall_after); recall_after echoes recall_before when nothing was
    * rebuilt. The rebuild rewrites the same rows, so both audits share
    * ONE materialized brute-force truth. */
  def refreshIfDrifted(spark: SparkSession, dir: String, rebuildDir: String,
                       queries: DataFrame, k: Int = 10, nprobe: Int = 4,
                       shortlist: Int = 50, minRecall: Double = 0.8,
                       nlist: Int = 16, iters: Int = 2): DataFrame = {
    import spark.implicits._
    val codec = load(spark, dir).codec
    val corpus = codec.truthCorpus(spark, dir)
    val truth = Similarity.bruteForceTopK(corpus, queries, k).localCheckpoint()
    def recall(d: String) =
      Similarity.annRecall(topK(spark, d, queries, k, nprobe, shortlist), truth).head()
    val before = recall(dir)
    val nq = before.getLong(0)
    val recallBefore = before.getDouble(1)
    val report =
      if (recallBefore >= minRecall) (nq, recallBefore, 0, 0, recallBefore)
      else {
        // float32 at the retrain boundary: the trainer's seed collect
        // reads floats, and SQ8's truth corpus is dequantized doubles
        save(corpus.select(col("vec_id"),
          col("embedding").cast("array<float>").as("embedding")),
          rebuildDir, codec, nlist, iters)
        (nq, recallBefore, 1, 1, recall(rebuildDir).getDouble(1))
      }
    Seq(report).toDF("n_queries", "recall_before", "drifted", "retrained",
      "recall_after")
  }

  /** The serve paths BROADCAST the query batch (probes + re-rank), so a
    * corpus-sized frame passed as `queries` would broadcast the corpus —
    * a driver OOM at scale, not a slow plan. [[topK]] enforces this bound
    * inside the probe-bucket job it already runs (zero extra jobs).
    * Corpus-as-queries workloads belong on the bucket-join path —
    * [[Similarity.hardNegativesIVF]] — which never broadcasts the big
    * side. */
  val MaxServeQueryRows: Int = 65536

  /** The sorted distinct buckets a query batch probes (≤ min(nlist,
    * |queries|·nprobe) values — bounded because the query side is): the
    * literal partition filter the serve scan prunes on. One job, which
    * also enforces the broadcast contract: `groupBy(c).count` has the
    * partial-agg plan shape of `distinct` (≤ nlist rows collected), and
    * each query row explodes to exactly min(nprobe, nlist) probes, so the
    * count sum detects a batch over [[MaxServeQueryRows]]. No LIMIT: a
    * global limit inserts a single-partition exchange (x103 paid ~35 ms
    * per micro-batch for one). */
  def probeBuckets(queries: DataFrame, centroids: Array[Array[Double]],
                   nprobe: Int, vecCol: String = "embedding"): Array[Int] = {
    val perRow = math.min(nprobe, centroids.length).toLong
    val probeRows = queries
      .select(explode(AnnModelOps.probeCentroids(col(vecCol), centroids, nprobe)).as("c"))
      .groupBy("c").agg(count(lit(1)).as("n")).collect()
    if (probeRows.map(_.getLong(1)).sum > MaxServeQueryRows.toLong * perRow)
      throw new IllegalArgumentException(
        s"IvfIndex.topK: query batch exceeds $MaxServeQueryRows rows; the " +
          "serve path broadcasts queries, so a corpus-sized batch would " +
          "broadcast the corpus - for corpus-as-queries workloads use the " +
          "bucket-join path (hardNegativesIVF)")
    probeRows.map(_.getInt(0)).sorted
  }

  // --- the flat (non-IVF) PQ layout ---------------------------------------

  /** Persist a flat PQ index: `codebooks` (the m×k sub-centroid model),
    * `codes` (the compressed corpus the ADC scan reads) and `corpus` (the
    * originals, touched only by the re-rank for shortlist ids). */
  def savePqIndex(corpus: DataFrame, dir: String, m: Int = 8, k: Int = 16,
                  iters: Int = 2, vecCol: String = "embedding",
                  idCol: String = "vec_id"): Unit = {
    val codebooks = Similarity.pqTrain(corpus, m, k, iters, vecCol, idCol)
    writeCodebooks(corpus.sparkSession, dir, codebooks)
    Similarity.pqEncode(corpus, codebooks, vecCol, idCol)
      .write.mode("overwrite").parquet(s"$dir/codes")
    Par.widen(corpus, idCol)
      .select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
      .write.mode("overwrite").parquet(s"$dir/corpus")
  }

  /** The persisted PQ codebook model, (subspace, centroid)-ordered. */
  def loadPqCodebooks(spark: SparkSession,
                      dir: String): Array[Array[Array[Double]]] =
    cachedModel(s"$dir/codebooks") {
      val rows = readLayout(spark, s"$dir/codebooks")
        .select("j", "c", "centroid").orderBy("j", "c").collect()
      rows.groupBy(_.getInt(0)).toSeq.sortBy(_._1).map { case (_, rs) =>
        rs.sortBy(_.getInt(1)).map(_.getSeq[Double](2).toArray)
      }.toArray
    }

  /** PQ serve from a [[savePqIndex]] layout: ADC over the compressed
    * codes, exact re-rank against the layout's own originals. Same
    * result as [[Similarity.pqTopKRerank]] with the same model. */
  def pqTopKIndexed(spark: SparkSession, dir: String, queries: DataFrame,
                    k: Int, shortlist: Int = 50,
                    vecCol: String = "embedding",
                    idCol: String = "vec_id"): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val cand = Similarity.pqTopK(readLayout(spark, s"$dir/codes"),
      loadPqCodebooks(spark, dir), queries, shortlist, vecCol, idCol)
    // the layout stores (vec_id, embedding)
    Similarity.rerank(cand, readLayout(spark, s"$dir/corpus")
      .withColumnRenamed("embedding", "v"), queries, k, vecCol, idCol)
  }

  // ------------------------------------------------------------------
  // Driver-side MODEL cache (centroids / codebooks / meta / schemas —
  // model-sized, never data). A serving system loads a model once and
  // serves many queries; staleness is handled by a directory stamp (file
  // names, sizes, mtimes), so an overwrite or blue/green rebuild is
  // picked up and an append (which never touches model dirs) keeps the
  // hit. Non-local paths skip caching. LRU-bounded at 128 entries (~30
  // layouts), so old fixture dirs age out instead of pinning their
  // arrays for the JVM lifetime. Not query-result caching: the first
  // load in a gate still happens inside its timed region.
  // ------------------------------------------------------------------
  private val modelCacheCap = 128
  private val modelCache = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[String, (Long, AnyRef)](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, (Long, AnyRef)]): Boolean =
        size() > modelCacheCap
    })
  private def localStamp(path: String): Long = {
    try {
      val raw = if (path.startsWith("file:"))
        new java.net.URI(path).getPath else path
      if (raw.contains("://")) return -1L // remote FS: don't cache
      val d = new java.io.File(raw)
      val fs = d.listFiles()
      if (fs == null) -1L
      else fs.foldLeft(1L) { (acc, x) =>
        ((acc * 31 + x.getName.hashCode) * 31 + x.length()) * 31 +
          x.lastModified()
      }
    } catch { case _: Exception => -1L }
  }
  private def cachedModel[T <: AnyRef](sub: String, key: String = "")(load: => T): T = {
    val st = localStamp(sub)
    if (st == -1L) load
    else {
      val k = if (key.isEmpty) sub else key
      val hit = modelCache.get(k)
      if (hit != null && hit._1 == st) hit._2.asInstanceOf[T]
      else { val v = load; modelCache.put(k, (st, v)); v }
    }
  }

  /** Read a layout directory with its schema pinned: a schema-less
    * parquet read re-infers the schema, a Spark job, inside every
    * serve/audit call's analysis. The schema is read from one footer on
    * the driver ([[graft.catalog.ParquetFooter]]) and cached; appends don't
    * change it. The `partitionBy("c")` data layouts get `c` back from
    * partition discovery. */
  private def readLayout(spark: SparkSession, path: String): DataFrame = {
    val schema = cachedModel(path, s"$path#schema") {
      graft.catalog.ParquetFooter.read(spark, path).schema
    }
    spark.read.schema(schema).parquet(path)
  }
}
