package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a near-duplicate pair graph — the step that
  * turns pairwise dedup output (x03/x05-style `(ida, idb)` candidates)
  * into per-document CLUSTER assignments, so a pipeline can keep one
  * canonical representative per duplicate cluster instead of reasoning
  * about pairs. (The reference has no graph operators; this is an M4
  * pipeline extension, SURVEY §7.2.)
  *
  * Algorithm: iterative min-label propagation (labels start as the node
  * id; each round every node takes the min of its own and its neighbors'
  * labels) — converges in O(graph diameter) rounds. Near-dup clusters are
  * near-cliques (similarity is approximately transitive), so the diameter
  * is small in practice; a `maxIter` guard catches pathological chains.
  *
  * Scale design:
  *  - the symmetric edge list is localCheckpoint()ed ONCE and re-joined
  *    each round — no lineage growth, no recompute of the upstream LSH;
  *  - each round is one shuffled join + one partial-aggregated groupBy
  *    (min is map-side combinable), both AQE-skew-splittable;
  *  - convergence is checked with a single count over the label diff —
  *    no collect of node sets to the driver.
  */
object Components {

  /** Edge-count bound under which the deduplicated edge list is solved
    * with a driver-side union-find instead of the iterative join loop
    * (r15 opt). The label loop costs O(diameter) driver actions — on a
    * small graph that is pure scheduling overhead (measured: 62 edges
    * took 5.4 s through the loop, <1 ms through union-find). 200k edges
    * is a few MB collected — model-sized, far under any broadcast bound —
    * and the result is IDENTICAL by construction (comp = min member id;
    * min is schedule-independent). Corpus-scale graphs keep the loop. */
  private val SmallGraphEdgeCap: Long = 200000L

  /** Unsigned lexicographic byte compare — Spark's BinaryType/StringType
    * ordering (UTF8String compares UTF-8 bytes unsigned, which diverges
    * from java.lang.String.compareTo on supplementary code points). */
  private def cmpBytes(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val c = (a(i) & 0xff) - (b(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    a.length - b.length
  }

  /** Compare two collected id values with SPARK's ordering, so the fast
    * path's `comp = min member id` label is bit-identical to the
    * distributed loop's `least`/`min` (r15 advice): strings compare as
    * UTF-8 bytes, binary ids compare unsigned bytewise, everything else
    * is a Comparable whose natural order Spark shares. */
  private def cmpAny(x: Any, y: Any): Int = (x, y) match {
    case (a: String, b: String) => cmpBytes(a.getBytes("UTF-8"), b.getBytes("UTF-8"))
    case (a: Array[Byte], b: Array[Byte]) => cmpBytes(a, b)
    case _ => x.asInstanceOf[Comparable[Any]].compareTo(y)
  }

  /** Array[Byte] has identity equals/hashCode, so binary ids need a
    * value-equality wrapper to serve as union-find map keys. */
  private def mapKey(v: Any): Any = v match {
    case a: Array[Byte] => java.nio.ByteBuffer.wrap(a)
    case other => other
  }

  /** Driver union-find over a collected edge list: (id, comp=min member). */
  private def unionFind(edges: Array[(Any, Any)]): Seq[(Any, Any)] = {
    val idx = new java.util.HashMap[Any, Int]
    val vals = new scala.collection.mutable.ArrayBuffer[Any]
    def id(v: Any): Int = {
      val k = mapKey(v)
      if (!idx.containsKey(k)) { idx.put(k, vals.length); vals += v }
      idx.get(k)
    }
    edges.foreach { case (a, b) => id(a); id(b); () }
    val parent = Array.tabulate(vals.length)(identity)
    def find(i: Int): Int = {
      var r = i
      while (parent(r) != r) r = parent(r)
      var c = i
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(idx.get(mapKey(a))), find(idx.get(mapKey(b))))
      if (ra != rb) parent(ra) = rb
    }
    // min member value per root under the id type's natural ordering —
    // exactly the loop's converged label
    val minOf = new java.util.HashMap[Int, Any]
    vals.indices.foreach { i =>
      val r = find(i)
      val cur = minOf.get(r)
      if (cur == null || cmpAny(vals(i), cur) < 0) minOf.put(r, vals(i))
    }
    vals.indices.map(i => (vals(i), minOf.get(find(i))))
  }

  /** `pairs`: two id columns (any orderable type). Returns (id, comp)
    * where comp = min node id of the component; only nodes present in
    * `pairs` appear. */
  def connectedComponents(pairs: DataFrame, aCol: String = "ida",
                          bCol: String = "idb", maxIter: Int = 50): DataFrame = {
    val edges = edgeList(pairs, aCol, bCol)
    // small-graph fast path: one count on the already-materialized edge
    // list decides; identical output, none of the per-round actions
    if (edges.count() <= SmallGraphEdgeCap) localComponents(edges)
    else labelLoop(edges, maxIter)
  }

  /** The symmetric, deduplicated (s, d) edge list of `pairs`,
    * checkpointed once so every later pass re-reads it. */
  private[graft] def edgeList(pairs: DataFrame, aCol: String, bCol: String): DataFrame = {
    val fwd = pairs.select(col(aCol).as("s"), col(bCol).as("d"))
    val rev = pairs.select(col(bCol).as("s"), col(aCol).as("d"))
    fwd.union(rev).distinct().localCheckpoint()
  }

  /** (id, comp) of an [[edgeList]], solved by union-find on the driver. */
  private[graft] def localComponents(edges: DataFrame): DataFrame = {
    val schema = edges.select(col("s").as("id")).withColumn("comp", col("id")).schema
    val rows = unionFind(edges.collect().map(r => (r.get(0), r.get(1))))
      .map { case (i, c) => org.apache.spark.sql.Row(i, c) }
    edges.sparkSession.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, schema)
  }

  /** (id, comp) of an [[edgeList]], solved by distributed min-label
    * propagation: O(diameter) rounds, failing past `maxIter`. */
  private[graft] def labelLoop(edges: DataFrame, maxIter: Int): DataFrame = {
    var labels = edges.select(col("s").as("id")).distinct()
      .withColumn("comp", col("id")).localCheckpoint()
    var i = 0
    var converged = false
    while (!converged) {
      i += 1
      if (i > maxIter) throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter rounds " +
          "(graph diameter exceeds the bound — raise maxIter)")
      // min label among neighbors, then min with the node's own label.
      // The `changed` flag rides along in the SAME pass, so convergence is
      // a scan of the just-checkpointed step — not a second labels-vs-next
      // shuffle join per iteration (round-8: halves per-round shuffles)
      val viaNeighbors = edges
        .join(labels.select(col("id").as("d"), col("comp").as("nc")), "d")
        .groupBy(col("s").as("id")).agg(min(col("nc")).as("nc"))
      val stepped = labels.join(viaNeighbors, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("nc"), col("comp"))).as("comp"),
          (coalesce(col("nc"), col("comp")) < col("comp")).as("changed"))
        .localCheckpoint()
      converged = stepped.where(col("changed")).isEmpty
      labels = stepped.select(col("id"), col("comp"))
    }
    labels
  }

  /** One row per duplicate cluster: the canonical (min-id) representative
    * plus the cluster size — the "keep list" of cluster-level dedup. */
  def representatives(pairs: DataFrame, aCol: String = "ida",
                      bCol: String = "idb"): DataFrame =
    connectedComponents(pairs, aCol, bCol)
      .groupBy(col("comp").as("keep_id"))
      .agg(count(lit(1)).as("cluster_size"))

  /** Cluster-level dedup of `df`: drop every row whose id sits in a
    * duplicate cluster but is not the cluster's min-id representative.
    * Rows not mentioned in `pairs` are kept (singleton clusters). */
  def dedupByCluster(df: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val losers = connectedComponents(pairs)
      .where(col("id") =!= col("comp"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }
}
