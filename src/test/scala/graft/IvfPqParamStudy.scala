package graft

import org.apache.spark.sql.functions._
import graft.operators.{IvfIndex, Similarity}

/** Round-12 IVF-PQ production parameterization study (VERDICT r11 #5):
  * at sf10 (~200k vectors, dim 64) sweep nlist ∈ {16, 256, 2048} × an
  * nprobe ladder and record train time, serve latency (min of 2),
  * recall@10 vs the brute-force truth, and the probed-bucket fraction.
  * The production rule under test: nlist ≈ √n (447 here) with nprobe
  * sized to the recall target — candidate work per query is
  * (n/nlist)·nprobe, so recall-equivalent configs trade bucket count
  * against probe count. Results land in SCALE.md; the x101/q116 gate
  * keeps its default only if the data says the √n row is the right
  * PRODUCTION advice, not the right 2k-vector gate setting.
  *
  * Run: `sbt -batch "Test/runMain graft.IvfPqParamStudy
  *   [sfDir [m k shortlist [nlistCsv]]]"`
  * (expects a `ScaleGrowth 100` output at /tmp/sfsynth10 by default). The
  * m/k/shortlist knobs isolate the OTHER recall levers: the first sweep
  * showed recall is ADC-bound at m=8 (more probes LOWER recall — noisy
  * ADC scores crowd true neighbors out of the shortlist), so the second
  * sweep raises PQ precision (m=16, k=32) and the shortlist.
  */
object IvfPqParamStudy {
  def main(a: Array[String]): Unit = {
    val sfDir = a.headOption.getOrElse("/tmp/sfsynth10")
    val m = a.lift(1).map(_.toInt).getOrElse(8)
    val kSub = a.lift(2).map(_.toInt).getOrElse(16)
    val shortlist = a.lift(3).map(_.toInt).getOrElse(50)
    val nlists = a.lift(4).map(_.split(",").toSeq.map(_.toInt))
      .getOrElse(Seq(16, 256, 2048))
    val residual = a.lift(5).exists(_.toBoolean)
    val spark = TestSpark.spark
    val emb = GraftSession.forDir(spark, sfDir).catalog.relation("embeddings")
      .localCheckpoint()
    val n = emb.count()
    val q = emb.where(col("vec_id") < 64).localCheckpoint()
    val truth = Similarity.bruteForceTopK(emb, q, k = 10).localCheckpoint()
    println(s"[study] corpus n=$n queries=${q.count()} sqrt(n)=${math.sqrt(n.toDouble).round}")
    val ladders = Map(
      16 -> Seq(1, 2, 4, 8, 16),
      256 -> Seq(4, 8, 16, 32, 64),
      2048 -> Seq(16, 32, 64, 128, 256))
      .withDefaultValue(Seq(4, 16, 64))
    for (nlist <- nlists) {
      val dir = s"/tmp/ivfpq_study_${nlist}_${m}_$kSub"
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rm)
        f.delete(): Unit
      }
      rm(new java.io.File(dir))
      val t0 = System.nanoTime
      IvfIndex.save(emb, dir, IvfIndex.Pq(m, kSub, residual), nlist = nlist,
        iters = 2)
      val trainS = (System.nanoTime - t0) / 1e9
      val centroids = IvfIndex.load(spark, dir).centroids
      for (nprobe <- ladders(nlist)) {
        def serveSec(): Double = {
          val s0 = System.nanoTime
          IvfIndex.topK(spark, dir, q, k = 10, nprobe = nprobe,
            shortlist = shortlist).count(): Unit
          (System.nanoTime - s0) / 1e9
        }
        val lat = math.min(serveSec(), serveSec())
        val recall = Similarity.annRecall(
          IvfIndex.topK(spark, dir, q, k = 10, nprobe = nprobe,
            shortlist = shortlist), truth).head().getDouble(1)
        val probed = IvfIndex.probeBuckets(q, centroids, nprobe).length
        println(f"[study] res=$residual m=$m%2d k=$kSub%2d sl=$shortlist%3d nlist=$nlist%5d nprobe=$nprobe%4d train=$trainS%6.1fs " +
          f"serve=$lat%6.2fs recall@10=$recall%.3f probed=$probed%4d/$nlist " +
          f"candRowsPerQ~${n * math.min(nprobe, nlist) / nlist}%7d")
      }
    }
  }
}
