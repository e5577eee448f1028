package graft

import org.apache.spark.sql.functions._

/** Round-10 scale proof (VERDICT r9 task #4): execute the ENTIRE
  * training-data pipeline ([[graft.operators.Curation.fullPipeline]]:
  * normalize → Gopher filter → exact dedup → near-dup families →
  * leakage-safe split → packing → shard publish) at ~sf10 (the
  * `ScaleGrowth 100` synth, 100× bench scale, multi-file layout) and commit
  * the per-operator runtime SQLMetrics — rows, spill bytes, shuffle
  * bytes — as an artifact, plus the headline totals the 100 TB posture
  * claims (zero spill, shuffle bounded by the keyed stages).
  *
  * Run: `SPARK_DRIVER_MEM=48g sbt -batch
  *   "Test/runMain graft.DressRehearsal /tmp/sfsynth10 METRICS_x95_sf10.txt"`
  */
object DressRehearsal {
  def main(a: Array[String]): Unit = {
    val sfDir = a.headOption.getOrElse("/tmp/sfsynth10")
    val outFile = a.lift(1).getOrElse("METRICS_x95_sf10.txt")
    val spark = TestSpark.spark
    val docs = GraftSession.forDir(spark, sfDir).catalog.relation("documents")

    // build the lazy pipeline (the internal kept/pairs checkpoints — the
    // dedup and pair-mining stages — execute eagerly during this call),
    // then execute the packed plan itself WITH metrics: the rendered tree
    // covers the split join, token aggregation, bucket assignment, and
    // the packing window — the stages whose shuffles the posture claims
    val t0 = System.nanoTime()
    val packedLazy = operators.Curation.fullPipeline(docs)
    val tUpstream = (System.nanoTime() - t0) / 1e9

    val t1 = System.nanoTime()
    val (rendered, c) = obs.Obs.around(spark)(obs.PlanMetrics.executeAndRender(packedLazy))
    val tPacked = (System.nanoTime() - t1) / 1e9

    val packed = packedLazy.localCheckpoint()
    val pubDir = java.nio.file.Files.createTempDirectory("rehearsal_pub_")
    val t2 = System.nanoTime()
    val audit = operators.Curation.writeShards(
      packed.select("id", "split", "bucket", "bin", "token_est"),
      "id", pubDir.toString, shards = 32)
    val tPublish = (System.nanoTime() - t2) / 1e9

    val inDocs = docs.count()
    val outDocs = packed.count()
    val published = audit.agg(sum(col("n_rows"))).head().getLong(0)
    val splitRows = packed.groupBy("split").count().collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(", ")

    val body = new StringBuilder
    body.append("# x95 dress rehearsal at sf10 — runtime SQLMetrics\n")
    body.append(s"# sfDir=$sfDir  docs_in=$inDocs  docs_out=$outDocs  ")
    body.append(s"published=$published  splits={$splitRows}\n")
    body.append(f"# upstream (normalize+filter+dedup+pair checkpoints)=${tUpstream}%.1f s  ")
    body.append(f"packed-plan execute=${tPacked}%.1f s  publish(32 shards)=${tPublish}%.1f s\n")
    body.append(s"# packed-plan totals: spill_bytes=${c.spillBytes}  shuffle_bytes_written=${c.shuffleWriteBytes}\n")
    body.append("# (exact dedup + LSH pair mining execute inside the kept/pairs\n")
    body.append("#  localCheckpoints; the tree below is the split+tokens+pack plan)\n\n")
    body.append(rendered)

    java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      body.toString.getBytes("UTF-8"))
    println(s"[rehearsal] wrote $outFile")
    println(body.toString.linesIterator.take(6).mkString("\n"))

    require(published == outDocs,
      s"publish audit mismatch: $published files rows vs $outDocs packed")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete(): Unit
    }
    rm(pubDir.toFile)
  }
}
