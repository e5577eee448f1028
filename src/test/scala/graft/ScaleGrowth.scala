package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-growth synth: a TPC-H-shaped dataset of `copies` KEY-SHIFTED
  * sf0.1 copies (join relationships preserved — every foreign key shifts
  * by the same per-copy offset), so 10 copies is ~sf1 and 100 copies is
  * ~sf10, 100× the bench scale. Content is PERTURBED per copy so the
  * dup-rate / similarity PROFILE of the base corpus is preserved instead
  * of manufacturing a copies²-pair content pathology:
  *
  *  - documents: every 3rd token gets a per-copy suffix → every 5-gram
  *    shingle spans ≥1 mutated token → cross-copy Jaccard ≈ 0.
  *  - embeddings: per-copy deterministic ±1 SIGN MASK (murmur3 of
  *    (copy, dim)) — unlike rotating copy i by i dims (which collides at
  *    ≥64 copies: rotations repeat mod dim, minting exact cross-copy
  *    twins), distinct masks keep unit norm and decorrelate cosine
  *    (E[cos] = 0 between copies), so ANN/near-dup candidate structure
  *    matches the base profile.
  *  - events: each copy shifts 31 days later — the timeline EXTENDS the
  *    way a real stream grows; per-user density constant.
  *
  * Perf posture only — no oracle at this scale; correctness is gated at
  * sf0.01. Run:
  *   `sbt -batch "Test/runMain graft.ScaleGrowth <copies> [outDir]"`
  * (outDir defaults to /tmp/sfsynth<copies / 10>), then sweep with
  *   `SPARK_GRAFT_SF_DIR=<outDir> SPARK_GRAFT_ONLY=<heavy gates>
  *    sbt -batch "runMain graft.Bench"` (ratios recorded in SCALE.md).
  */
object ScaleGrowth {
  def main(a: Array[String]): Unit = {
    val copies = a.headOption.map(_.toInt).getOrElse(
      sys.error("usage: ScaleGrowth <copies> [outDir]"))
    val out = a.lift(1).getOrElse(s"/tmp/sfsynth${copies / 10}")
    val spark = TestSpark.spark
    val src = GraftSession.forDir(spark, "/root/testdata/sf0.1")

    // per-copy key offsets: > max key of the base table, so copies never
    // collide and every FK lands in its own copy's PK range
    def maxOf(t: String, c: String): Long =
      src.catalog.relation(t).agg(max(col(c))).head().getAs[Number](0).longValue + 1

    val oK = maxOf("orders", "o_orderkey")
    val cK = maxOf("customer", "c_custkey")
    val pK = maxOf("part", "p_partkey")
    val sK = maxOf("supplier", "s_suppkey")
    val dK = maxOf("documents", "doc_id")
    val vK = maxOf("embeddings", "vec_id")
    val eK = maxOf("events", "event_id")
    val uK = maxOf("events", "user_id")

    // copy 0 is the base table itself; copy i > 0 is `perturb(base, i)`
    def copied(t: String)(perturb: (DataFrame, Int) => DataFrame): DataFrame = {
      val base = src.catalog.relation(t)
      (0 until copies).map(i => if (i == 0) base else perturb(base, i)).reduce(_ union _)
    }

    def shifted(t: String, shifts: Map[String, Long]): DataFrame =
      copied(t) { (base, i) =>
        shifts.foldLeft(base) { case (df, (c, k)) =>
          df.withColumn(c, col(c) + lit(i * k))
        }
      }

    val documents = copied("documents") { (base, i) =>
      base
        .withColumn("doc_id", col("doc_id") + lit(i * dK))
        .withColumn("text", array_join(
          transform(split(col("text"), " "),
            (w, j) => when(j % 3 === 0, concat(w, lit("~" + i))).otherwise(w)),
          " "))
        .withColumn("n_chars", length(col("text")))
    }

    val embeddings = copied("embeddings") { (base, i) =>
      base
        .withColumn("vec_id", col("vec_id") + lit(i * vK))
        .withColumn("embedding",
          transform(col("embedding"),
            (v, j) => when(pmod(hash(lit(i), j), lit(2)) === 0, v).otherwise(-v)))
    }

    val events = copied("events") { (base, i) =>
      base
        .withColumn("event_id", col("event_id") + lit(i * eK))
        .withColumn("user_id", col("user_id") + lit(i * uK))
        .withColumn("ts", col("ts") + expr(s"interval ${i * 31} day"))
    }

    val tables: Seq[(String, DataFrame)] = Seq(
      "region"   -> src.catalog.relation("region"),
      "nation"   -> src.catalog.relation("nation"),
      "customer" -> shifted("customer", Map("c_custkey" -> cK)),
      "supplier" -> shifted("supplier", Map("s_suppkey" -> sK)),
      "part"     -> shifted("part", Map("p_partkey" -> pK)),
      "orders"   -> shifted("orders", Map("o_orderkey" -> oK, "o_custkey" -> cK)),
      "lineitem" -> shifted("lineitem", Map("l_orderkey" -> oK,
        "l_partkey" -> pK, "l_suppkey" -> sK)),
      "documents"  -> documents,
      "embeddings" -> embeddings,
      "events"     -> events
    )

    val dir = new java.io.File(out); dir.mkdirs()
    tables.foreach { case (name, df) =>
      val t0 = System.nanoTime
      // `<name>.parquet` is a DIRECTORY of 32 part files (spark.read
      // treats it identically to one file). A single coalesce(1) file
      // compresses small tables (documents = 65 MB at 100 copies) into ONE
      // parquet row group, and a row group is the unit of scan parallelism
      // — every scan then runs on ONE core and the sweep measures
      // single-thread throughput instead of operator growth (x44 read 298x
      // before this layout, 12x after). Real 100 TB inputs are millions of
      // row groups; 32 splits is the realistic layout.
      val dst = new java.io.File(s"$out/$name.parquet")
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete()
      }
      if (dst.exists()) rm(dst)
      df.repartition(32).write.mode("overwrite").parquet(dst.getPath)
      println(f"[scale] wrote $name%-10s rows=${spark.read.parquet(dst.getPath).count()}%10d  ${(System.nanoTime - t0) / 1e9}%6.1f s")
    }
    println(s"[scale] synthesized $copies copies of sf0.1 at $out")
  }
}
