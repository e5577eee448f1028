package graft

import graft.expr.Int8Ops
import graft.operators.{IvfIndex, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** int8 scalar quantization (SQ8) — round-12 codegen kernels behind the
  * long-standing x45/x54 contract (qscale = 127/max|v|, codes =
  * clamp(floor(v·qscale + 0.5), ±127), byte representation). */
class Int8Spec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private lazy val emb: DataFrame = TestSpark.session.catalog.relation("embeddings")

  test("qscale and codes match hand arithmetic; half-handling is floor(x+0.5)") {
    // mx = 127 → qscale = 1.0, so codes are floor(v + 0.5)
    val d = Seq((1L, Seq(127.0, 2.5, -2.5, 0.4, -0.6))).toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(d, "embedding", "vec_id").collect().head
    assert(q.getDouble(2) === 1.0)
    // -2.5 + 0.5 = -2.0 → floor = -2 (floor half-handling, NOT away-from-zero)
    assert(q.getSeq[Byte](1) === Seq[Byte](127, 3, -2, 0, -1))
    // mx = 2 → qscale = 63.5; codes = floor(63.5·v + 0.5)
    val d2 = Seq((1L, Seq(1.0, -2.0, 0.5))).toDF("vec_id", "embedding")
    val q2 = Similarity.quantizeInt8(d2, "embedding", "vec_id").collect().head
    assert(q2.getDouble(2) === 63.5)
    assert(q2.getSeq[Byte](1) === Seq[Byte](64, -127, 32))
  }

  test("zero and empty vectors: qscale 0, zero codes, cosine 0, decode zeros") {
    val d = Seq((1L, Seq(0.0, 0.0)), (2L, Seq.empty[Double])).toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(d, "embedding", "vec_id").orderBy("vec_id").collect()
    assert(q(0).getDouble(2) === 0.0 && q(0).getSeq[Byte](1) === Seq[Byte](0, 0))
    assert(q(1).getSeq[Byte](1).isEmpty)
    val c = Similarity.quantizeInt8(d, "embedding", "vec_id")
      .select(Int8Ops.cosineFromCodes(col("qvec"), col("qvec")).as("c"))
      .collect().map(_.getDouble(0))
    assert(c.forall(_ === 0.0))
    val dec = Similarity.dequantizeInt8(Similarity.quantizeInt8(d, "embedding", "vec_id"))
      .orderBy("vec_id").collect()
    assert(dec(0).getSeq[Double](1) === Seq(0.0, 0.0))
  }

  test("dequantize error is bounded by 0.5/qscale per element on the real corpus") {
    val q = Similarity.quantizeInt8(emb, "embedding", "vec_id")
    val joined = Similarity.dequantizeInt8(q).join(q, "vec_id")
      .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
      .where(col("qscale") > 0)
    val bad = joined.select(col("vec_id"), col("qscale"),
        zip_with(col("vec"), col("embedding").cast("array<double>"),
          (a, b) => abs(a - b)).as("errs"))
      .where(array_max(col("errs")) > lit(0.5) / col("qscale") + lit(1e-9))
    assert(bad.count() === 0L)
  }

  test("codegen kernels agree with the interpreted HOF formulation exactly") {
    // the r12 swap must be a pure representation change: same qscale,
    // same code VALUES as the old transform/floor chain on real data
    val v = col("embedding").cast("array<double>")
    val amax = array_max(transform(v, x => abs(x)))
    val hofScale = when(amax > 0, lit(127.0) / amax).otherwise(lit(0.0))
    val hof = emb.select(col("vec_id"), hofScale.as("hs"),
      transform(v, x => greatest(lit(-127L), least(lit(127L),
        floor(x * hofScale + lit(0.5)).cast("long")))).as("hq"))
    val q = Similarity.quantizeInt8(emb, "embedding", "vec_id")
    val bad = q.join(hof, "vec_id")
      .where(col("qscale") =!= col("hs") ||
        transform(col("qvec"), b => b.cast("long")) =!= col("hq"))
    assert(bad.count() === 0L)
  }

  test("int8 cosine tracks exact cosine within quantization noise") {
    val a = emb.where(col("vec_id") < 50)
    val q = Similarity.quantizeInt8(a, "embedding", "vec_id")
    val pairs = q.select(col("vec_id").as("ia"), col("qvec").as("ca"))
      .crossJoin(q.select(col("vec_id").as("ib"), col("qvec").as("cb")))
      .where(col("ia") < col("ib"))
    val exact = a.select(col("vec_id").as("ia"), col("embedding").as("va"))
      .crossJoin(a.select(col("vec_id").as("ib"), col("embedding").as("vb")))
      .where(col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        graft.expr.VectorOps.cosine(col("va"), col("vb")).as("ec"))
    val bad = pairs.select(col("ia"), col("ib"),
        Int8Ops.cosineFromCodes(col("ca"), col("cb")).as("ic"))
      .join(exact, Seq("ia", "ib"))
      .where(abs(col("ic") - col("ec")) > 0.02)
    assert(bad.count() === 0L)
  }

  test("int8CosineTopK overlaps brute-force top-5 at >= 90% and is k-complete") {
    val q = emb.where(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(emb, q, k = 5)
      .select(col("qid"), col("vec_id")).withColumn("b", lit(1))
    val i8 = Similarity.int8CosineTopK(emb, q, k = 5)
    assert(i8.groupBy("qid").count().where(col("count") =!= 5).count() === 0L)
    val overlap = i8.join(brute, Seq("qid", "vec_id")).count()
    assert(overlap * 10 >= brute.count() * 9, s"overlap=$overlap")
  }

  test("IVF+SQ8: layout serve ≡ in-memory composition; append grows buckets with serve parity") {
    val dir = java.nio.file.Files.createTempDirectory("ivfsq8_spec_").toString
    val old = emb.where(col("vec_id") % 3 =!= 0)
    val fresh = emb.where(col("vec_id") % 3 === 0)
    val q = emb.where(col("vec_id") < 6)
    IvfIndex.save(old, dir, IvfIndex.Sq8)
    val model = IvfIndex.load(spark, dir)
    // layout serve is exactly the in-memory composition
    val served = IvfIndex.topK(spark, dir, q, k = 4, nprobe = 3)
    val flat = IvfIndex.topKWith(old, q, k = 4, model, nprobe = 3)
    assert(served.except(flat).count() === 0L && flat.except(served).count() === 0L)
    // append: grown layout ≡ composition over old ∪ new with SAME centroids
    IvfIndex.append(fresh, dir)
    val grown = IvfIndex.topK(spark, dir, q, k = 4, nprobe = 3)
    val flatAll = IvfIndex.topKWith(emb, q, k = 4, model, nprobe = 3)
    assert(grown.except(flatAll).count() === 0L && flatAll.except(grown).count() === 0L)
  }

  test("IVF+SQ8 lifecycle: audit reports sane recall; injected drift triggers blue/green rebuild that recovers") {
    val dir = java.nio.file.Files.createTempDirectory("ivfsq8_lc_").toString
    val q = emb.where(col("vec_id") < 8)
    IvfIndex.save(emb, dir, IvfIndex.Sq8)
    val healthy = IvfIndex.recallAudit(spark, dir, q, k = 5, nprobe = 8)
      .head()
    assert(healthy.getLong(0) === 8L && healthy.getDouble(1) >= 0.6,
      s"healthy audit: $healthy")
    // inject drift: append a sign-flipped copy of the corpus (decorrelated
    // from the trained centroids) — probe recall on the grown layout decays
    val flipped = emb.select((col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding").cast("array<double>"), x => -x).as("embedding"))
    IvfIndex.append(flipped, dir)
    val rebuildDir = dir + "_rebuilt"
    val report = IvfIndex.refreshIfDrifted(spark, dir, rebuildDir,
      q, k = 5, nprobe = 2, minRecall = 0.95).head()
    // either the audit already sees decay (drifted=1 and the rebuild
    // recovers to >= before) or the probe set stayed lucky — pin the
    // report CONTRACT: rebuild happens iff drifted, recall_after >= before
    val drifted = report.getInt(2)
    assert(report.getInt(3) === drifted)
    assert(report.getDouble(4) >= report.getDouble(1) - 1e-9)
    if (drifted == 1)
      assert(new java.io.File(rebuildDir, "centroids").exists())
  }

  test("int8 SQL functions and the int8_quantize table function surface") {
    val e = TestSpark.session
    val r = e.sql("select vec_id, qvec, qscale from int8_quantize(embeddings)")
    assert(r.count() === emb.count())
    // scales cancel: int8_dot of a code row with itself is a positive long
    val s = r.limit(1).select(Int8Ops.dotCodes(col("qvec"), col("qvec")))
      .collect().head.getLong(0)
    assert(s > 0L)
    // eager convention error on a wrong-shaped relation
    val err = intercept[Exception](e.sql("select * from int8_quantize(documents)"))
    assert(err.getMessage.contains("int8_quantize"))
  }
}
