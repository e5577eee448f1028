package graft

import graft.operators._
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Specs for the M4 extension operators (SURVEY §7.2) on sf0.001 testdata
  * plus small synthetic frames for exact-semantics checks. */
class OperatorsSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private lazy val docs: DataFrame = TestSpark.session.catalog.relation("documents")
  private lazy val emb: DataFrame = TestSpark.session.catalog.relation("embeddings")

  test("exact dedup keeps min id per text, hash variant agrees") {
    val d = Seq((1L, "aa"), (2L, "bb"), (3L, "aa"), (4L, "aa")).toDF("doc_id", "text")
    val kept = Dedup.exact(d, Seq("text"), "doc_id").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 2L))
    val keptH = Dedup.exactByHash(d, "text", "doc_id").select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(keptH == Set(1L, 2L))
    // real corpus: survivors <= total, deterministic across runs
    val a = Dedup.exact(docs, Seq("text"), "doc_id").count()
    val b = Dedup.exactByHash(docs, "text", "doc_id").count()
    assert(a == b && a <= docs.count())
  }

  test("line dedup strips lines shared by >= minDocFreq docs, reassembles the rest in order") {
    val d = Seq(
      (1L, "HEADER\nalpha beta\n\ngamma"),
      (2L, "HEADER\ndelta\nepsilon"),
      (3L, "HEADER\nzeta"),
      (4L, "HEADER"), // doc that is ALL boilerplate
      (5L, "unique only")).toDF("doc_id", "text")
    val out = Dedup.lineDedup(d, "text", "doc_id", minDocFreq = 3L)
      .select("doc_id", "cleaned", "n_kept", "n_removed")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("alpha beta\n\ngamma", 3L, 1L))) // blank line preserved
    assert(out(2L) == (("delta\nepsilon", 2L, 1L)))
    assert(out(3L) == (("zeta", 1L, 1L)))
    assert(out(4L) == (("", 0L, 1L)))
    assert(out(5L) == (("unique only", 1L, 0L)))
    // below threshold nothing is removed and reassembly is byte-exact
    val rt = Dedup.lineDedup(d, "text", "doc_id", minDocFreq = 9L)
    assert(rt.where(col("cleaned") =!= col("text")).count() == 0)
  }

  test("minhash-LSH finds planted near-duplicates, skips distinct docs") {
    val base = "the quick brown fox jumps over the lazy dog and runs far away " * 4
    val nearDup = base.replace("lazy", "sleepy")
    val other = "completely different content about spark catalyst optimizer internals " * 4
    val d = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("doc_id", "text")
    val cands = Dedup.minhashCandidates(d, "text", "doc_id", threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cands.contains((1L, 2L)))
    assert(!cands.exists(p => p._2 == 3L || p._1 == 3L))
  }

  test("minhash signature estimates jaccard") {
    val a = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16"
    val d = Seq((1L, a), (2L, a)).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(d, "text", "doc_id").collect()
    val s1 = sigs.find(_.getLong(0) == 1L).get.getSeq[Long](1)
    val s2 = sigs.find(_.getLong(0) == 2L).get.getSeq[Long](1)
    assert(s1 == s2) // identical docs → identical signatures
    assert(s1.length == 64)
  }

  test("simhash: identical docs distance 0, near docs small distance") {
    val base = "alpha beta gamma delta epsilon zeta eta theta " * 8
    val d = Seq((1L, base), (2L, base), (3L, base + "iota kappa")).toDF("doc_id", "text")
    val sigs = Dedup.simhashSignatures(d, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(3L)) <= 16)
    val cands = Dedup.simhashCandidates(d, "text", "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(cands.exists(c => c._1 == 1L && c._2 == 2L && c._3 == 0))
  }

  test("ngram jaccard verification on candidate pairs") {
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("ida", "idb")
    val d = Seq(
      (1L, "a b c d e f g h"), (2L, "a b c d e f g x"), (3L, "z y x w v u t s")
    ).toDF("doc_id", "text")
    val j = Dedup.ngramJaccard(pairs, d, "text", "doc_id", n = 2)
      .collect().map(r => (r.getLong(1), r.getLong(0)) -> r.getDouble(2)).toMap
    // careful: output cols are (ida, idb, jaccard); key by (ida, idb)
    val jm = Dedup.ngramJaccard(pairs, d, "text", "doc_id", n = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(jm((1L, 2L)) > 0.5)
    assert(jm((1L, 3L)) == 0.0)
  }

  test("embedding near-dup finds identical vectors") {
    val v = Array(1.0f, 0.0f, 0.5f, 0.2f)
    val d = Seq((1L, v), (2L, v), (3L, Array(-1.0f, 0.3f, -0.5f, 0.1f)))
      .toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDup(d, "embedding", "vec_id", minCos = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("brute-force top-k: self excluded, k respected, scores ordered") {
    val q = emb.where(col("vec_id") < 3)
    val top = Similarity.bruteForceTopK(emb, q, k = 5)
    val rows = top.collect()
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getLong(0))
    byQ.foreach { case (qid, rs) =>
      assert(rs.length <= 5)
      assert(!rs.exists(_.getLong(1) == qid), "self-match must be excluded")
      val scores = rs.map(_.getDouble(2)).toSeq
      assert(scores == scores.sorted.reverse)
    }
  }

  test("bounded-heap TopK udaf matches the exact collect_list top-k") {
    val q = emb.where(col("vec_id") < 3)
    val exact = Similarity.bruteForceTopK(emb, q, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val partial = Similarity.bruteForceTopKPartial(emb, q, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(partial == exact)
  }

  test("lsh top-k is a subset-quality approximation of brute force") {
    val q = emb.where(col("vec_id") < 3)
    val brute = Similarity.bruteForceTopK(emb, q, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val l = Similarity.lshTopK(emb, q, k = 5, tables = 4, bits = 4).collect()
    // every LSH result is a real (scored) pair; recall>0 on at least one query
    assert(l.nonEmpty)
    assert(l.map(_.getLong(0)).toSet.subsetOf(brute.map(_._1) ++ l.map(_.getLong(0)).toSet))
  }

  test("ivf top-k: trained centroids, probe buckets, decent recall") {
    val q = emb.where(col("vec_id") < 3)
    val brute = Similarity.bruteForceTopK(emb, q, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, q, k = 5, nlist = 8, nprobe = 4).collect()
    assert(ivf.nonEmpty)
    val ivfPairs = ivf.map(r => (r.getLong(0), r.getLong(1))).toSet
    // with half the buckets probed, expect >= 40% recall of the true top-5
    val recall = ivfPairs.intersect(brute).size.toDouble / brute.size
    assert(recall >= 0.4, s"IVF recall $recall too low")
    // centroids deterministic across runs
    val c1 = Similarity.trainIvfCentroids(emb, nlist = 4, iters = 1)
    val c2 = Similarity.trainIvfCentroids(emb, nlist = 4, iters = 1)
    assert(c1.flatten.toSeq == c2.flatten.toSeq)
  }

  // one lifecycle, every codec (the Flat case keeps the test's original
  // name): the rebuild must keep the codec — for the residual PQ layout
  // that means a residual rebuild
  Seq[(String, IvfIndex.Codec)]("" -> IvfIndex.Flat, " (Sq8)" -> IvfIndex.Sq8,
    " (residual Pq)" -> IvfIndex.Pq(m = 8, k = 16, residual = true)).foreach {
    case (tag, codec) =>
  test(s"IVF lifecycle$tag: masked append drifts the index, audit detects, rebuild recovers") {
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString
    val spark = TestSpark.spark
    val e = emb.localCheckpoint()
    val dir = tmp("ivf_life_"); val dir2 = tmp("ivf_life_v2_")
    val dir3 = tmp("ivf_life_v3_")
    IvfIndex.save(e.where(col("vec_id") < 250), dir, codec, nlist = 8, iters = 2)
    assert(IvfIndex.load(spark, dir).codec == codec)
    // no-drift arm: in-distribution probes over the freshly-trained index
    // with a floor the index easily clears — no rebuild, report echoes
    val easyQ = e.where(col("vec_id") < 20)
    val noDrift = IvfIndex.refreshIfDrifted(spark, dir, dir2,
      easyQ, k = 10, nprobe = 4, minRecall = 0.05, nlist = 8, iters = 2).head()
    assert(noDrift.getInt(2) == 0 && noDrift.getInt(3) == 0)
    assert(noDrift.getDouble(1) == noDrift.getDouble(4))
    assert(!new java.io.File(dir2, "centroids").exists(),
      "no-drift arm must not write a rebuild layout")
    // drift arm: append the second half under one fixed sign mask —
    // decorrelated from every trained centroid
    val mask = (v: org.apache.spark.sql.Column) =>
      transform(v, (x, j) => when(pmod(hash(lit("drift"), j), lit(2)) === 0, x)
        .otherwise(-x))
    val appended = e.where(col("vec_id") >= 250)
      .select(col("vec_id"), mask(col("embedding")).as("embedding"))
      .localCheckpoint()
    IvfIndex.append(appended, dir)
    val probes = appended.where(col("vec_id") < 290)
    val audit = IvfIndex.recallAudit(spark, dir, probes, k = 10, nprobe = 2).head()
    assert(audit.getLong(0) == 40L)
    val report = IvfIndex.refreshIfDrifted(spark, dir, dir3,
      probes, k = 10, nprobe = 2, minRecall = 0.9, nlist = 8, iters = 2).head()
    assert(report.getInt(2) == 1 && report.getInt(3) == 1,
      s"drift not detected: $report")
    assert(report.getDouble(1) == audit.getDouble(1)) // audit ≡ refresh's before
    assert(report.getDouble(4) > report.getDouble(1),
      s"rebuild did not recover recall: $report")
    // the rebuilt layout keeps the codec, serves and covers the grown corpus
    assert(IvfIndex.load(spark, dir3).codec == codec)
    val served = IvfIndex.topK(spark, dir3, probes, k = 5, nprobe = 8)
    assert(served.groupBy("qid").count().count() == 40L)
  }
  }

  test("product quantization: exact round-trip at k=corpus, decent ADC recall") {
    // k ≥ distinct sub-vectors with iters that converge to the points
    // themselves → codes reconstruct EXACTLY (each sub-vector its own
    // centroid), so ADC top-k ≡ brute force on the tiny frame
    val tiny = Seq(
      (0L, Array(1f, 0f, 0f, 0f)), (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(0f, 0f, 1f, 0f)), (3L, Array(0f, 0f, 0f, 2f))
    ).toDF("vec_id", "embedding")
    val cb = Similarity.pqTrain(tiny, m = 2, k = 4, iters = 3)
    assert(cb.length == 2 && cb(0).length == 4 && cb(0)(0).length == 2)
    val codes = Similarity.pqEncode(tiny, cb).localCheckpoint()
    assert(codes.collect().forall(r =>
      r.getSeq[Int](1).forall(c => c >= 0 && c < 4)))
    // reconstruction is exact: every original sub-vector IS a centroid
    val recon = codes.select(col("vec_id"),
        Similarity.pqReconstruct(col("code"), cb).as("vhat"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toMap
    val orig = tiny.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq).toMap
    orig.foreach { case (id, v) => assert(recon(id) == v, s"id $id: ${recon(id)}") }
    val adc = Similarity.pqTopK(codes, cb, tiny, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = Similarity.bruteForceTopK(tiny, tiny, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(adc == brute)
    // real corpus (near-random unit vectors — PQ's WORST case): at 16x
    // compression the raw ADC scan still finds a usable shortlist, and
    // the exact re-rank of 50 candidates recovers most of the true
    // top-10 — the shipping configuration
    val q = emb.where(col("vec_id") < 10)
    val truth = Similarity.bruteForceTopK(emb, q, k = 10).localCheckpoint()
    val cb2 = Similarity.pqTrain(emb, m = 16, k = 32, iters = 3)
    val codes2 = Similarity.pqEncode(emb, cb2).localCheckpoint()
    val rec = Similarity.annRecall(
      Similarity.pqTopK(codes2, cb2, q, k = 10), truth).head()
    assert(rec.getLong(0) == 10L)
    assert(rec.getDouble(1) >= 0.4, s"PQ ADC mean recall ${rec.getDouble(1)} too low")
    val rr = Similarity.annRecall(
      Similarity.pqTopKRerank(codes2, cb2, emb, q, k = 10, shortlist = 50),
      truth).head()
    assert(rr.getDouble(1) >= 0.8, s"PQ rerank mean recall ${rr.getDouble(1)} too low")
    intercept[IllegalArgumentException](
      Similarity.pqTopKRerank(codes2, cb2, emb, q, k = 10, shortlist = 5))
    // training is deterministic
    val cb3 = Similarity.pqTrain(emb, m = 16, k = 32, iters = 3)
    assert(cb2.flatten.flatten.toSeq == cb3.flatten.flatten.toSeq)
    // persisted layout serves EXACTLY the in-memory rerank result
    val dir = java.nio.file.Files.createTempDirectory("pq_idx_").toString
    IvfIndex.savePqIndex(emb, dir, m = 16, k = 32, iters = 3)
    val lcb = IvfIndex.loadPqCodebooks(TestSpark.spark, dir)
    assert(lcb.flatten.flatten.toSeq == cb2.flatten.flatten.toSeq)
    val served = IvfIndex.pqTopKIndexed(TestSpark.spark, dir, q,
        k = 10, shortlist = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val direct = Similarity.pqTopKRerank(codes2, cb2, emb, q,
        k = 10, shortlist = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(served == direct)
  }

  test("hardNegatives: different-label band top-k equals an in-memory recompute") {
    val all = emb.select(col("vec_id"), col("label"), col("embedding")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).map(_.toDouble).toArray))
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dp = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dp += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      BigDecimal(dp / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = all.filter(_._1 < 3).flatMap { case (qid, ql, qv) =>
      all.filter { case (vid, vl, _) => vid != qid && vl != ql }
        .map { case (vid, _, v) => (qid, vid, cos(qv, v)) }
        .filter { case (_, _, c) => c >= 0.0 && c < 0.98 }
        .sortBy { case (_, vid, c) => (-c, vid) }.take(5)
    }.toSet
    val got = Similarity.hardNegatives(emb, emb.where(col("vec_id") < 3), k = 5,
        dupCeiling = 0.98, floor = 0.0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == expected)
    // self-label queries only: a query whose label covers the whole corpus
    // yields nothing (no same-label candidates survive)
    val mono = emb.limit(20).withColumn("label", lit(7))
    assert(Similarity.hardNegatives(mono, mono.limit(2), k = 3).isEmpty)
  }

  test("nlist = 0 auto-sizes every indexed layout to ceil(sqrt(n)) buckets") {
    val sub = emb.where(col("vec_id") < 200) // n known to the test
    val n = sub.count()
    val want = math.ceil(math.sqrt(n.toDouble)).toInt
    def bucketDirs(d: String, sub: String): Int =
      Option(new java.io.File(s"$d/$sub").listFiles())
        .getOrElse(Array.empty).count(f => f.isDirectory && f.getName.startsWith("c="))
    val d1 = java.nio.file.Files.createTempDirectory("ivfauto_").toString
    val d2 = java.nio.file.Files.createTempDirectory("sq8auto_").toString
    val d3 = java.nio.file.Files.createTempDirectory("pqauto_").toString
    try {
      IvfIndex.save(sub, d1, IvfIndex.Flat, nlist = 0, iters = 1)
      IvfIndex.save(sub, d2, IvfIndex.Sq8, nlist = 0, iters = 1)
      IvfIndex.save(sub, d3, IvfIndex.Pq(m = 4, k = 8), nlist = 0, iters = 1)
      // trained bucket count = ceil(sqrt(n)); the materialized layout may
      // have fewer dirs if a centroid ends up empty, never more
      assert(IvfIndex.load(spark, d1).centroids.length === want)
      assert(IvfIndex.load(spark, d2).centroids.length === want)
      assert(IvfIndex.load(spark, d3).centroids.length === want)
      assert(bucketDirs(d1, "corpus") <= want && bucketDirs(d1, "corpus") > 1)
      assert(bucketDirs(d2, "codes") <= want && bucketDirs(d2, "codes") > 1)
      // auto-sized index still serves
      val q = sub.where(col("vec_id") < 2)
      assert(IvfIndex.topK(spark, d1, q, k = 3, nprobe = 3).count() > 0)
      intercept[IllegalArgumentException](
        IvfIndex.save(sub, d1, nlist = -2))
    } finally Seq(d1, d2, d3).foreach { d =>
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete()
      }
      rm(new java.io.File(d))
    }
  }

  test("saveIvfIndex/ivfTopKIndexed: served equals fresh, layout prunes") {
    val dir = java.nio.file.Files.createTempDirectory("ivfidx_").toString
    try {
      IvfIndex.save(emb, dir, nlist = 8, iters = 2)
      val q = emb.where(col("vec_id") < 3)
      val fresh = Similarity.ivfTopK(emb, q, k = 5, nlist = 8, nprobe = 3, iters = 2)
      val served = IvfIndex.topK(spark, dir, q, k = 5, nprobe = 3)
      assert(served.count() > 0)
      assert(served.except(fresh).isEmpty && fresh.except(served).isEmpty)
      // persisted centroids == retrained centroids (training is deterministic)
      val loaded = IvfIndex.load(spark, dir).centroids
      val trained = Similarity.trainIvfCentroids(emb, nlist = 8, iters = 2)
      assert(loaded.flatten.toSeq == trained.flatten.toSeq)
      // the bucket filter prunes: 3 queries x 3 probes cover < 8 buckets
      // here, and the executed scan must READ fewer files (numFiles
      // metric — inputFiles ignores filters and can't prove this)
      val corpus = spark.read.parquet(s"$dir/corpus")
      val needed = Similarity.probeBuckets(q, loaded, nprobe = 3)
      assert(needed.length < 8)
      assert(graft.gates.Harness.filesScanned(
        corpus.where(col("c").isin(needed.map(Int.box): _*))) <
        graft.gates.Harness.filesScanned(corpus))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("saveIvfPqIndex/ivfPqTopK: pruned serve ≡ flat rerank at full probe; partial probes prune and stay faithful (r11)") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_").toString
    try {
      IvfIndex.save(emb, dir, IvfIndex.Pq(m = 16, k = 32), nlist = 8, iters = 2)
      val q = emb.where(col("vec_id") < 10)
      val served = IvfIndex.topK(spark, dir, q, k = 10, nprobe = 3,
        shortlist = 50).localCheckpoint()
      // full k per query
      assert(served.groupBy("qid").count().collect()
        .forall(_.getLong(1) == 10L))
      val model = IvfIndex.load(spark, dir)
      val codes = spark.read.parquet(s"$dir/codes")
      val corpus = spark.read.parquet(s"$dir/corpus")
        .select(col("vec_id"), col("v").as("embedding"))
      val flat = Similarity.pqTopKRerank(
        codes.select(col("vec_id"), col("code")), model.codebooks, corpus, q,
        k = 10, shortlist = 50).localCheckpoint()
      // probing EVERY bucket removes the only approximation the coarse
      // quantizer adds: the composed serve must equal the flat rerank
      // EXACTLY (same codebooks, same shortlist, same tie-breaks)
      val full = IvfIndex.topK(spark, dir, q, k = 10, nprobe = 8,
        shortlist = 50)
      assert(full.except(flat).isEmpty && flat.except(full).isEmpty)
      // partial probes: faithful within the probe recall
      val vsFlat = Similarity.annRecall(served, flat).head()
      val vsTruth = Similarity.annRecall(served,
        Similarity.bruteForceTopK(emb, q, k = 10)).head()
      info(s"nprobe=3/8: vs flat mean=${vsFlat.getDouble(1)} " +
        s"min=${vsFlat.getDouble(2)}; vs truth mean=${vsTruth.getDouble(1)}")
      assert(vsFlat.getDouble(1) >= 0.7,
        s"pruned serve diverged from flat rerank: ${vsFlat.getDouble(1)}")
      assert(vsTruth.getDouble(1) >= 0.5,
        s"composed recall vs truth too low: ${vsTruth.getDouble(1)}")
      // pruning is observable on the EXECUTED code scan (numFiles) — a
      // small query batch, the serving-path shape (10 queries × 3 probes
      // can legitimately cover all 8 buckets of this tiny corpus)
      val needed = Similarity.probeBuckets(
        emb.where(col("vec_id") < 2), model.centroids, nprobe = 3)
      assert(needed.length < 8)
      assert(graft.gates.Harness.filesScanned(
        codes.where(col("c").isin(needed.map(Int.box): _*))) <
        graft.gates.Harness.filesScanned(codes))
      intercept[IllegalArgumentException](
        IvfIndex.topK(spark, dir, q, k = 10, nprobe = 2, shortlist = 5))
      // broadcast guard: a corpus-sized query frame is rejected EAGERLY
      // (the serve path broadcasts queries) with the bucket-join remedy
      // named; the check never touches the layout, so it fires before
      // any scan of the frame's true (possibly unbounded) size
      val oversized = spark.range(IvfIndex.MaxServeQueryRows + 1L)
        .select(col("id").as("vec_id"),
          array(lit(1.0), lit(0.0)).as("embedding"))
      val g = intercept[IllegalArgumentException](
        IvfIndex.topK(spark, dir, oversized, k = 4))
      assert(g.getMessage.contains("hardNegativesIVF") &&
        g.getMessage.contains("IvfIndex.topK"), g.getMessage)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("residual IVFADC: meta round-trip, append preserves mode, recall >= raw at coarse PQ") {
    val dirRaw = java.nio.file.Files.createTempDirectory("ivfpqraw_").toString
    val dirRes = java.nio.file.Files.createTempDirectory("ivfpqres_").toString
    try {
      // deliberately COARSE PQ (8 codes/subspace) so the quantization
      // error dominates: spending it on the within-bucket displacement
      // instead of the bucket's absolute position must not lose recall
      IvfIndex.save(emb, dirRaw, IvfIndex.Pq(m = 16, k = 8), nlist = 8, iters = 2)
      IvfIndex.save(emb, dirRes, IvfIndex.Pq(m = 16, k = 8, residual = true),
        nlist = 8, iters = 2)
      assert(IvfIndex.load(spark, dirRaw).codec == IvfIndex.Pq(16, 8, residual = false))
      assert(IvfIndex.load(spark, dirRes).codec == IvfIndex.Pq(16, 8, residual = true))
      val q = emb.where(col("vec_id") < 10)
      val truth = Similarity.bruteForceTopK(emb, q, k = 10).localCheckpoint()
      def recall(dir: String): Double = Similarity.annRecall(
        IvfIndex.topK(spark, dir, q, k = 10, nprobe = 8,
          shortlist = 50), truth).head().getDouble(1)
      val (rRaw, rRes) = (recall(dirRaw), recall(dirRes))
      info(s"recall raw=$rRaw residual=$rRes")
      assert(rRes >= rRaw, s"residual $rRes must not lose to raw $rRaw")
      // append inherits the layout's residual mode: grown full-probe
      // serve returns new ids scored through centroid+residual decode
      val fresh = emb.where(col("vec_id") >= 400)
        .select(col("vec_id") + 10000, col("embedding"))
        .toDF("vec_id", "embedding")
      IvfIndex.append(fresh, dirRes)
      val served = IvfIndex.topK(spark, dirRes,
        fresh.where(col("vec_id") < 10405), k = 5, nprobe = 8,
        shortlist = 400)
        .collect()
      // an appended vector's residual-decoded twin (same embedding,
      // shifted id) must surface in its own top-k
      assert(served.nonEmpty && served.exists(_.getLong(1) >= 10000),
        served.take(5).mkString(","))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete()
      }
      rm(new java.io.File(dirRaw)); rm(new java.io.File(dirRes))
    }
  }

  test("appendToIvfIndex: grown layout serves exactly old ∪ new (same centroids)") {
    val dir = java.nio.file.Files.createTempDirectory("ivfapp_").toString
    try {
      val old = emb.where(col("vec_id") % 2 === 0)
      val fresh = emb.where(col("vec_id") % 2 =!= 0)
      IvfIndex.save(old, dir, nlist = 8, iters = 2)
      IvfIndex.append(fresh, dir)
      val q = emb.where(col("vec_id") < 3)
      val served = IvfIndex.topK(spark, dir, q, k = 5, nprobe = 3)
      val expected = IvfIndex.topKWith(emb, q, k = 5, IvfIndex.load(spark, dir),
        nprobe = 3)
      assert(served.count() > 0)
      assert(served.except(expected).isEmpty && expected.except(served).isEmpty)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("appendToIvfPqIndex: grown layout's full-probe serve ≡ flat rerank over old ∪ new (r11)") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpqapp_").toString
    try {
      val old = emb.where(col("vec_id") % 2 === 0)
      val fresh = emb.where(col("vec_id") % 2 =!= 0)
      IvfIndex.save(old, dir, IvfIndex.Pq(m = 16, k = 32), nlist = 8, iters = 2)
      IvfIndex.append(fresh, dir)
      val q = emb.where(col("vec_id") < 3)
      // probing every bucket on the GROWN layout must equal the flat
      // rerank over the grown codes (both quantizers are the persisted
      // ones — append added data, not new centroids/codebooks)
      val served = IvfIndex.topK(spark, dir, q, k = 5, nprobe = 8,
        shortlist = 25)
      val cb = IvfIndex.load(spark, dir).codebooks
      val codes = spark.read.parquet(s"$dir/codes")
      val corpus = spark.read.parquet(s"$dir/corpus")
        .select(col("vec_id"), col("v").as("embedding"))
      assert(codes.count() == emb.count() && corpus.count() == emb.count())
      val flat = Similarity.pqTopKRerank(
        codes.select(col("vec_id"), col("code")), cb, corpus, q,
        k = 5, shortlist = 25)
      assert(served.count() > 0)
      assert(served.except(flat).isEmpty && flat.except(served).isEmpty)
      // the audit runs on the grown layout and reports a sane recall
      val audit = IvfIndex.recallAudit(spark, dir, q, k = 5,
        nprobe = 8, shortlist = 25).head()
      assert(audit.getLong(0) == 3L && audit.getDouble(1) > 0.0)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm); f.delete()
      }
      rm(new java.io.File(dir))
    }
  }

  test("applyClean: hot-set streaming decontamination ≡ batch clean (r11)") {
    import spark.implicits._
    val train = Seq(
      // shares EXACTLY two w=3 shingles with the bench: 'quick brown fox'
      // and 'brown fox appears' ('the quick brown' / 'fox appears here'
      // have no bench counterpart) — so the minHits boundary is at 2
      (1L, "the quick brown fox appears here"),
      (2L, "completely unrelated training text here"),
      (3L, "another clean document with words")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "a quick brown fox appears")).toDF("doc_id", "text")
    val batch = Decontaminate.clean(train, bench, "text", "doc_id",
      w = 3, minHits = 1).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(batch == Set(2L, 3L))
    val hot = Decontaminate.benchShingleHashes(bench, "text", "doc_id", w = 3)
    val streamed = Decontaminate.applyClean(train, "text", "doc_id", hot,
      w = 3, minHits = 1).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed == batch, s"streamed $streamed != batch $batch")
    // the boundary, pinned from both sides: hits == minHits still DROPS …
    val atFloor = Decontaminate.applyClean(train, "text", "doc_id", hot,
      w = 3, minHits = 2).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(atFloor == Set(2L, 3L), s"hits==minHits must drop: $atFloor")
    // … and hits == minHits − 1 KEEPS
    val aboveFloor = Decontaminate.applyClean(train, "text", "doc_id", hot,
      w = 3, minHits = 3).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(aboveFloor == Set(1L, 2L, 3L), s"hits<minHits must keep: $aboveFloor")
  }

  test("dHash: resolution-invariant per key, discriminative across keys, corrupt-safe (r11)") {
    import spark.implicits._
    val media = Seq(
      (1L, Multimodal.synthPatternPngBytes(42L, 4)),
      (2L, Multimodal.synthPatternPngBytes(42L, 7)),  // same pattern, 63x56 vs 36x32
      (3L, Multimodal.synthPatternPngBytes(99L, 4)),  // different pattern
      (4L, Array[Byte](1, 2, 3))                       // not a PNG
    ).toDF("media_id", "payload")
    val out = Multimodal.dHash(media).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // bytes differ (different dimensions) but the perceptual hash agrees
    assert(media.select(sha2(col("payload"), 256)).distinct().count() == 4)
    assert(out(1L)._2 && out(2L)._2 && out(3L)._2)
    assert(out(1L)._1 == out(2L)._1, s"same pattern hashed apart: $out")
    assert(out(1L)._1 != out(3L)._1, s"distinct patterns collided: $out")
    assert(out(4L) == ((0L, false)))
    // the banded machinery surfaces the resolution-pair at hamming 0
    val sig = Multimodal.dHash(media.where(col("media_id") < 4))
      .select(col("id"), col("phash").as("sh"))
    val pairs = Dedup.hammingCandidatesFromSig(sig, maxHamming = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }

  test("bigramCrossEntropy: OOV floor, hand-computed values, self-consistency") {
    val ref = Seq((1L, "a b a b"), (2L, "a c")).toDF("doc_id", "text")
    // model: C(a,b)=2 C(b,a)=1 C(a,c)=1; C(a,·)=3 C(b,·)=1; V=3; k=0.5
    val tgt = Seq(
      (10L, "a b"),     // ln((2+.5)/(3+1.5)) = ln(2.5/4.5)
      (11L, "a z"),     // seen context, unseen bigram: ln(.5/4.5)
      (12L, "q z"),     // unseen context: ln(.5/1.5) = ln(1/3)
      (13L, "solo"), (14L, "")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bigramCrossEntropy(ref, tgt, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]))).toMap
    def r6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(10L) == ((1L, Some(r6(-math.log(2.5 / 4.5))))))
    assert(got(11L) == ((1L, Some(r6(-math.log(0.5 / 4.5))))))
    assert(got(12L) == ((1L, Some(r6(-math.log(0.5 / 1.5))))))
    assert(got(13L) == ((0L, None)) && got(14L) == ((0L, None)))
    // self-scoring consistency: xent(df, df) == -lm_score(df) (same k)
    val self = TextAnalysis.bigramCrossEntropy(docs, docs, "text", "doc_id")
      .select(col("id"), col("xent"))
    val neg = TextAnalysis.bigramScore(docs, "text", "doc_id")
      .select(col("id"), (-col("lm_score")).as("s"))
    val drift = self.join(neg, "id")
      .where(col("xent").isNotNull && abs(col("xent") - col("s")) > 1e-6).count()
    assert(drift == 0L)
  }

  test("leakageSafeSplit: families never straddle; override path; bounds") {
    val d = Seq(
      (1L, "same text"), (7L, "same text"), (999999L, "same text"),
      (2L, "other"), (3L, "third")
    ).toDF("doc_id", "text")
    val s0 = Sampling.leakageSafeSplit(d, "text", "doc_id", testPercent = 10)
    val rows = s0.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // all three copies share the min-id rep and therefore the split
    val fam = rows.filter(r => Set(1L, 7L, 999999L)(r._1))
    assert(fam.forall(_._2 == 1L) && fam.map(_._3).distinct.length == 1)
    assert(rows.length == 5 && rows.forall(r => Set("test", "train")(r._3)))
    // degenerate percents
    assert(Sampling.leakageSafeSplit(d, "text", "doc_id", 100)
      .where(col("split") =!= "test").isEmpty)
    assert(Sampling.leakageSafeSplit(d, "text", "doc_id", 0)
      .where(col("split") =!= "train").isEmpty)
    // caller-provided near-dup families (connectedComponents shape:
    // (id, comp), clustered rows ONLY — uncovered rows self-default)
    val overrides = Seq((1L, 1L), (7L, 1L), (999999L, 1L), (2L, 1L))
      .toDF("id", "comp")
    val s1full = Sampling.leakageSafeSplit(d, "text", "doc_id", 10, Some(overrides))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val s1 = s1full.map(r => (r._1, r._3)).toMap
    assert(s1full.length == 5, "uncovered rows must still be assigned")
    assert(s1full.find(_._1 == 3L).get._2 == 3L, "uncovered row keeps own family")
    assert(Seq(1L, 7L, 999999L, 2L).map(s1).distinct.length == 1)
    // corpus property: no family straddles the boundary
    val straddlers = Sampling.leakageSafeSplit(docs, "text", "doc_id", 10)
      .groupBy("rep").agg(countDistinct("split").as("k"))
      .where(col("k") > 1).count()
    assert(straddlers == 0L)
  }

  test("hardNegativesIVF: contract holds, recall vs brute truth is decent") {
    val q = emb.where(col("vec_id") < 10)
    val truth = Similarity.hardNegatives(emb, q, k = 5, dupCeiling = 0.98, floor = 0.0)
    val approx = Similarity.hardNegativesIVF(emb, q, k = 5, nlist = 8, nprobe = 4,
      dupCeiling = 0.98, floor = 0.0)
    val labelOf = emb.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    approx.collect().foreach { r =>
      assert(labelOf(r.getLong(1)) != labelOf(r.getLong(0)), "same-label leak")
      assert(r.getDouble(2) >= 0.0 && r.getDouble(2) < 0.98, "band leak")
    }
    val rec = Similarity.annRecall(approx, truth).head()
    assert(rec.getDouble(1) >= 0.4, s"mean recall ${rec.getDouble(1)} too low")
  }

  test("text analysis components") {
    val d = Seq(
      ("the cat sat on the mat", 6, 0.0),
      ("", 0, 0.0),
      ("12345", 1, 1.0)
    ).toDF("text", "want_tokens", "want_digit")
    val got = d.select(
      TextAnalysis.tokenCount(col("text")).as("t"),
      round(TextAnalysis.digitRatio(col("text")), 6).as("dr"),
      col("want_tokens"), col("want_digit")).collect()
    got.foreach { r =>
      assert(r.getInt(0) == r.getInt(2))
      assert(math.abs(r.getDouble(1) - r.getDouble(3)) < 1e-9)
    }
    // stopword ratio: 3 stopwords (the, on, the) of 6
    val sw = d.where(col("want_tokens") === 6)
      .select(TextAnalysis.stopwordRatio(col("text"))).head().getDouble(0)
    assert(math.abs(sw - 0.5) < 1e-9)
    // quality in [0,1] on the real corpus
    val q = docs.select(TextAnalysis.qualityScore(col("text")).as("q"))
      .agg(min("q"), max("q")).head()
    assert(q.getDouble(0) >= 0.0 && q.getDouble(1) <= 1.0)
  }

  test("token estimate: ceil(len/4) per word") {
    val got = Seq(("abcd efghi x", 0))
      .toDF("text", "z")
      .select(TextAnalysis.tokenEstimate(col("text"))).head().getLong(0)
    assert(got == 1 + 2 + 1)
  }

  test("langid predicts majority language on labeled corpus") {
    val scored = docs.select(col("lang"), TextAnalysis.langId(col("text")).as("p"))
    val acc = scored.agg(
      avg(when(col("lang") === col("p"), 1.0).otherwise(0.0))).head().getDouble(0)
    // heuristic profiles: just assert it beats random over 6 languages
    assert(acc > 1.0 / 6.0, s"langid accuracy $acc not better than chance")
  }

  test("tfidf: common terms score low, rare terms high") {
    val d = Seq((1L, "rare the the the"), (2L, "the the"), (3L, "the common")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidf(d, "text", "doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(3)).toMap
    // "the" appears in all 3 docs (idf = ln(4/4)+1 = 1); "rare" in 1 (idf = ln(2)+1)
    assert(math.abs(out((1L, "rare")) - (math.log(2.0) + 1.0)) < 1e-6)
    assert(math.abs(out((2L, "the")) - 2.0) < 1e-6) // tf=2 * idf=1
    assert(out((1L, "rare")) > out((3L, "common")) * 0.9) // rare >= another singleton
  }

  test("fingerprint is deterministic and shift-stable-ish") {
    val d = Seq((1L, "the quick brown fox jumps over the lazy dog")).toDF("id", "text")
    val f1 = d.select(TextAnalysis.fingerprint(col("text"))).head().getLong(0)
    val f2 = d.select(TextAnalysis.fingerprint(col("text"))).head().getLong(0)
    assert(f1 == f2)
  }

  test("curation pipeline: dedup + quality filter + token budget per lang") {
    val out = Curation.curate(docs, minQuality = 0.5).collect()
    assert(out.nonEmpty)
    val langs = out.map(_.getString(0))
    assert(langs.sameElements(langs.sorted))
    out.foreach { r => assert(r.getLong(1) > 0 && r.getLong(2) > 0) }
    // survivors cannot exceed the deduped corpus
    val total = out.map(_.getLong(1)).sum
    assert(total <= Dedup.exact(docs, Seq("text"), "doc_id").count())
  }

  test("salted join equals plain join; salt is deterministic") {
    val big = docs.select(col("doc_id"), col("lang"))
    val dim = docs.select(col("lang")).distinct()
      .withColumn("code", length(col("lang")))
    val plain = big.join(dim, Seq("lang")).count()
    val salted1 = Skew.saltedJoin(big, dim, Seq("lang"), buckets = 8).count()
    val salted2 = Skew.saltedJoin(big, dim, Seq("lang"), buckets = 8).count()
    assert(salted1 == plain && salted2 == plain)
    val hist = Skew.keyHistogram(big, Seq("lang"), topN = 3).collect()
    assert(hist.length == 3 && hist.head.getLong(1) >= hist.last.getLong(1))
  }

  test("multimodal decode/resize/frames plumbing") {
    val media = Multimodal.synthesize(docs.limit(100))
    val dec = Multimodal.decode(media).toDF()
    assert(dec.count() == 100)
    // png rows decode for REAL: ImageIO-read dims equal the synthesis
    // formulas, 3 channels, ok=true on every image
    dec.where(col("mime") === "image/png").collect().foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(2) == Multimodal.synthPngWidth(id) &&
        r.getInt(3) == Multimodal.synthPngHeight(id) &&
        r.getInt(4) == 3 && r.getBoolean(5),
        s"media $id: real decode mismatch $r")
    }
    // wav rows decode for REAL at the SAMPLE level: the RIFF walker reads
    // back the exact synthesis parameters (rate, frames, channels) from
    // the fmt/data chunks AND the sum of every int16 PCM sample matches
    // the synthetic waveform formula
    dec.where(col("mime") === "audio/wav").collect().foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(2) == Multimodal.synthWavRate(id) &&
        r.getInt(3) == Multimodal.synthWavFrames(id) &&
        r.getInt(4) == Multimodal.synthWavChannels(id) && r.getBoolean(5),
        s"media $id: real wav decode mismatch $r")
      assert(r.getLong(6) == Multimodal.synthWavChecksum(id),
        s"media $id: pcm checksum mismatch $r")
    }
    // mp4 rows decode for REAL: the box walker reads the tkhd track dims
    // AND the unsigned-byte sum of the mdat media data matches the
    // synthesis formula (the video analog of the WAV sample checksum)
    dec.where(col("mime") === "video/mp4").collect().foreach { r =>
      val id = r.getLong(0)
      assert(r.getInt(2) == Multimodal.synthMp4Width(id) &&
        r.getInt(3) == Multimodal.synthMp4Height(id) &&
        r.getInt(4) == 3 && r.getBoolean(5),
        s"media $id: real mp4 decode mismatch $r")
      assert(r.getLong(6) == Multimodal.synthMp4MdatChecksum(id),
        s"media $id: mdat checksum mismatch $r")
    }
    // a truncated mdat sums the bytes that exist (lenient, like the WAV
    // walker) while the moov metadata keeps the row ok
    locally {
      val full = Multimodal.synthMp4Bytes(5L)
      val cut = java.util.Arrays.copyOf(full, full.length - 10)
      val n = Multimodal.synthMp4MdatLen(5L)
      val want = (0 until n - 10).map(j =>
        Multimodal.synthMp4MdatByte(5L, j).toLong).sum
      val r = Multimodal.decode(Seq((5L, cut, "video/mp4", cut.length.toLong))
        .toDF("media_id", "payload", "mime", "n_bytes")).collect().head
      assert(r.ok && r.content_checksum == want,
        s"truncated mdat: got ${r.content_checksum}, want $want")
    }
    // corrupt payloads of KNOWN mimes are ok=false, never an exception;
    // unknown mimes keep the deterministic stub contract (ok with bytes)
    val corrupt = Seq(
      (7L, Array[Byte](1, 2, 3), "image/png", 3L),
      (8L, Array[Byte](82, 73, 70, 70, 1, 2, 3), "audio/wav", 7L),
      (9L, "not an mp4 at all ............".getBytes("UTF-8"), "video/mp4", 30L),
      (10L, Array[Byte](1, 2, 3), "application/x-unknown", 3L))
      .toDF("media_id", "payload", "mime", "n_bytes")
    val cr = Multimodal.decode(corrupt).collect()
      .map(x => x.media_id -> x.ok).toMap
    assert(!cr(7L) && !cr(8L) && !cr(9L) && cr(10L), cr.toString)
    val resized = Multimodal.resizePlan(dec, maxSide = 256)
      .agg(max("out_width"), max("out_height")).head()
    assert(resized.getInt(0) <= 256 && resized.getInt(1) <= 256)
    val frames = Multimodal.sampleFrames(media)
    val perDoc = frames.groupBy("media_id").count()
    assert(perDoc.agg(max("count")).head().getLong(0) <= 4)
    // frame payloads are binary slices
    assert(frames.schema("frame").dataType.typeName == "binary")
  }

  test("audioStats: sample-exact energy/silence/clipping; non-wav and corrupt rows report ok=false") {
    val media = Multimodal.synthesize(docs.limit(60))
    val st = Multimodal.audioStats(media).collect().map(r => r.media_id -> r).toMap
    st.values.foreach { r =>
      if (r.media_id % 3 == 1) {
        // recompute every stat from the waveform formula
        val n = Multimodal.synthWavFrames(r.media_id) *
          Multimodal.synthWavChannels(r.media_id)
        val samples = (0 until n).map(i => Multimodal.synthWavSample(r.media_id, i).toInt)
        assert(r.ok && r.n_samples == n &&
          r.sum_sq == samples.map(s => s.toLong * s).sum &&
          r.n_silent == samples.count(s => math.abs(s) < Multimodal.SilenceThreshold) &&
          r.n_clipped == samples.count(s => s == 32767 || s == -32768), r.toString)
      } else assert(!r.ok && r.n_samples == 0, r.toString)
    }
    // corrupt/truncated wav payloads classify, never throw
    val corrupt = Seq(
      (1L, Array[Byte](82, 73, 70, 70, 1, 2), "audio/wav", 6L),
      (2L, null.asInstanceOf[Array[Byte]], "audio/wav", 0L))
      .toDF("media_id", "payload", "mime", "n_bytes")
    Multimodal.audioStats(corrupt).collect().foreach(r => assert(!r.ok))
  }

  test("audioFingerprint: gain-invariant, leader-separating, composes with hamming banding") {
    val rows = for (leader <- Seq(0L, 30L, 600L); g <- Seq(1, 2, 4))
      yield (leader * 10 + g, Multimodal.synthToneWavBytes(leader, g))
    val media = rows.toDF("media_id", "payload")
    val sig = Multimodal.audioFingerprint(media).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(sig.values.forall(_._2), "every tone wav must parse ok")
    // within a family the three volumes fingerprint IDENTICALLY
    for (leader <- Seq(0L, 30L, 600L)) {
      val fps = Seq(1, 2, 4).map(g => sig(leader * 10 + g)._1).distinct
      assert(fps.size == 1, s"family $leader split: $fps")
    }
    // distinct leaders separate
    assert(Seq(0L, 30L, 600L).map(l => sig(l * 10 + 1)._1).distinct.size == 3)
    // feeds the image-dedup banding machinery unchanged: 3 within-family
    // pairs per family at hamming 0, no cross-family pair at maxHamming 3
    val pairs = Dedup.hammingCandidatesFromSig(
      Multimodal.audioFingerprint(media)
        .select(col("id"), col("afp").as("sh")), maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length == 9 &&
      pairs.forall { case (a, b) => a / 10 == b / 10 }, pairs.mkString(","))
    // too-short / corrupt / non-wav payloads classify, never throw
    val bad = Seq(
      (1L, Multimodal.synthWavBytes(7L)),          // real wav, < 65 samples
      (2L, Array[Byte](1, 2, 3)),
      (3L, null.asInstanceOf[Array[Byte]]))
      .toDF("media_id", "payload")
    Multimodal.audioFingerprint(bad).collect()
      .foreach(r => assert(!r.getBoolean(2), r.toString))
  }

  test("piiStats: exact counts + redaction, idempotent on already-redacted text") {
    val df = Seq(
      (1L, "reach me at a.b+c@mail-host.org or 10.0.0.1 ticket 12345678"),
      (2L, "no pii here just words"),
      (3L, "two mails x@y.io z@w.co one ip 192.168.0.255 short digits 123456"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.piiStats(df, "text", "doc_id").collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(1) == 1 && out(1L).getLong(2) == 1 && out(1L).getLong(3) == 1)
    assert(out(1L).getString(4) ==
      "reach me at <EMAIL> or <IP> ticket <NUM>")
    assert(out(2L).getLong(1) == 0 && out(2L).getLong(2) == 0 && out(2L).getLong(3) == 0)
    // 6-digit run is below the 7-digit floor; both emails counted
    assert(out(3L).getLong(1) == 2 && out(3L).getLong(2) == 1 && out(3L).getLong(3) == 0)
    // idempotence: placeholders contain no redactable spans
    val again = TextAnalysis.piiStats(
      TextAnalysis.piiStats(df, "text", "doc_id")
        .select(col("id").as("doc_id"), col("text_redacted").as("text")),
      "text", "doc_id").collect()
    again.foreach(r => assert(r.getLong(1) == 0 && r.getLong(2) == 0 && r.getLong(3) == 0, r.toString))
  }

  test("decontamination flags exactly the overlapping docs") {
    val train = Seq(
      (1L, "alpha beta gamma delta"),        // shares 'alpha beta gamma' with bench
      (2L, "one two three four"),            // no overlap
      (3L, "x y z alpha beta gamma")).toDF("doc_id", "text")
    val bench = Seq((100L, "alpha beta gamma epsilon")).toDF("doc_id", "text")
    val flagged = Decontaminate.overlap(train, bench, "text", "doc_id", w = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(flagged.keySet == Set(1L, 3L))
    // each shares exactly one distinct shingle: 'alpha beta gamma'
    assert(flagged(1L) == 1L && flagged(3L) == 1L)
    val clean = Decontaminate.clean(train, bench, "text", "doc_id", w = 3)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(clean == Set(2L))
  }

  test("PII redaction replaces emails, IPs, digit runs; idempotent") {
    val d = Seq(
      (1L, "mail a.b@x.org now"),
      (2L, "server 10.0.0.1 port"),
      (3L, "call 5551234567 today"),
      (4L, "clean text only")).toDF("doc_id", "text")
    val r = d.select(col("doc_id"), TextAnalysis.redactPII(col("text")).as("t"))
      .collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r(1L) == "mail <EMAIL> now")
    assert(r(2L) == "server <IP> port")
    assert(r(3L) == "call <NUM> today")
    assert(r(4L) == "clean text only")
    // applying twice changes nothing (placeholders aren't PII-shaped)
    val twice = d.select(TextAnalysis.redactPII(TextAnalysis.redactPII(col("text"))).as("t"))
      .collect().map(_.getString(0)).toSet
    assert(twice == r.values.toSet)
  }

  test("repetition signals: rep_ratio and type-token ratio") {
    val d = Seq((1L, "a a a b"), (2L, "w x y z")).toDF("doc_id", "text")
    val r = TextAnalysis.repetition(d, "text", "doc_id")
      .collect().map(x => x.getLong(0) -> (x.getDouble(1), x.getDouble(2))).toMap
    assert(r(1L) == (0.75, 0.5))  // 'a' 3/4; 2 distinct / 4
    assert(r(2L) == (0.25, 1.0))
  }

  test("operators compose: chunk -> features -> near-dup -> pack, one pipeline") {
    val chunks = TextAnalysis.chunk(docs, "text", "doc_id", chunkSize = 20, overlap = 5)
      .withColumn("cid", col("doc_id") * 1000 + col("chunk_id"))
    // chunk payloads → embedding column → LSH near-dup candidates
    val media = chunks.select(col("cid").as("media_id"),
      encode(col("chunk"), "UTF-8").as("payload"))
    val feats = Multimodal.features(media, dim = 16).toDF()
      .select(col("media_id").as("vec_id"), col("feature").as("embedding"))
    val nd = Dedup.embeddingNearDup(feats, "embedding", "vec_id", minCos = 0.999)
    // overlapping chunks of the same doc share most bytes → near-dups exist
    assert(nd.count() > 0)
    // chunk token counts → budget-packed bins; per-bin total never exceeds
    // budget + one chunk (the running-sum bound)
    val toks = chunks.select(col("cid"),
      size(split(col("chunk"), " ")).cast("long").as("toks"))
    val packed = Curation.packSequences(toks, "cid", "toks", budget = 100, shards = 4)
    val over = packed.groupBy(col("shard"), col("bin"))
      .agg(sum(col("toks")).as("t")).where(col("t") > 100 + 20).count()
    assert(over == 0)
  }

  test("ngramJaccard emits the raw ratio (regression: no pre-filter rounding)") {
    val pairs = Seq((1L, 2L)).toDF("ida", "idb")
    // w=3 grams: {a b c, b c d} vs {a b c, b c e} -> intersection 1, union 3
    val d = Seq((1L, "a b c d"), (2L, "a b c e")).toDF("doc_id", "text")
    val j = Dedup.ngramJaccard(pairs, d, "text", "doc_id")
      .collect().head.getDouble(2)
    // the raw 1/3, not the display-rounded 0.3333 — thresholds downstream
    // must see the exact value or they diverge from unrounded oracles
    assert(math.abs(j - 1.0 / 3.0) < 1e-15, s"got $j")
  }

  test("multimodal feature extraction: histogram features, unit norm") {
    // direct media frame: the kernel contract is a byte histogram of the
    // payload (synthesize now emits real containers, not raw text bytes)
    val media = Seq(
      (1L, "aaaa".getBytes("UTF-8"), "application/x-raw", 4L),
      (2L, Array.empty[Byte], "application/x-raw", 0L))
      .toDF("media_id", "payload", "mime", "n_bytes")
    val f = Multimodal.features(media, dim = 4)
      .collect().map(x => x.media_id -> x.feature).toMap
    // "aaaa" = 4 bytes of 0x61 = 97; 97 % 4 = 1 -> all mass in slot 1, unit norm
    assert(f(1L).toSeq == Seq(0f, 1f, 0f, 0f))
    // empty payload -> zero vector, no NaNs
    assert(f(2L).toSeq == Seq(0f, 0f, 0f, 0f))
    // features feed the embedding operators directly
    val df = Multimodal.features(Multimodal.synthesize(docs), dim = 8).toDF()
    val n = df.where(graft.expr.VectorOps.dot(col("feature"), col("feature")) > 0.5).count()
    assert(n > 0)
  }

  test("asof join: whole-row payload, null-rejecting keys (regression)") {
    // latest quote has sz=NULL: the match must NOT resurrect sz from an
    // older row — the payload is the complete latest right ROW
    val quotes = Seq(
      ("A", 5L, Some(0.5), Some(7L)),
      ("A", 10L, Some(1.0), None)
    ).toDF("sym", "t", "px", "sz")
    val trades = Seq(("A", 12L, 100L)).toDF("sym", "t", "qty")
    val r = AsOf.join(trades, quotes, Seq("sym"), "t").collect().head
    assert(r.getDouble(3) == 1.0 && r.isNullAt(4), s"got $r")
    // NULL join keys / NULL times never match (SQL null-rejecting predicates)
    val q2 = Seq((Option.empty[String], 5L, 1.0), (Some("B"), 5L, 2.0))
      .toDF("sym", "t", "px")
    val t2 = Seq((Option.empty[String], 9L, 1L), (Some("B"), 9L, 2L))
      .toDF("sym", "t", "qty")
    val j2 = AsOf.join(t2, q2, Seq("sym"), "t")
      .collect().map(x => x.getLong(2) -> (if (x.isNullAt(3)) None else Some(x.getDouble(3)))).toMap
    assert(j2 == Map(1L -> None, 2L -> Some(2.0)))
  }

  test("asof join: latest at-or-before match per key, left semantics") {
    val quotes = Seq(
      ("A", 10L, 1.0), ("A", 20L, 2.0), ("B", 15L, 9.0)
    ).toDF("sym", "t", "px")
    val trades = Seq(
      ("A", 5L, 100L),   // before any quote -> null
      ("A", 10L, 101L),  // same instant -> matches px=1.0 (inclusive)
      ("A", 19L, 102L),  // -> px=1.0
      ("A", 25L, 103L),  // -> px=2.0
      ("B", 30L, 104L),  // -> px=9.0
      ("C", 7L, 105L)    // key with no quotes -> null
    ).toDF("sym", "t", "qty")
    val j = AsOf.join(trades, quotes, Seq("sym"), "t")
      .collect().map(r => r.getLong(2) -> (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(j == Map(100L -> None, 101L -> Some(1.0), 102L -> Some(1.0),
      103L -> Some(2.0), 104L -> Some(9.0), 105L -> None))
    // payload name clash is rejected clearly
    val e = intercept[IllegalArgumentException] {
      AsOf.join(trades, quotes.withColumnRenamed("px", "qty"), Seq("sym"), "t")
    }
    assert(e.getMessage.contains("clash"))
  }

  test("asof join: time-bucketed path matches the single-window path") {
    // the bucketed carry-stitch (scale path for low-cardinality keys) is
    // size-gated off for small inputs; force it and assert identical
    // results — incl. cross-bucket carries (one quote serving many later
    // buckets), a no-right-rows key, and a before-all-quotes trade
    val quotes = Seq(
      ("A", 10L, 1.0), ("A", 20L, 2.0), ("B", 15L, 9.0)
    ).toDF("sym", "t", "px")
    val trades = (Seq(
      ("A", 5L, 100L), ("A", 10L, 101L), ("A", 19L, 102L),
      ("A", 25L, 103L), ("B", 30L, 104L), ("C", 7L, 105L)
    ) ++ (0 until 400).map(i => ("A", 1000L + i, 200L + i))) // far buckets: carry px=2.0
      .toDF("sym", "t", "qty")
    spark.conf.set("graft.asof.forceBucketed", "true")
    try {
      val j = AsOf.join(trades, quotes, Seq("sym"), "t")
        .collect().map(r => r.getLong(2) ->
          (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
      assert(j(100L) == None && j(101L) == Some(1.0) && j(102L) == Some(1.0))
      assert(j(103L) == Some(2.0) && j(104L) == Some(9.0) && j(105L) == None)
      (0 until 400).foreach(i => assert(j(200L + i) == Some(2.0)))
      assert(j.size == 406)
    } finally spark.conf.unset("graft.asof.forceBucketed")
  }

  test("chunking: overlapping windows cover all tokens, last chunk short") {
    val d = Seq((1L, "a b c d e f g h i j"), (2L, "x y")).toDF("doc_id", "text")
    val c = TextAnalysis.chunk(d, "text", "doc_id", chunkSize = 4, overlap = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(2)).toMap
    // doc 1: 10 tokens, stride 3, ceil(9/3)=3 chunks
    assert(c((1L, 0L)) == "a b c d")
    assert(c((1L, 1L)) == "d e f g")
    assert(c((1L, 2L)) == "g h i j")
    // doc 2: 2 tokens -> one short chunk
    assert(c((2L, 0L)) == "x y")
    assert(c.size == 4)
    // consecutive chunks overlap by exactly `overlap` tokens
    assert(c((1L, 0L)).split(" ").last == c((1L, 1L)).split(" ").head)
  }

  test("sequence packing bins by running token sum within shards") {
    val d = Seq((0L, 3L), (1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)).toDF("doc_id", "toks")
    val p = Curation.packSequences(d, "doc_id", "toks", budget = 6, shards = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap // doc_id -> bin
    // running sums before each doc: 0,3,6,9,12 -> bins 0,0,1,1,2
    assert(p == Map(0L -> 0L, 1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 2L))
    // hash-sharded: deterministic across invocations, works on string ids
    val sd = Seq(("a", 3L), ("b", 3L), ("c", 3L), ("d", 3L)).toDF("doc_id", "toks")
    val sharded = Curation.packSequences(sd, "doc_id", "toks", budget = 6, shards = 2)
    val again = Curation.packSequences(sd, "doc_id", "toks", budget = 6, shards = 2)
    assert(sharded.collect().toSeq == again.collect().toSeq)
    assert(sharded.select("shard").distinct().count() >= 1)
    // explicit shard expression: per-shard bins restart at 0
    val ex = Curation.packSequences(d, "doc_id", "toks", budget = 6,
      shard = pmod(col("doc_id"), lit(2L)))
      .collect().map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    // shard 0: docs 0,2,4 (before 0,3,6 -> bins 0,0,1); shard 1: docs 1,3
    assert(ex == Map(0L -> ((0L, 0L)), 2L -> ((0L, 0L)), 4L -> ((0L, 1L)),
      1L -> ((1L, 0L)), 3L -> ((1L, 0L))))
  }

  test("sampling: bernoulli tolerance, stratified fractions, hash-split determinism") {
    val g = TestSpark.session
    val docs = g.catalog.relation("documents")
    val total = docs.count()
    // seeded bernoulli lands near the requested fraction
    val n = Sampling.bernoulli(docs, 0.2, seed = 7L).count()
    assert(n > total * 0.1 && n < total * 0.3, s"bernoulli 20% gave $n of $total")
    // stratified: kept fractions follow the per-stratum request
    val fr: Map[Any, Double] = Map("en" -> 0.5, "de" -> 0.0)
    val strat = Sampling.stratified(docs, "lang", fr, seed = 7L)
    val got = strat.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!got.contains("de"), "stratum with fraction 0 must vanish")
    val enTotal = docs.filter(col("lang") === "en").count()
    assert(got.getOrElse("en", 0L) > enTotal * 0.3 && got.getOrElse("en", 0L) < enTotal * 0.7)
    // hash split: deterministic across invocations, disjoint, complete
    val s1 = Sampling.splitByHash(docs, "doc_id", 10).select("doc_id", "split")
    val s2 = Sampling.splitByHash(docs, "doc_id", 10).select("doc_id", "split")
    assert(s1.except(s2).count() == 0 && s2.except(s1).count() == 0, "split must be deterministic")
    val counts = s1.groupBy("split").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts.values.sum == total)
    assert(counts.getOrElse("test", 0L) > 0 && counts("test") < total / 5)
    // dialect TABLESAMPLE parses, samples, and round-trips
    val dn = g.sql("select count(*) as n from documents sample (50 percent) seed 3").collect().head.getLong(0)
    assert(dn > total * 0.35 && dn < total * 0.65)
    val ast = graft.parser.SqlParser.parse("select a from t sample (10 percent) seed 42 where a > 1").toOption.get
    val printed = graft.ast.Pretty.print(ast)
    assert(graft.parser.SqlParser.parse(printed).toOption.get == ast, printed)
  }

  test("per-group caps keep the first N rows per group in order") {
    val g = TestSpark.session
    val docs = g.catalog.relation("documents")
    val capped = Sampling.capPerGroup(docs, "source", cap = 3, orderCol = "doc_id")
    val per = capped.groupBy("source").count().collect().map(_.getLong(1))
    assert(per.forall(_ <= 3), "no group may exceed the cap")
    // kept rows are exactly the 3 smallest doc_ids of each source
    val expected = docs.withColumn("rn",
        org.apache.spark.sql.functions.row_number().over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("source")).orderBy(col("doc_id"))))
      .where(col("rn") <= 3).select("doc_id")
    assert(capped.select("doc_id").except(expected).count() == 0)
    assert(expected.except(capped.select("doc_id")).count() == 0)
  }

  test("mixture: weight-1 keeps all, weight-0 none, membership reproducible") {
    val g = TestSpark.session
    val docs = g.catalog.relation("documents")
    val m = Sampling.mixture(docs, "source", "doc_id",
      Map("src0" -> 1.0, "src1" -> 0.4, "src2" -> 0.0), seed = 1L)
    val per = m.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val src0 = docs.where(col("source") === "src0").count()
    assert(per.keySet.subsetOf(Set("src0", "src1")), "unlisted/zero-weight sources must vanish")
    assert(per("src0") == src0, "weight 1.0 keeps every row")
    val again = Sampling.mixture(docs, "source", "doc_id",
      Map("src0" -> 1.0, "src1" -> 0.4, "src2" -> 0.0), seed = 1L)
    assert(m.select("doc_id").except(again.select("doc_id")).count() == 0)
    assert(again.select("doc_id").except(m.select("doc_id")).count() == 0)
  }

  test("deterministic shuffle: 0..n-1 permutation, seed-dependent, reproducible") {
    val g = TestSpark.session
    val docs = g.catalog.relation("documents").limit(200)
    val n = docs.count()
    val p1 = Sampling.deterministicShuffle(docs, "doc_id", seed = 5L)
    assert(p1.agg(org.apache.spark.sql.functions.countDistinct(col("pos"))).collect().head.getLong(0) == n)
    assert(p1.agg(org.apache.spark.sql.functions.min(col("pos"))).collect().head.getLong(0) == 0L)
    assert(p1.agg(org.apache.spark.sql.functions.max(col("pos"))).collect().head.getLong(0) == n - 1)
    val p2 = Sampling.deterministicShuffle(docs, "doc_id", seed = 5L)
    assert(p1.select("doc_id", "pos").except(p2.select("doc_id", "pos")).count() == 0)
    val p3 = Sampling.deterministicShuffle(docs, "doc_id", seed = 6L)
    val moved = p1.select(col("doc_id"), col("pos"))
      .join(p3.select(col("doc_id"), col("pos").as("pos3")), "doc_id")
      .where(col("pos") =!= col("pos3")).count()
    assert(moved > 0, "a different seed must give a different permutation")
  }

  test("bigram LM score: frequent-bigram docs score higher; short docs NULL") {
    val spark = TestSpark.spark
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a b a b"),     // only the corpus's dominant bigrams
      (2L, "a b q z a b"),     // two rare bigrams mixed in
      (3L, "x"),               // single token: no bigrams
      (4L, "")                 // empty: no bigrams
    ).toDF("doc_id", "text")
    val scored = TextAnalysis.bigramScore(docs, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(scored(1L)._1 == 5 && scored(2L)._1 == 5)
    assert(scored(3L) == ((0L, None)) && scored(4L) == ((0L, None)))
    // doc 1 repeats corpus-frequent bigrams, doc 2 contains rare ones
    assert(scored(1L)._2.get > scored(2L)._2.get)
    // hand-check doc 1: corpus C(a,b)=5, C(a,·)=5; C(b,a)=2, C(b,·)=3;
    // V = {a,b,q,z,x} = 5 → 3 ab-terms + 2 ba-terms averaged
    val ab = math.log((5 + 0.5) / (5 + 2.5))
    val ba = math.log((2 + 0.5) / (3 + 2.5))
    val expected1 = math.rint(((3 * ab + 2 * ba) / 5) * 1e6) / 1e6
    assert(math.abs(scored(1L)._2.get - expected1) < 1e-9)
  }

  test("incremental dedup: exact and near corpus duplicates dropped, fresh docs kept") {
    val spark = TestSpark.spark
    import spark.implicits._
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog tonight"),
      (101L, "completely different historical content about spark plans")
    ).toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),     // exact dup
      (2L, "the quick brown fox jumps over the lazy dog today"),       // near dup (1 word)
      (3L, "an entirely fresh document with novel vocabulary inside"), // fresh
      (4L, "completely different historical content about spark plans") // exact dup
    ).toDF("doc_id", "text")
    val kept = Dedup.againstCorpus(incoming, corpus, "text", "doc_id", threshold = 0.6)
      .select("doc_id").collect().map(_.getLong(0)).sorted
    assert(kept.toSeq == Seq(3L), s"expected only the fresh doc, got ${kept.toSeq}")
    // disjoint batch: everything survives
    val all = Dedup.againstCorpus(
      Seq((9L, "zebra xylophone quantum")).toDF("doc_id", "text"),
      corpus, "text", "doc_id").select("doc_id").collect().map(_.getLong(0))
    assert(all.toSeq == Seq(9L))
  }

  test("connected components: chains, cycles, separate clusters, dedup") {
    // two components: a 4-chain {1,2,3,4} and a triangle {10,11,12}
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (11L, 12L), (10L, 12L))
      .toDF("ida", "idb")
    val comp = Components.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L), s"got $comp")
    // representatives: one row per cluster with its size
    val reps = Components.representatives(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reps == Map(1L -> 4L, 10L -> 3L), s"got $reps")
    // dedupByCluster keeps the min-id rep and every unpaired row
    val d = (1L to 12L).map(i => (i, s"t$i")).toDF("doc_id", "text")
    val kept = Components.dedupByCluster(d, pairs, "doc_id")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 5L, 6L, 7L, 8L, 9L, 10L), s"got $kept")
    // order-insensitive: reversed pair columns give the same labels
    val rev = pairs.select(col("idb").as("ida"), col("ida").as("idb"))
    val comp2 = Components.connectedComponents(rev)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp2 == comp)
  }

  test("clusterNearDuplicates: star edges stay linear under duplicate skew") {
    // a boilerplate-heavy corpus: 1200 EXACT copies of one page, two
    // 5-doc near-dup families (pairwise jaccard 12/14 ~ 0.857), 60
    // distinct noise docs. The all-pairs bucket join would emit
    // C(1200,2) ~ 719k candidate pairs; the star path must stay O(rows).
    val base = "the quick brown fox jumps over the lazy dog again and " +
      "again with more words to make the shingle set plentiful"
    val copies = (0L until 1200L).map(i => (i, base))
    def fam(start: Long, stem: String) =
      (0 until 5).map(j => (start + j, stem + s" tail$j"))
    val famA = fam(2000, "alpha beta gamma delta epsilon zeta eta theta " +
      "iota kappa lambda mu nu xi")
    val famB = fam(3000, "one two three four five six seven eight nine " +
      "ten eleven twelve thirteen")
    val noise = (4000L until 4060L).map(i =>
      (i, s"unique document number $i with distinct content ${i * 7} ${i * 13} ${i * 31}"))
    val d = (copies ++ famA ++ famB ++ noise).toDF("doc_id", "text")

    val nStar = Dedup.starCandidates(d, "text", "doc_id").count()
    val rows = d.count()
    assert(nStar <= rows * 16, s"star candidates $nStar exceed rows*bands (${rows * 16})")
    assert(nStar < 10000L,
      s"star candidates $nStar not linear (all-pairs would be ~719k)")

    val cl = Dedup.clusterNearDuplicates(d, "text", "doc_id", threshold = 0.8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every exact copy lands in ONE cluster labelled by the min id
    assert((0L until 1200L).forall(cl.get(_).contains(0L)),
      "exact copies must form one cluster labelled 0")
    // each near-dup family is its own complete cluster
    assert((2000L until 2005L).forall(cl.get(_).contains(2000L)), s"famA: $cl")
    assert((3000L until 3005L).forall(cl.get(_).contains(3000L)), s"famB: $cl")
    // noise never survives verification into a cluster
    assert((4000L until 4060L).forall(!cl.contains(_)), "noise must stay unclustered")
    assert(cl.size == 1210, s"expected 1210 clustered docs, got ${cl.size}")
  }

  test("vocab: corpus top-k token counts with deterministic ties") {
    val d = Seq((1L, "a b b c"), (2L, "B a  a"), (3L, "")).toDF("doc_id", "text")
    val v = TextAnalysis.vocab(d, "text", "doc_id", k = 2)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // a:3, b:3 (case-folded), c:1 → top-2 ties broken by token text
    assert(v.toSeq == Seq(("a", 3L), ("b", 3L)), s"got ${v.toSeq}")
    // real corpus: monotone counts, k rows
    val top = TextAnalysis.vocab(docs, "text", "doc_id", k = 10)
      .collect().map(_.getLong(1))
    assert(top.length == 10 && top.toSeq == top.sorted(Ordering[Long].reverse).toSeq)
  }

  test("batchedInfer: full batches except one straggler per partition, ids preserved") {
    val media = Multimodal.synthesize(docs).repartition(3)
    val out = Multimodal.batchedInfer(media, batchSize = 8, dim = 16).toDF().cache()
    assert(out.count() == media.count(), "every row inferred exactly once")
    // batch sizes: never above batchSize; stragglers (< 8) at most one
    // batch's worth per partition
    val sizes = out.groupBy("batch_n").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(sizes.keys.forall(_ <= 8))
    val stragglerRows = sizes.filter(_._1 < 8).values.sum
    assert(stragglerRows <= 3 * 7, s"straggler rows bounded by partitions, got $stragglerRows")
    // embeddings match the unbatched features kernel row-for-row
    val feats = Multimodal.features(media, dim = 16).toDF()
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val embs = out.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(embs == feats, "batched kernel ≡ per-row kernel")
    out.unpersist()
  }

  test("editSimilarity: hand-computed distances over a candidate pair set") {
    val d = Seq((1L, "kitten"), (2L, "Sitting"), (3L, "kitten")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L)).toDF("ida", "idb")
    val r = Dedup.editSimilarity(pairs, d, "text", "doc_id")
      .collect().map(x => (x.getLong(0), x.getLong(1)) -> (x.getLong(2), x.getDouble(3)))
      .toMap
    // lower() folds S; classic kitten→sitting distance = 3, max len 7
    assert(r((1L, 2L)) == ((3L, math.rint((1.0 - 3.0 / 7) * 1e6) / 1e6)))
    assert(r((1L, 3L)) == ((0L, 1.0)))
  }

  test("pretokenStats: hand-computed pretoken counts and fertility") {
    val d = Seq(
      (1L, "Hello world"),          // 2 pretokens, 2 words
      (2L, "it's 42%"),             // it / ' / s / _42 / % → 5 pretokens, 2 words
      (3L, ""),                     // empty
      (4L, "a  b")                  // double space: 'a' + ' b', 2 words
    ).toDF("doc_id", "text")
    val r = TextAnalysis.pretokenStats(d, "text", "doc_id")
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getDouble(3))).toMap
    assert(r(1L) == ((2L, 2L, 1.0)))
    assert(r(2L) == ((5L, 2L, 2.5)))
    assert(r(3L) == ((0L, 0L, 0.0)))
    assert(r(4L) == ((2L, 2L, 1.0)))
  }

  test("bpeDecode: decode(encode(x)) reproduces the word normalization; OOV and caps covered") {
    val d = Seq(
      (1L, "The quick, brown FOX!"),
      (2L, "zzzqqq xyzzy"),          // OOV words: char-split then reassembled
      (3L, "12345 !!!"),             // no [a-z] word: absent from output
      (4L, "interesting anthem")).toDF("doc_id", "text")
    val enc = Subwords.encode(d, "text", "doc_id",
      Subwords.Bpe(Seq(("e", "r"), ("i", "n"), ("t", "h"))))
    val dec = Subwords.bpeDecode(enc)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(dec(1L) == "the quick brown fox")
    assert(dec(2L) == "zzzqqq xyzzy")
    assert(dec(4L) == "interesting anthem")
    assert(!dec.contains(3L))
    // real corpus: every decoded doc equals its normalization
    val want = docs.select(col("doc_id").as("id"),
      array_join(filter(split(lower(col("text")), "[^a-z]+"),
        w => length(w) > 0), " ").as("w"))
    val got = Subwords.bpeDecode(
      Subwords.encode(docs, "text", "doc_id", Subwords.Bpe(Seq(("e", "r")))))
    assert(got.join(want, "id").where(col("text_detok") =!= col("w")).count() === 0L)
  }

  test("scriptStats: range counts, argmax with tie priority, mojibake and control flags") {
    val d = Seq(
      (1L, "hello world"),               // pure latin
      (2L, "\u041f\u0440\u0438\u0432\u0435\u0442 \u043c\u0438\u0440"), // pure cyrillic
      (3L, "\u4f60\u597d\u4e16\u754c"),       // pure cjk
      (4L, "\u0645\u0631\u062d\u0628\u0627"), // pure arabic
      (5L, "ab \u041f\u0440"),           // tie 2-2 -> priority: latin
      (6L, "1234 ..."),                  // no script chars -> und
      (7L, "ok\uFFFDtext"),              // replacement char -> not ok
      (8L, "ctl\u0007here"),             // control char (BEL) -> not ok
      (9L, "")).toDF("doc_id", "text")
    val r = TextAnalysis.scriptStats(d, "text", "doc_id")
      .collect().map(x => x.getLong(0) -> x).toMap
    assert(r(1L).getAs[String]("script") == "latin" &&
      r(1L).getAs[Long]("n_latin") == 10L)
    assert(r(2L).getAs[String]("script") == "cyrillic" &&
      r(2L).getAs[Long]("n_cyrillic") == 9L)
    assert(r(3L).getAs[String]("script") == "cjk" &&
      r(3L).getAs[Long]("n_cjk") == 4L)
    assert(r(4L).getAs[String]("script") == "arabic" &&
      r(4L).getAs[Long]("n_arabic") == 5L)
    assert(r(5L).getAs[String]("script") == "latin") // tie breaks by priority
    assert(r(6L).getAs[String]("script") == "und")
    assert(r(7L).getAs[Long]("n_replacement") == 1L &&
      r(7L).getAs[Int]("ok_encoding") == 0)
    assert(r(8L).getAs[Long]("n_control") == 1L &&
      r(8L).getAs[Int]("ok_encoding") == 0)
    assert(r(9L).getAs[String]("script") == "und" &&
      r(9L).getAs[Int]("ok_encoding") == 1)
    // clean rows are ok
    assert(Seq(1L, 2L, 3L, 4L, 5L, 6L).forall(i =>
      r(i).getAs[Int]("ok_encoding") == 1))
  }

  test("clusterBalancedSample: per-cluster cap honored, deterministic, assignment total preserved") {
    val cap = 25
    val asg = Similarity.clusterAssignments(emb)
    assert(asg.count() == emb.count()) // assignment is total
    val kept = Similarity.clusterBalancedSample(emb, cap)
    // no cluster exceeds the cap; total = Σ min(cap, |cluster|)
    val per = kept.groupBy("cluster").count().collect().map(_.getLong(1))
    assert(per.forall(_ <= cap))
    val expected = asg.groupBy("cluster").count()
      .agg(sum(least(col("count"), lit(cap.toLong)))).head().getLong(0)
    assert(kept.count() == expected)
    // content-addressed: identical winner set on a re-run
    val again = Similarity.clusterBalancedSample(emb, cap).select("vec_id")
    assert(kept.select("vec_id").except(again).count() == 0L)
    // a small cap strictly reduces a corpus bigger than cap*nlist
    if (emb.count() > 16L * cap) assert(kept.count() < emb.count())
    // SQL surface agrees with the API
    val viaSql = TestSpark.session
      .sql(s"select vec_id from cluster_sample(embeddings, $cap)")
    assert(viaSql.count() == kept.count())
    assert(viaSql.except(kept.select("vec_id")).count() == 0L)
    // eager error: bad cap
    val err = intercept[Exception](TestSpark.session
      .sql("select * from cluster_sample(embeddings, 0)"))
    assert(err.getMessage.contains("cap must be positive"))
  }

  test("quantizeInt8: values clamp to ±127, max component hits ±127, zero vec → scale 0") {
    val e = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f)),
      (2L, Array(0f, 0f, 0f)),
      (3L, Array(2.0f, 1.0f, -0.5f))).toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(e, "embedding", "vec_id")
      .collect().map(r => r.getLong(0) ->
        (r.getSeq[Byte](1).map(_.toLong), r.getDouble(2))).toMap
    // vec 1: amax=1.0 → scale 127; components 63.5→floor(64.0)=64? (0.5*127+0.5=64)
    assert(q(1L)._1 == Seq(64L, -127L, 32L) && q(1L)._2 == 127.0)
    assert(q(2L)._1 == Seq(0L, 0L, 0L) && q(2L)._2 == 0.0)
    // vec 3: amax=2 → scale 63.5; 2*63.5+0.5 floored = 127
    assert(q(3L)._1.max == 127L && q(3L)._1.forall(v => v >= -127 && v <= 127))
    // reconstruction error ≤ 0.5/scale per component on the real table
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val bad = Similarity.quantizeInt8(emb, "embedding", "vec_id")
      .join(emb, "vec_id")
      .where(col("qscale") > 0)
      .select(exists(zip_with(col("qvec"),
        col("embedding").cast("array<double>"),
        (qv, x) => abs(qv / col("qscale") - x) > lit(0.5) / col("qscale") + lit(1e-9)),
        b => b).as("bad"))
      .where(col("bad")).count()
    assert(bad == 0L)
  }

  test("epochExpand: whole copies exact, fractional share deterministic, unlisted = 1") {
    val d = (0L until 100L).map(i =>
      (i, if (i < 40) "a" else if (i < 80) "b" else "zzz")).toDF("doc_id", "source")
    val out = Sampling.epochExpand(d, "source", "doc_id",
      Map("a" -> 2.0, "b" -> 0.5)).cache()
    val byGroup = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // a: exactly 2 copies each; zzz unlisted → exactly 1; b: 0.5 → subset
    assert(byGroup("a") == 80L && byGroup("zzz") == 20L)
    assert(byGroup.getOrElse("b", 0L) > 0L && byGroup("b") < 40L)
    // epoch index contiguous from 1 per doc
    val epochs = out.where(col("source") === "a").groupBy("doc_id")
      .agg(sort_array(collect_list(col("epoch"))).as("es"))
      .collect().map(_.getSeq[Long](1))
    assert(epochs.forall(_ == Seq(1L, 2L)))
    // reproducible: a second run selects the identical fractional subset
    val again = Sampling.epochExpand(d, "source", "doc_id",
      Map("a" -> 2.0, "b" -> 0.5))
    assert(again.exceptAll(out).count() == 0 && out.exceptAll(again).count() == 0)
    out.unpersist()
  }

  test("hashedLinearScore: independent recompute, case folding, blank docs") {
    val d = Seq(
      (1L, "hello hello hello"),
      (2L, "   "),
      (3L, "Hello"),
      (4L, "the quick brown fox jumps over the lazy dog")).toDF("doc_id", "text")
    val out = TextAnalysis.hashedLinearScore(d, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_.asInstanceOf[Double]), r.getInt(3)))).toMap
    // independent Scala recompute of the score formula for one token
    def bucket(tok: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 2), 16)
    }
    def weight(b: Long): Long = (b * 2654435761L) % 4096L - 2048L
    val w = weight(bucket("hello"))
    val expected = BigDecimal(1.0 / (1.0 + math.exp(-(8.0 * (3 * w) / (4096.0 * 3)))))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(out(1L)._1 == 3L && out(1L)._2.contains(expected))
    // blank doc: zero tokens, NULL score, keep = 0
    assert(out(2L) == ((0L, None, 0)))
    // tokens lowercase before hashing: "Hello" scores like "hello"
    // (same single-bucket mean)
    assert(out(3L)._2 == out(1L)._2)
    // multi-token doc: score in [0,1], keep consistent with threshold
    val (n4, Some(s4), k4) = out(4L)
    assert(n4 == 9L && s4 >= 0.0 && s4 <= 1.0 && k4 == (if (s4 >= 0.5) 1 else 0))
  }

  test("gopherFlags: each rule fires on its constructed violator") {
    import graft.operators.QualityFilters
    val good = (("the be to of and that have with " +
      "plain sensible words continue here ") * 5).trim // 65 words, all rules pass
    val d = Seq(
      (1L, good),
      (2L, "too short"),                                     // wc
      (3L, Seq.fill(60)("a").mkString(" ")),                 // mean word len < 3
      (4L, good + " " + Seq.fill(20)("###").mkString(" ")),  // symbols
      (5L, good.split(" ").map("- " + _).mkString("\n")),    // bullets
      (6L, good + " " + Seq.fill(30)("123456").mkString(" ")) // alpha ratio
    ).toDF("doc_id", "text")
    val out = QualityFilters.gopherFlags(d, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r).toMap
    def flag(id: Long, c: String) = out(id).getAs[Int](c)
    assert(flag(1L, "keep") == 1)
    assert(flag(2L, "wc_ok") == 0 && flag(2L, "keep") == 0)
    assert(flag(3L, "mwl_ok") == 0)
    assert(flag(4L, "symbol_ok") == 0)
    assert(flag(5L, "bullet_ok") == 0)
    assert(flag(6L, "alpha_ok") == 0)
    // ellipsis rule: >30% of lines trailing '...'
    val e = Seq((7L, "First real line here.\nwait for it...\nand more...")).toDF("doc_id", "text")
    assert(QualityFilters.gopherFlags(e, "text", "doc_id")
      .collect().head.getAs[Int]("ellipsis_ok") == 0)
    // stopword probe: no hits
    val s = Seq((8L, Seq.fill(60)("zqx").mkString(" "))).toDF("doc_id", "text")
    assert(QualityFilters.gopherFlags(s, "text", "doc_id")
      .collect().head.getAs[Int]("stopword_ok") == 0)
  }

  test("c4LineFilter: punctuation/word-count line rules, lorem and brace tells, reassembly order") {
    import graft.operators.QualityFilters
    val d = Seq(
      (1L, "A good first sentence.\nshort one\nno terminal punctuation here\n" +
        "Another keeper stays right here!\nIs this kept too?"),
      (2L, "Contains lorem ipsum filler text here.\nA fine line otherwise."),
      (3L, "var f = function() { return 1; }\nBut this line survives fine.")
    ).toDF("doc_id", "text")
    val out = QualityFilters.c4LineFilter(d, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[String]("cleaned") ==
      "A good first sentence.\nAnother keeper stays right here!\nIs this kept too?")
    assert(out(1L).getAs[Long]("n_kept") == 3L && out(1L).getAs[Int]("keep") == 1)
    // lorem tell: the line drops AND the doc is rejected
    assert(out(2L).getAs[Int]("has_lorem") == 1 && out(2L).getAs[Int]("keep") == 0)
    assert(out(2L).getAs[String]("cleaned") == "A fine line otherwise.")
    // brace tell
    assert(out(3L).getAs[Int]("has_brace") == 1 && out(3L).getAs[Int]("keep") == 0)
    assert(out(3L).getAs[String]("cleaned") == "But this line survives fine.")
  }

  test("dupLineStats: hand-computed duplicate line/paragraph fractions, NULL on empty") {
    import graft.operators.QualityFilters
    // lines: [aa, bb, aa, aa] -> 4 lines, distinct 2, dup_frac 0.5;
    // chars 2*4=8, distinct chars 4 -> char_frac 0.5
    // paras (normalized): "aa bb" / "aa, bb!" both -> "aa bb" -> 2 paras,
    // 1 distinct -> dup 0.5; chars 10, distinct 5 -> 0.5
    val d = Seq(
      (1L, "aa\nbb\naa\naa"),
      (2L, "aa bb\n\naa, bb!"),
      (3L, "   ")).toDF("doc_id", "text")
    val out = QualityFilters.dupLineStats(d, "text", "doc_id")
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getAs[Long]("n_lines") == 4L &&
      out(1L).getAs[Double]("dup_lines_frac") == 0.5 &&
      out(1L).getAs[Double]("dup_lines_char_frac") == 0.5)
    assert(out(2L).getAs[Long]("n_paras") == 2L &&
      out(2L).getAs[Double]("dup_paras_frac") == 0.5 &&
      out(2L).getAs[Double]("dup_paras_char_frac") == 0.5)
    // blank doc: zero items, NULL fractions
    assert(out(3L).getAs[Long]("n_lines") == 0L &&
      out(3L).isNullAt(out(3L).fieldIndex("dup_lines_frac")) &&
      out(3L).isNullAt(out(3L).fieldIndex("dup_lines_char_frac")))
  }

  test("MisraGries: superset of true heavy hitters, undercount bounded, <= k entries, any partitioning") {
    import graft.operators.Sketches
    // 1200 x "hot", 300 x "warm", 500 singletons; n = 2000
    val words = Seq.fill(1200)("hot") ++ Seq.fill(300)("warm") ++
      (0 until 500).map(i => s"rare$i")
    val d = scala.util.Random.shuffle(words).zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    for (k <- Seq(4, 16); parts <- Seq(1, 7)) {
      val sk = Sketches.heavyHitters(d.repartition(parts), "text", "doc_id", k)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(sk.size <= k, s"k=$k parts=$parts: ${sk.size} entries")
      val bound = 2000 / (k + 1)
      // superset guarantee: freq > n/(k+1) must be present
      for ((t, n) <- Seq("hot" -> 1200L, "warm" -> 300L) if n > bound) {
        assert(sk.contains(t), s"k=$k parts=$parts: $t missing")
        // counts undercount, by at most n/(k+1)
        assert(sk(t) <= n && n - sk(t) <= bound,
          s"k=$k parts=$parts: $t approx=${sk(t)} true=$n bound=$bound")
      }
    }
  }

  test("heavyHittersExact: recounted candidates carry exact counts; heavy filter = true heavy set") {
    import graft.operators.Sketches
    val words = Seq.fill(900)("hot") ++ Seq.fill(400)("warm") ++
      (0 until 700).map(i => s"rare$i")   // n = 2000
    val d = scala.util.Random.shuffle(words).zipWithIndex
      .map { case (w, i) => (i.toLong, w) }.toDF("doc_id", "text")
    val k = 8
    val out = Sketches.heavyHittersExact(d.repartition(5), "text", "doc_id", k)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // every recounted candidate has its EXACT corpus count
    assert(out.get("hot").contains(900L))
    assert(out.get("warm").contains(400L))
    assert(out.forall { case (t, n) =>
      if (t == "hot") n == 900L else if (t == "warm") n == 400L else n == 1L })
    // filtering to n(k+1) > total yields exactly the true heavy set
    val heavy = out.filter { case (_, n) => n * (k + 1) > 2000L }.keySet
    assert(heavy == Set("hot", "warm"))
  }

  test("oovRate: counts tokens outside the deterministic top-k vocab") {
    // corpus: "aa" df 4, "bb" df 3, "cc"/"dd"/"ee" rare; vocabK=2 → {aa, bb}
    val d = Seq(
      (1L, "aa bb aa"), (2L, "aa bb cc"), (3L, "aa dd"), (4L, "aa bb ee"),
      (5L, "   ")).toDF("doc_id", "text")
    val out = TextAnalysis.oovRate(d, "text", "doc_id", vocabK = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap
    assert(out(1L) == ((3L, 0L, Some(0.0))))
    assert(out(2L) == ((3L, 1L, Some(BigDecimal(1.0 / 3).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble))))
    assert(out(3L) == ((2L, 1L, Some(0.5))))
    // blank doc: no tokens, NULL rate
    assert(out(5L) == ((0L, 0L, None)))
    // vocab tie-break is deterministic: with k=4, the two tied rare terms
    // ("cc","dd","ee" all count 1) admit the lexicographically-first two
    val out4 = TextAnalysis.oovRate(d, "text", "doc_id", vocabK = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out4(2L) == 0L && out4(3L) == 0L && out4(4L) == 1L)
  }

  test("uniformPerGroup: exactly k per large group, all rows for small, reproducible, uniform not prefix") {
    val d = (0L until 200L).map(i => (i, if (i < 180) "big" else "small"))
      .toDF("doc_id", "source")
    val out = Sampling.uniformPerGroup(d, "source", cap = 20, keyCol = "doc_id")
    val byGroup = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byGroup == Map("big" -> 20L, "small" -> 20L))
    // reproducible across runs
    val again = Sampling.uniformPerGroup(d, "source", cap = 20, keyCol = "doc_id")
    assert(out.exceptAll(again).count() == 0 && again.exceptAll(out).count() == 0)
    // uniform, not a prefix: the winners are NOT simply ids 0..19
    val bigIds = out.where(col("source") === "big")
      .collect().map(_.getLong(0)).toSet
    assert(bigIds.size == 20 && bigIds != (0L until 20L).toSet)
  }

  test("applyParagraphDedup: per-row filter agrees with two-pass batch paragraphDedup") {
    val banners = Seq(
      "Cookie, Notice!", "cookie   notice", "COOKIE NOTICE", "cookie-notice", "Cookie.Notice")
    val d = (banners.zipWithIndex.map { case (b, i) =>
      ((i + 1).toLong, s"$b\n\nunique body ${i + 1}\n\n***")
    } :+ ((6L, "no banner here\n\n***"))).toDF("doc_id", "text")
    val hot = Dedup.hotParagraphs(d, "text", "doc_id", minDocFreq = 5L)
    val applied = Dedup.applyParagraphDedup(d, "text", "doc_id", hot)
      .select("doc_id", "n_kept", "n_removed", "cleaned")
    val batch = Dedup.paragraphDedup(d, "text", "doc_id", minDocFreq = 5L)
      .select("doc_id", "n_kept", "n_removed", "cleaned")
    assert(applied.exceptAll(batch).isEmpty && batch.exceptAll(applied).isEmpty)
    // empty hot set: pass-through
    val none = Dedup.applyParagraphDedup(d, "text", "doc_id",
      Dedup.hotParagraphs(d, "text", "doc_id", minDocFreq = 99L))
    assert(none.select("doc_id", "text", "cleaned").collect()
      .forall(r => r.getString(1) == r.getString(2)))
  }

  test("paragraphDedup: normalized matching strips cosmetic banner variants, keeps original bytes") {
    val banners = Seq(
      "Cookie, Notice!", "cookie   notice", "COOKIE NOTICE", "cookie-notice", "Cookie.Notice")
    val d = (banners.zipWithIndex.map { case (b, i) =>
      ((i + 1).toLong, s"$b\n\nunique body ${i + 1}\n\n***")
    } :+ ((6L, "no banner here\n\n***"))).toDF("doc_id", "text")
    val out = Dedup.paragraphDedup(d, "text", "doc_id", minDocFreq = 5L)
      .select("doc_id", "cleaned", "n_kept", "n_removed")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // every cosmetic variant normalizes to "cookie notice" → df 5 → stripped;
    // kept paragraphs keep their ORIGINAL text and the \n\n separator
    (1 to 5).foreach { i =>
      assert(out(i.toLong) == ((s"unique body $i\n\n***", 2L, 1L)), s"doc $i")
    }
    // decoration-only paragraphs ("***", normalized key empty) appear in all
    // 6 docs but are never hot; untouched doc passes through byte-exact
    assert(out(6L) == (("no banner here\n\n***", 2L, 0L)))
    // below threshold: byte-exact roundtrip
    val rt = Dedup.paragraphDedup(d, "text", "doc_id", minDocFreq = 6L)
      .select("doc_id", "text", "cleaned").collect()
    assert(rt.forall(r => r.getString(1) == r.getString(2)))
  }

  test("kthSmallestLong: every rank matches a sort, duplicates, negatives, tiny buckets") {
    val rnd = new scala.util.Random(7)
    // duplicates, negatives, and a huge-range outlier pair (forces
    // multi-pass refinement even at buckets = 4096)
    val vals = (Seq.fill(200)(rnd.nextInt(50).toLong - 25L) ++
      Seq(Long.MinValue / 4, Long.MaxValue / 4, 0L, 0L, 0L))
    val d = rnd.shuffle(vals).zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "x")
    val sorted = vals.sorted
    // spot-check every 13th rank plus both extremes
    (Seq(1, vals.size) ++ (1 to vals.size by 13)).foreach { k =>
      assert(Quantiles.kthSmallestLong(d, "x", k.toLong) == sorted(k - 1), s"k=$k")
    }
    // refinement is bucket-count-independent: 2 buckets = 64 passes max
    assert(Quantiles.kthSmallestLong(d, "x", 30L, buckets = 2) == sorted(29))
    // nulls are excluded, not counted as low values
    val dn = (d.select(col("id"), col("x")) union
      Seq((9999L, Option.empty[Long])).toDF("id", "x")).toDF("id", "x")
    assert(Quantiles.kthSmallestLong(dn, "x", 1L) == sorted.head)
    // quantile wrapper: numpy-'lower' index
    assert(Quantiles.exactQuantileLong(d, "x", 0.0) == sorted.head)
    assert(Quantiles.exactQuantileLong(d, "x", 1.0) == sorted.last)
    val mid = Quantiles.exactQuantileLong(d, "x", 0.5)
    assert(mid == sorted((sorted.size - 1) / 2))
    // keepBelowQuantile keeps exactly the rows <= that threshold
    val kept = Quantiles.keepBelowQuantile(d, "x", 0.5).count()
    assert(kept == sorted.count(_ <= mid))
  }

  test("star-cluster recall table: thresholds 0.7/0.8/0.9, cliques and transitive chains") {
    // The documented loss mode of clusterNearDuplicates: connectivity
    // flows only through bucket minima, so transitive chains (A~B~C with
    // A!~C) can fragment when the bucket min is a remote chain element.
    // This measures PAIR recall vs the all-pairs truth per (scenario,
    // threshold) — ids ASCEND along each chain, the worst case (the min
    // is always the chain head, whose Jaccard to deep elements is lowest).
    val W = 62 // words per doc -> 60 3-shingles
    def doc(fam: String, mut: Map[Int, String]): String =
      (0 until W).map(i => mut.getOrElse(i, s"w${fam}_$i")).mkString(" ")
    // clique: every copy mutates the SAME position -> all-pairs J = 57/63 ~ 0.905
    def clique(fam: String, n: Int, base: Long): Seq[(Long, String)] =
      (0 until n).map(c => (base + c, doc(fam, Map(30 -> s"m${fam}_$c"))))
    // chain: step i replaces a PRIVATE block of `s` words -> adjacent J =
    // (60-(s+2))/(60+(s+2)), distance-2 already below the threshold
    def chain(fam: String, len: Int, s: Int, base: Long): Seq[(Long, String)] =
      (0 until len).map { step =>
        val muts = (0 until step).flatMap { b =>
          val off = b * (s + 4)
          (off until off + s).map(p => p -> s"c${fam}_${b}_$p")
        }.toMap
        (base + step, doc(fam, muts))
      }
    def recallOf(rows: Seq[(Long, String)], t: Double): (Double, Int) = {
      val d = rows.toDF("doc_id", "text").localCheckpoint()
      val ids = rows.map(_._1)
      val allPairs = (for { a <- ids; b <- ids if a < b } yield (a, b))
        .toDF("ida", "idb")
      val truthEdges = Dedup.ngramJaccard(allPairs, d, "text", "doc_id")
        .where(col("jaccard") >= t).select("ida", "idb")
      val truthComp = Components.connectedComponents(truthEdges)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val starComp = Dedup.clusterNearDuplicates(d, "text", "doc_id", threshold = t)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val truthPairs = for {
        a <- ids; b <- ids if a < b
        ca <- truthComp.get(a); cb <- truthComp.get(b) if ca == cb
      } yield (a, b)
      val hit = truthPairs.count { case (a, b) =>
        (starComp.get(a), starComp.get(b)) match {
          case (Some(x), Some(y)) => x == y
          case _ => false
        }
      }
      (if (truthPairs.isEmpty) 1.0 else hit.toDouble / truthPairs.size,
        truthPairs.size)
    }
    // block size per threshold keeping adjacent J just above t:
    // t=0.9 -> s=1 (J=0.905); t=0.8/0.7 -> s=4 (J=0.818)
    val scenarios = Seq(
      ("clique12", 0.7, clique("k7", 12, 100L)),
      ("clique12", 0.8, clique("k8", 12, 200L)),
      ("clique12", 0.9, clique("k9", 12, 300L)),
      ("chain4", 0.7, chain("c47", 4, 4, 400L)),
      ("chain4", 0.8, chain("c48", 4, 4, 500L)),
      ("chain4", 0.9, chain("c49", 4, 1, 600L)),
      ("chain7", 0.7, chain("c77", 7, 4, 700L)),
      ("chain7", 0.8, chain("c78", 7, 4, 800L)),
      ("chain7", 0.9, chain("c79", 7, 1, 900L)))
    val table = scenarios.map { case (name, t, rows) =>
      val (r, np) = recallOf(rows, t)
      info(f"star recall  $name%-9s t=$t%.1f  pairs=$np%3d  recall=$r%.3f")
      (name, t, r, np)
    }
    // every truth clustering here is one family-wide component; the flag
    // bar from the round-8 verdict: recall >= 0.9 everywhere
    table.foreach { case (name, t, r, np) =>
      assert(np > 0, s"$name@$t produced no truth pairs — construction broken")
      assert(r >= 0.9, f"star recall $r%.3f < 0.9 for $name at t=$t")
    }
  }

  test("groupedExactQuantiles: quantile_cont semantics per group, bounded passes/collects") {
    // reference: sort per group, h = (n−1)·q in decimal, linear interp
    def ref(vals: Seq[Long], q: Double): Double = {
      val s = vals.sorted
      val h = BigDecimal(s.size - 1) * BigDecimal(q)
      val k = h.setScale(0, BigDecimal.RoundingMode.FLOOR).toLong.toInt
      if (h.isWhole) s(k).toDouble
      else s(k) + (h - k).toDouble * (s(k + 1) - s(k))
    }
    val rnd = new scala.util.Random(17)
    val groups: Map[String, Seq[Long]] = Map(
      "big"    -> Seq.fill(997)(rnd.nextInt(100000).toLong - 50000L), // odd n
      "even"   -> Seq(1L, 2L, 3L, 4L),      // fractional index at 0.5
      "single" -> Seq(42L),
      "same"   -> Seq.fill(50)(7L),          // lo == hi: zero passes needed
      "wide"   -> Seq(Long.MinValue / 4, -3L, 0L, 9L, Long.MaxValue / 4))
    val rows = groups.toSeq.flatMap { case (k, vs) => vs.map(v => (k, v)) } ++
      Seq(("big", -1L), ("nullv", -1L)) // a dup + group that is all-null below
    val d0 = rnd.shuffle(rows).toDF("src", "v")
    val d = d0.select(col("src"),
      when(col("src") === "nullv", lit(null)).otherwise(col("v")).as("v"))
    val qs = Seq("q25" -> 0.25, "med" -> 0.5, "p90" -> 0.9, "q29" -> 0.29)
    val got = Quantiles.groupedExactQuantiles(d, "src", "v", qs)
      .collect().map(r => r.getString(0) ->
        ((1 to 4).map(i => if (r.isNullAt(i)) None else Some(r.getDouble(i))),
          r.getLong(5))).toMap
    val expected = groups + ("big" -> (groups("big") :+ -1L))
    expected.foreach { case (k, vs) =>
      val (gq, n) = got(k)
      assert(n == vs.size.toLong, s"n for $k")
      qs.zipWithIndex.foreach { case ((nm, q), i) =>
        assert(gq(i).contains(ref(vs, q)), s"$k.$nm: got ${gq(i)}, want ${ref(vs, q)}")
      }
    }
    // all-null group: present with NULL quantiles and n = 0
    assert(got("nullv")._1.forall(_.isEmpty) && got("nullv")._2 == 0L)
    // the bounded-state contract: ≤ ⌈64/log₂ 4096⌉ = 6 refinement passes,
    // and no driver collect larger than activeTasks·buckets
    val st = Quantiles.lastGroupedStats.get
    assert(st.passes <= 6, s"passes ${st.passes}")
    assert(st.maxCollectedRows <= st.tasks.toLong * 4096L,
      s"collected ${st.maxCollectedRows} for ${st.tasks} tasks")
    // real corpus: agrees with the dialect's exact `percentile` aggregate
    // (group-buffering) — same numbers, bounded state
    val viaOp = Quantiles.groupedExactQuantiles(docs, "source", "n_chars",
      Seq("med" -> 0.5, "p90" -> 0.9))
      .select(col("source"), round(col("med"), 6).as("med"),
        round(col("p90"), 6).as("p90"))
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    val viaAgg = TestSpark.session.sql(
      "select source, round(percentile(n_chars, 0.5), 6) as med, " +
        "round(percentile(n_chars, 0.9), 6) as p90 from documents group by source")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(viaOp == viaAgg)
  }

  test("exactKeepBest / keepBestPerCluster: argmax representative, ties -> min id") {
    val d = Seq(
      (1L, "aa", 5.0), (2L, "aa", 9.0), (3L, "aa", 9.0), // dup family: 2 wins (tie w/ 3 -> min id)
      (4L, "bb", 1.0),                                    // singleton
      (5L, "cc", 2.0), (6L, "cc", 7.0)                    // dup family: 6 wins
    ).toDF("doc_id", "text", "score")
    val kept = Dedup.exactKeepBest(d, Seq("text"), "doc_id", "score")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 4L, 6L))
    // near-dup variant: clusters from the star path; best score kept per
    // cluster, unclustered rows untouched. Docs crafted as exact copies
    // (always clustered) + one unique doc.
    val nd = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again", 1.0),
      (11L, "the quick brown fox jumps over the lazy dog again and again", 8.0),
      (12L, "completely unrelated text about spark catalyst optimizer internals", 0.5)
    ).toDF("doc_id", "text", "score")
    val keptNd = Dedup.keepBestPerCluster(nd, "text", "doc_id", "score")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(keptNd == Set(11L, 12L))
    // real corpus sanity: keep-best count == keep-min count (same families)
    val dd = docs.withColumn("score", (col("doc_id") * 7919L) % 1000L)
    assert(Dedup.exactKeepBest(dd, Seq("text"), "doc_id", "score").count() ==
      Dedup.exact(docs, Seq("text"), "doc_id").count())
  }

  test("SortedArrayContains: binary search ≡ linear scan, codegen ≡ eval, edge shapes") {
    val rnd = new scala.util.Random(23)
    val arrs = Seq(
      Seq.empty[Long], Seq(5L), Seq(Long.MinValue, -1L, 0L, 7L, Long.MaxValue),
      Seq.fill(257)(rnd.nextLong()).distinct.sorted)
    val probes = Seq(Long.MinValue, -1L, 0L, 5L, 6L, 7L, Long.MaxValue) ++
      arrs.flatten.take(40) ++ Seq.fill(40)(rnd.nextLong())
    val rows = for { (a, ai) <- arrs.zipWithIndex; (p, pi) <- probes.zipWithIndex }
      yield (ai.toLong * 1000 + pi, a.sorted, p)
    val df = rows.toDF("id", "arr", "x")
    val got = df.select(col("id"),
      graft.expr.SortedArrayContains(col("arr"), col("x")).as("c"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    rows.foreach { case (id, a, p) =>
      assert(got(id) == a.contains(p), s"id=$id arr=${a.take(5)}… x=$p")
    }
    // null propagation like array_contains
    val n = Seq((1L, Some(Seq(1L, 2L)), Option.empty[Long]),
      (2L, Option.empty[Seq[Long]], Some(1L)))
      .toDF("id", "arr", "x")
      .select(col("id"), graft.expr.SortedArrayContains(col("arr"), col("x")).as("c"))
      .collect().map(r => r.getLong(0) -> r.isNullAt(1)).toMap
    assert(n(1L) && n(2L))
  }

  test("DoubleSortableBits: order-preserving bijection incl. ±0, ±Inf, NaN, subnormals") {
    import graft.expr.DoubleSortableBits._
    val rnd = new scala.util.Random(11)
    val edge = Seq(0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
      Double.MaxValue, Double.MinValue, Double.PositiveInfinity,
      Double.NegativeInfinity, Double.NaN, 1.0, -1.0, math.Pi, -math.Pi)
    val vals = edge ++ Seq.fill(500)(
      java.lang.Double.longBitsToDouble(rnd.nextLong())).filterNot(_.isNaN) :+ Double.NaN
    // monotone: signed-long order == Double.compare order, pairwise
    val byBits = vals.sortBy(forward)
    val byCmp = vals.sorted(Ordering.fromLessThan[Double](
      (a, b) => java.lang.Double.compare(a, b) < 0))
    assert(byBits.map(forward) == byCmp.map(forward))
    // bijection: inverse(forward(x)) reproduces the exact bit pattern
    vals.foreach { x =>
      assert(java.lang.Double.doubleToLongBits(inverse(forward(x))) ==
        java.lang.Double.doubleToLongBits(x), s"roundtrip $x")
    }
    // the Catalyst expression agrees with the Scala reference and stays
    // inside whole-stage codegen
    val d = vals.filterNot(_.isNaN).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("id", "x")
    val rows = d.select(col("id"), graft.expr.DoubleSortableBits.column(col("x")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    vals.filterNot(_.isNaN).zipWithIndex.foreach { case (v, i) =>
      assert(rows(i.toLong) == forward(v))
    }
  }

  test("kthSmallestDouble: ranks match Double.compare sort; keepTopFraction boundary ties") {
    val rnd = new scala.util.Random(13)
    val vals = Seq.fill(150)(rnd.nextGaussian() * 10) ++
      Seq(-0.0, 0.0, 2.5, 2.5, 2.5, -1e300, 1e300)
    val d = rnd.shuffle(vals).zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "x")
    val sorted = vals.sorted(Ordering.fromLessThan[Double](
      (a, b) => java.lang.Double.compare(a, b) < 0))
    (Seq(1, vals.size) ++ (1 to vals.size by 17)).foreach { k =>
      val got = Quantiles.kthSmallestDouble(d, "x", k.toLong)
      assert(java.lang.Double.compare(got, sorted(k - 1)) == 0, s"k=$k")
    }
    // keepTopFraction keeps >= the exact (1-frac) quantile, ties included
    val thr = Quantiles.exactQuantileDouble(d, "x", 0.75)
    val kept = Quantiles.keepTopFraction(d, "x", 0.25).count()
    assert(kept == vals.count(_ >= thr))
  }

  test("dsirScores: hand-computed log-ratios on a 3-doc corpus; resample keeps target-like") {
    val d = Seq(
      (1L, "alpha alpha", "t"), (2L, "alpha beta", "t"),
      (3L, "gamma gamma gamma", "r"), (4L, "alpha gamma", "r"),
      (5L, "", "r")
    ).toDF("doc_id", "text", "src")
    val B = 8
    val out = Importance.dsirScores(d, "text", "doc_id",
        col("src") === "t", buckets = B)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    // reference recompute in plain Scala
    def bucket(tok: String): Long = {
      val m = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val h = ((m(0).toInt * 31 + m(1).toInt) * 31 + m(2).toInt) * 31 + m(3).toInt
      ((h.toLong % B) + B) % B
    }
    val toks = Seq(1L -> "alpha alpha", 2L -> "alpha beta",
      3L -> "gamma gamma gamma", 4L -> "alpha gamma")
      .flatMap { case (id, t) => t.split("\\s+").map(id -> _) }
    val isT = Set(1L, 2L)
    val byB = toks.groupBy { case (_, t) => bucket(t) }
    val nt = toks.count(p => isT(p._1)).toDouble
    val nr = toks.size.toDouble
    val lr = byB.map { case (b, ps) =>
      val ct = ps.count(p => isT(p._1)).toDouble
      b -> (math.log((ct + 0.5) / (nt + 0.5 * B)) -
        math.log((ps.size + 0.5) / (nr + 0.5 * B)))
    }
    val want = toks.groupBy(_._1).map { case (id, ps) =>
      val vs = ps.map(p => lr(bucket(p._2))).sorted
      (id, ps.size.toLong,
        BigDecimal(vs.foldLeft(0.0)(_ + _) / ps.size)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSet
    assert(out.toSet == want, s"got $out want $want")
    // empty doc 5 absent
    assert(!out.exists(_._1 == 5L))
    // resample: target docs score higher than the anti-target doc 3
    val kept = Importance.dsirResample(d, "text", "doc_id",
        col("src") === "t", frac = 0.5, buckets = B)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.subsetOf(Set(1L, 2L, 4L)) && kept.nonEmpty && !kept(3L))
  }

  test("dsirModel + applyDsirScore: per-row apply is bit-identical to batch scores") {
    val isT = col("source") === "src0"
    val model = Importance.dsirModel(docs, "text", "doc_id", isT, buckets = 64)
    assert(model.length <= 64 && model.map(_._1).distinct.length == model.length)
    val applied = Importance.applyDsirScore(docs, "text", "doc_id", model, buckets = 64)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val batch = Importance.dsirScores(docs, "text", "doc_id", isT, buckets = 64)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(applied.length == batch.length && applied.sameElements(batch))
    // unseen-bucket path: a model missing buckets contributes 0, not null
    val tiny = model.take(1)
    val part = Importance.applyDsirScore(docs, "text", "doc_id", tiny, buckets = 64)
    assert(part.where(col("score").isNull).count() == 0)
  }

  test("distinctAudit: exact counts right, sketch within tolerance on real corpus") {
    val out = Sketches.distinctAudit(docs, "text", "source").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(out.nonEmpty)
    // exact counts recomputed independently
    val truth = docs.groupBy("source").agg(count_distinct(col("text")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    out.foreach { case (src, n, ok) =>
      assert(n == truth(src), s"exact_n mismatch for $src")
      assert(ok == 1, s"HLL estimate out of tolerance for $src")
    }
  }

  test("dimCovariance: hand-computed 2-dim case; diagonal corr = 1; partition-invariant") {
    val d = Seq(
      (1L, Array(1.0f, 2.0f)), (2L, Array(2.0f, 4.0f)),
      (3L, Array(3.0f, 6.0f)), (4L, Array(4.0f, 8.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.dimCovariance(d, "embedding", "vec_id")
      .collect().map(r => ((r.getLong(0), r.getLong(1)), (r.getDouble(2), r.getDouble(3)))).toMap
    // var(x)=1.25, var(y)=5, cov=2.5, perfectly correlated
    assert(out((1L, 1L)) == ((1.25, 1.0)))
    assert(out((2L, 2L)) == ((5.0, 1.0)))
    assert(out((1L, 2L)) == ((2.5, 1.0)))
    // real corpus: dim² rows, diagonal corr exactly 1, symmetric
    // bounds, and invariant under a different partitioning
    val c1 = Similarity.dimCovariance(emb, "embedding", "vec_id")
    val rows = c1.collect()
    assert(rows.length == 64 * 65 / 2)
    assert(rows.filter(r => r.getLong(0) == r.getLong(1)).forall(_.getDouble(3) == 1.0))
    assert(rows.forall(r => math.abs(r.getDouble(3)) <= 1.0))
    val c2 = Similarity.dimCovariance(emb.repartition(7), "embedding", "vec_id")
    assert(c1.exceptAll(c2).isEmpty && c2.exceptAll(c1).isEmpty)
  }

  test("pcaFit/pcaProject: known 2-dim geometry; components orthonormal; projection variance = eigenvalue") {
    // points on the line y = 2x (plus symmetric noise on the orthogonal):
    // first component must align with (1,2)/√5
    val base = Seq((1.0, 2.0), (2.0, 4.0), (3.0, 6.0), (4.0, 8.0))
    val noise = Seq((2.0 + 2.0 / math.sqrt(5), 4.0 - 1.0 / math.sqrt(5)),
      (2.0 - 2.0 / math.sqrt(5), 4.0 + 1.0 / math.sqrt(5)))
    val d = (base ++ noise).zipWithIndex
      .map { case ((x, y), i) => (i.toLong, Array(x.toFloat, y.toFloat)) }
      .toDF("vec_id", "embedding")
    val m = Similarity.pcaFit(d, "embedding", "vec_id", k = 2)
    assert(m.eigenvalues(0) >= m.eigenvalues(1) && m.eigenvalues(1) >= 0)
    val w0 = m.components(0)
    val expect = Array(1.0 / math.sqrt(5), 2.0 / math.sqrt(5))
    assert(math.abs(math.abs(w0(0) * expect(0) + w0(1) * expect(1)) - 1.0) < 1e-3,
      s"first component ${w0.toSeq} not aligned with y=2x")
    // sign convention: largest-|loading| coordinate positive
    assert(m.components.forall(w => w(w.map(math.abs).zipWithIndex.maxBy(p => (p._1, -p._2))._2) >= 0))
    // real corpus: k=4 model, projection variance per component ≈ λ and
    // the model is identical under a different partitioning
    val m1 = Similarity.pcaFit(emb, "embedding", "vec_id", k = 4)
    val m2 = Similarity.pcaFit(emb.repartition(7), "embedding", "vec_id", k = 4)
    assert(m1.eigenvalues.sameElements(m2.eigenvalues))
    assert(m1.components.zip(m2.components).forall { case (a, b) => a.sameElements(b) })
    val proj = Similarity.pcaProject(emb, "embedding", "vec_id", m1)
    val vr = proj.select((0 until 4).map(i =>
      var_pop(element_at(col("pc"), i + 1)).as(s"v$i")): _*).head()
    (0 until 4).foreach(i => assert(math.abs(vr.getDouble(i) - m1.eigenvalues(i)) < 1e-4))
  }

  test("normalizeText: control/zero-width strip, whitespace collapse, trim") {
    val d = Seq(
      (1L, "a\u0001b"), (2L, "a\u00A0 b"), (3L, "zero\u200Bwidth"),
      (4L, "  lots   of\t\nspace  "), (5L, "clean text"), (6L, "")
    ).toDF("doc_id", "text")
    val out = d.select(col("doc_id"), TextAnalysis.normalizeText(col("text")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "a b")          // control char → space
    assert(out(2L) == "a b")          // NBSP folded into the run
    assert(out(3L) == "zerowidth")    // zero-width removed...
    assert(out(4L) == "lots of space")
    assert(out(5L) == "clean text")   // already-clean text untouched
    assert(out(6L) == "")
  }

  test("quantileAudit: GK sketch within rank tolerance; flags stable under repartition") {
    val a1 = Sketches.quantileAudit(docs, "n_chars", Seq(0.25, 0.5, 0.75)).head()
    assert(a1.getLong(0) == docs.where(col("n_chars").isNotNull).count())
    (1 to 3).foreach(i => assert(a1.getInt(i) == 1, s"flag $i"))
    val a2 = Sketches.quantileAudit(docs.repartition(7), "n_chars", Seq(0.25, 0.5, 0.75)).head()
    (1 to 3).foreach(i => assert(a2.getInt(i) == 1))
  }

  test("writeShards: disjoint covering, content-addressed placement, one file per shard") {
    val dir = java.nio.file.Files.createTempDirectory("shards_test_").toString
    val stats = Curation.writeShards(docs, "doc_id", dir, shards = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stats.keySet == Set(0L, 1L, 2L, 3L))
    assert(stats.values.sum == docs.count())
    // re-reading assigns every row to the shard its id hashes to
    val back = docs.sparkSession.read.parquet(dir)
      .select(col("doc_id"), col("shard").cast("long").as("s"))
      .where(pmod(xxhash64(col("doc_id")), lit(4L)) =!= col("s"))
    assert(back.count() == 0)
    // exactly one data file per shard directory (repartition by shard col)
    (0 to 3).foreach { sh =>
      val files = new java.io.File(s"$dir/shard=$sh")
        .listFiles().filter(_.getName.endsWith(".parquet"))
      assert(files.length == 1, s"shard $sh has ${files.length} files")
    }
    // idempotent placement: writing again yields identical stats
    val dir2 = java.nio.file.Files.createTempDirectory("shards_test2_").toString
    val stats2 = Curation.writeShards(docs.repartition(13), "doc_id", dir2, shards = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stats2 == stats)
  }

  test("annRecall: identity = 1.0, disjoint = 0.0, partial overlap exact") {
    val truth = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L)).toDF("qid", "vec_id")
    val same = Similarity.annRecall(truth, truth).head()
    assert(same.getLong(0) == 2 && same.getDouble(1) == 1.0 && same.getDouble(2) == 1.0)
    val disj = Seq((1L, 99L), (2L, 98L)).toDF("qid", "vec_id")
    val z = Similarity.annRecall(disj, truth).head()
    assert(z.getDouble(1) == 0.0 && z.getDouble(2) == 0.0)
    // q1 hits 1/2, q2 hits 2/2 → mean 0.75, min 0.5
    val part = Seq((1L, 10L), (1L, 99L), (2L, 20L), (2L, 21L)).toDF("qid", "vec_id")
    val p = Similarity.annRecall(part, truth).head()
    assert(p.getDouble(1) == 0.75 && p.getDouble(2) == 0.5)
  }

  test("standardize: z-scores recompute from raw stats; zero-variance dim maps to 0") {
    val d = Seq(
      (1L, Array(1.0f, 5.0f)), (2L, Array(3.0f, 5.0f)), (3L, Array(5.0f, 5.0f))
    ).toDF("vec_id", "embedding")
    val z = Similarity.standardize(d, "embedding", "vec_id")
      .orderBy("vec_id").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1))
    // dim 1: mean 3, stddev_pop sqrt(8/3)=1.632993 (rounded 6dp)
    val s = 1.632993
    assert(math.abs(z(0)._2(0) - (1.0 - 3.0) / s) < 1e-9)
    assert(math.abs(z(1)._2(0)) < 1e-9)
    assert(math.abs(z(2)._2(0) - (5.0 - 3.0) / s) < 1e-9)
    // dim 2 is constant: (x - mean)/1 = 0, not NaN
    assert(z.forall(_._2(1) == 0.0))
    // real corpus: standardized dims have ~zero mean and ~unit variance
    val zc = Similarity.standardize(emb, "embedding", "vec_id")
      .select(avg(element_at(col("z"), 3)).as("m"),
        stddev_pop(element_at(col("z"), 3)).as("s")).head()
    assert(math.abs(zc.getDouble(0)) < 1e-3 && math.abs(zc.getDouble(1) - 1.0) < 1e-3)
  }

  test("bpe word frequencies and pair counts: hand-computed tiny corpus") {
    // words: "low" x3, "lower" x1, "be" x2 ("Be" lowercases, "42" drops)
    val d = Seq(
      (1L, "low low lower"),
      (2L, "low Be be 42")
    ).toDF("doc_id", "text")
    val wf = Subwords.bpeWordFrequencies(d, "text", "doc_id")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(wf == Map("low" -> 3L, "lower" -> 1L, "be" -> 2L))
    // pairs: lo 3+1, ow 3+1, we 1, er 1, be 2
    val pc = Subwords.bpePairCounts(
        Subwords.bpeWordFrequencies(d, "text", "doc_id"), k = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1))
    assert(pc.toMap == Map("lo" -> 4L, "ow" -> 4L, "be" -> 2L, "we" -> 1L, "er" -> 1L))
    // deterministic order: count desc, then pair asc
    assert(pc.map(_._1).toSeq == Seq("lo", "ow", "be", "er", "we"))
    // single-char words contribute nothing (and don't crash the sequence)
    val one = Subwords.bpePairCounts(
      Seq(("a", 5L)).toDF("word", "freq"), k = 10).count()
    assert(one == 0L)
  }

  test("bpeTrain: deterministic merges on the classic corpus") {
    // Sennrich-style toy vocab. Round 1: "lo"+"ow" tie broken by pair text?
    // counts: (l,o)=7+3=... compute: low x5, lower x2, newest x6, widest x3
    val wf = Seq(("low", 5L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
    val merges = Subwords.bpeTrain(wf, numMerges = 4)
    // pair counts round 1: (e,s)=9, (s,t)=9, (l,o)=7, (o,w)=7, (w,e)=8? -
    // (w,e): lower 2 + newest 6 = 8; (n,e)=6, (e,w)=6, (w,i)=3, (i,d)=3,
    // (d,e)=3, (e,r)=2. Max 9 tie (e,s)/(s,t) -> (e,s) by text order.
    assert(merges.head == ("e", "s"))
    // round 2: "es"+"t" now 9, wins.
    assert(merges(1) == ("es", "t"))
    // merges apply left-to-right without overlap: "aaa" with (a,a) -> ["aa","a"]
    val m2 = Subwords.bpeTrain(Seq(("aaa", 1L)), numMerges = 10)
    assert(m2.head == ("a", "a") && m2(1) == ("aa", "a"))
    // stops early when no pairs remain (single symbol left)
    assert(m2.length == 2)
  }

  test("BPE vocab cap: bounded model, deterministic cut, char fallback for OOV") {
    // the family's only driver collect is the capped vocabulary — its
    // row count respects the cap by construction
    assert(Subwords.vocab(docs, "text", "doc_id", 12).length == 12)
    assert(Subwords.vocab(docs, "text", "doc_id", 1000000).length ==
      Subwords.bpeWordFrequencies(docs, "text", "doc_id").count())
    // the cut is exactly top-K by (freq DESC, word)
    val all = Subwords.bpeWordFrequencies(docs, "text", "doc_id")
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy { case (w, f) => (-f, w) }
    assert(Subwords.vocab(docs, "text", "doc_id", 12) == all.take(12).toSeq)
    // hand-computed capped tokenization: cap=1 keeps only the most
    // frequent word (aa/bb tie at 2 broken by word text); OOV words
    // fall back to one token per char, and still count in n_words
    val tiny = Seq((1L, "aa bb aa"), (2L, "bb lower")).toDF("doc_id", "text")
    val m = Subwords.Bpe(Seq("l" -> "o", "w" -> "e"))
    val out = Subwords.tokenize(tiny, "text", "doc_id", m, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    // vocab by (freq desc, word): aa(2) wins the cap. Doc 1: aa(chain:
    // 2 toks) + bb(OOV: 2 chars) + aa(2) = 6 over 3 words. Doc 2:
    // bb(OOV 2) + lower(OOV 5 chars) = 7 over 2 words.
    assert(out == Seq((1L, 3L, 6L), (2L, 2L, 7L)))
    // trained path under a cap: merge statistics come from capped vocab
    // only; uncapped ≡ the historical behavior on this small corpus
    // (trained in place: the model segments the copy it was trained on)
    def trained(d: DataFrame, numMerges: Int, cap: Int): DataFrame = {
      val wf = Subwords.vocab(d, "text", "doc_id", cap)
      Subwords.tokenize(d, "text", "doc_id", Subwords.Bpe(Subwords.bpeTrain(wf, numMerges)),
        cap, Some(wf))
    }
    val trainedCapped = trained(tiny, numMerges = 2, cap = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    // training on {aa:2}: merges (a,a) then exhausted -> aa = 1 token;
    // OOV bb=2, lower=5
    assert(trainedCapped == Seq((1L, 3L, 4L), (2L, 2L, 7L)))
    // real corpus, generous cap ≡ uncapped trained result
    val a = trained(docs, 8, Subwords.DefaultBpeVocabCap).orderBy("id").collect().toSeq
    val b = trained(docs, 8, 1000000).orderBy("id").collect().toSeq
    assert(a == b && a.nonEmpty)
    intercept[IllegalArgumentException](Subwords.vocab(docs, "text", "doc_id", 0))
  }

  test("bpeEncode: ordered token-id streams; packTokenStream cuts fixed-length sequences") {
    val merges = Subwords.Bpe(graft.gates.Harness.X86_MERGES)
    val tiny = Seq((1L, "lower stow"), (2L, "ab lower")).toDF("doc_id", "text")
    val enc = Subwords.encode(tiny, "text", "doc_id", merges)
    val rows = enc.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3), r.getLong(4)))
      .sortBy(t => (t._1, t._2, t._3)).toSeq
    // lower -> [low, er], stow -> [st, ow], ab (no merge) -> [a, b];
    // token vocab sorted: a b er low ow st -> ids 1..6
    assert(rows == Seq(
      (1L, 0, 0, "low", 4L), (1L, 0, 1, "er", 3L),
      (1L, 1, 0, "st", 6L), (1L, 1, 1, "ow", 5L),
      (2L, 0, 0, "a", 1L), (2L, 0, 1, "b", 2L),
      (2L, 1, 0, "low", 4L), (2L, 1, 1, "er", 3L)), rows.toString)
    // encode token counts agree with tokenize's
    val encCounts = enc.groupBy("id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    Subwords.tokenize(tiny, "text", "doc_id", merges, Int.MaxValue).collect()
      .foreach(r => assert(encCounts(r.getLong(0)) == r.getLong(2)))
    // capped encode: OOV words stream one token per char, in order
    val capped = Subwords.encode(tiny, "text", "doc_id", merges,
        cap = 1) // keeps only "lower" (freq 2)
      .where(col("id") === 2L && col("wpos") === 0)
      .orderBy("tpos").collect().map(_.getString(3)).toSeq
    assert(capped == Seq("a", "b"))
    // pack at seqLen=3, one shard: stream order (id, wpos, tpos) =
    // low er st ow a b low er -> seqs [4,3,6], [5,1,2], [4,3]
    val packed = Curation.packTokenStream(enc, seqLen = 3, shard = lit(0L))
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(4)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(packed == Seq(
      (0L, 0L, 4L), (0L, 1L, 3L), (0L, 2L, 6L),
      (1L, 0L, 5L), (1L, 1L, 1L), (1L, 2L, 2L),
      (2L, 0L, 4L), (2L, 1L, 3L)), packed.toString)
    intercept[IllegalArgumentException](
      Curation.packTokenStream(enc, seqLen = 0, shard = lit(0L)))
  }

  test("packTokenStreamAuto: shard count tracks the corpus; totals invariant at any shard count (r11)") {
    val merges = Subwords.Bpe(graft.gates.Harness.X86_MERGES)
    val d = docs.limit(200)
    val enc = Subwords.encode(d, "text", "doc_id", merges, 12).localCheckpoint()
    val total = enc.count()
    def packedTotals(df: org.apache.spark.sql.DataFrame): (Long, Map[Long, Long]) =
      (df.count(), df.groupBy("id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap)
    // auto sizing: ceil(total / target) shards, every token addressed
    val target = math.max(1L, total / 5)
    val auto = Curation.packTokenStreamAuto(enc, seqLen = 64, target)
    val expShards = (total + target - 1) / target
    assert(auto.select("shard").distinct().count() <= expShards)
    assert(auto.select(max(col("shard")).cast("long")).head().getLong(0)
      < expShards)
    // per-doc token counts are invariant: sharding moves tokens between
    // windows, never drops or duplicates them
    val (nAuto, byDocAuto) = packedTotals(auto)
    val (nFixed, byDocFixed) = packedTotals(
      Curation.packTokenStream(enc, seqLen = 64,
        shard = pmod(xxhash64(col("id")), lit(3L))))
    assert(nAuto == total && nFixed == total && byDocAuto == byDocFixed)
    // every sequence holds ≤ seqLen tokens with dense offsets
    val bad = auto.groupBy("shard", "seq_id")
      .agg(count(lit(1)).as("n"), max(col("offset")).as("mx"))
      .where(col("n") > 64 || col("mx") =!= col("n") - 1)
    assert(bad.isEmpty)
    // upstream estimate path: same plan, no count() scan
    val viaEst = Curation.packTokenStreamAuto(enc, seqLen = 64, target,
      estimatedTokens = Some(total))
    assert(viaEst.count() == total)
    intercept[IllegalArgumentException](
      Curation.packTokenStreamAuto(enc, seqLen = 64, 0L))
  }

  test("bpeEncode: the dense-id window input is cap-bounded (default = DefaultBpeVocabCap, r11)") {
    val merges = Subwords.Bpe(Seq(("e", "r")))
    // many distinct OOV words, cap 2: the emitted token vocabulary may
    // contain multi-char tokens ONLY from the in-cap words ("person",
    // "wower" — both emit "er") — every OOV word streams single chars.
    // The row_number window therefore sees at most cap·maxWordLen +
    // |alphabet| distinct tokens no matter how many distinct words the
    // corpus holds — the scale contract the default cap now enforces.
    val wide = (1L to 60L)
      .map(i => (i, s"wower person w${"x" * (i % 7).toInt}q person"))
      .toDF("doc_id", "text")
    val cap = 2
    val enc = Subwords.encode(wide, "text", "doc_id", merges, cap)
    val toks = enc.select("token").distinct().collect().map(_.getString(0))
    val multi = toks.filter(_.length > 1).toSet
    assert(toks.length <= cap * 16 + 26, s"${toks.length} distinct tokens")
    // in-cap chains: person -> p er s o n; wower -> w o w er; every OOV
    // w…xq word must have fallen back to chars, contributing none
    assert(multi == Set("er"), multi.toString)
    // the default cap IS DefaultBpeVocabCap: default-call ≡ explicit call
    val tiny = Seq((1L, "lower stow"), (2L, "ab lower")).toDF("doc_id", "text")
    val viaDefault = Subwords.encode(tiny, "text", "doc_id", merges)
      .orderBy("id", "wpos", "tpos").collect().map(_.toSeq).toSeq
    val viaExplicit = Subwords.encode(tiny, "text", "doc_id", merges,
        Subwords.DefaultBpeVocabCap)
      .orderBy("id", "wpos", "tpos").collect().map(_.toSeq).toSeq
    assert(viaDefault == viaExplicit && viaDefault.nonEmpty)
  }

  test("subword tokenizers: per-doc counts equal the token stream for every model shape") {
    val d = Seq(
      (1L, "The lower stow, aaa aab!"),
      (2L, "banana bandana ERR"),
      (3L, "12345 !!!"), // no [a-z] word: absent from both surfaces
      (4L, "zzz aa a ab lower lower")).toDF("doc_id", "text")
    val unigram = Subwords.Unigram(
      Subwords.unigramTrain(Subwords.vocab(d, "text", "doc_id"), vocabSize = 16, iters = 2))
    val models = Seq(
      "distinct-pair BPE" -> Subwords.Bpe(graft.gates.Harness.X86_MERGES),
      "same-symbol BPE" -> Subwords.Bpe(Seq("a" -> "a", "e" -> "r")),
      "trained unigram" -> unigram)
    // cap 4 sends most words to the char fallback; the default keeps all
    for ((name, m) <- models; cap <- Seq(4, Subwords.DefaultBpeVocabCap)) {
      val counts = Subwords.tokenize(d, "text", "doc_id", m, cap).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      val stream = Subwords.encode(d, "text", "doc_id", m, cap)
        .groupBy("id").agg(countDistinct(col("wpos")), count(lit(1))).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
      assert(counts == stream, s"$name, cap $cap")
      assert(counts.keySet == Set(1L, 2L, 4L), s"$name, cap $cap")
    }
  }

  test("bpeSpacedApply replace chain ≡ reference BPE segmentation on the corpus vocabulary") {
    val merges = graft.gates.Harness.X86_MERGES
    // every distinct word of the real corpus: chain token count must
    // equal the driver reference tokenizer's, word by word
    val chain = Subwords.segmentation(docs, "text", "doc_id", Subwords.Bpe(merges), Int.MaxValue)
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toVector)
    assert(chain.nonEmpty)
    chain.foreach { case (w, toks) =>
      val ref = Subwords.bpeSegment(w, merges)
      assert(ref == toks, s"word `$w`: chain ${toks.mkString("|")} vs reference ${ref.mkString("|")}")
    }
    // the tokens themselves (not just counts) on adversarial words:
    // alternating runs (the pass-2 case), nested second-order merges
    val hard = Seq("ererer", "erererer", "lowerg", "merger", "ininin",
      "stowst", "mmerer", "glowing").toDF("word")
    hard.select(col("word"),
        trim(Subwords.bpeSpacedApply(col("word"), merges)).as("s"))
      .collect().foreach { r =>
        val w = r.getString(0)
        assert(r.getString(1).split(" ").toVector == Subwords.bpeSegment(w, merges),
          s"tokens diverge on `$w`: got `${r.getString(1)}`")
      }
    // same-symbol merges are rejected eagerly (the chain would be wrong)
    val err = intercept[IllegalArgumentException] {
      Subwords.bpeSpacedApply(col("word"), Seq("a" -> "a"))
    }
    assert(err.getMessage.contains("same-symbol"))
    // tokenize end-to-end, hand-computed: "lower" -> [low, er] (the
    // (l,ow) merge needs (o,w)'s output), "stow" -> [st, ow]
    val out = Subwords.tokenize(
      Seq((1L, "lower stow")).toDF("doc_id", "text"), "text", "doc_id", Subwords.Bpe(merges))
      .collect().head
    assert(out.getLong(1) == 2L && out.getLong(2) == 4L)
  }

  test("exciseSharedSpans: hand-computed intervals, overlap merge, short docs untouched") {
    // shared 3-gram "a b c" in docs 1,2; doc 3 has the OVERLAPPING hot
    // spans "a b c" (pos 2) and "b c a" (pos 3, shared with doc 4) —
    // covered words merge into one interval [2..5]
    val d = Seq(
      (1L, "x a b c y"),
      (2L, "a b c z z z"),
      (3L, "q a b c a w"),
      (4L, "b c a m m"),
      (5L, "ab"),           // shorter than span: untouched
      (6L, "   ")           // blank: zero words, untouched
    ).toDF("doc_id", "text")
    val out = Dedup.exciseSharedSpans(d, "text", "doc_id", spanWords = 3, minDocFreq = 2L)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((5L, 3L, "x y")))
    assert(out(2L) == ((6L, 3L, "z z z")))
    assert(out(3L) == ((6L, 4L, "q w")))      // [2..4] ∪ [3..5] merged
    assert(out(4L) == ((5L, 3L, "m m")))
    assert(out(5L) == ((1L, 0L, "ab")))
    assert(out(6L) == ((0L, 0L, "")))
    // minDocFreq=3: "a b c" is in 3 docs, "b c a" only 2 -> only abc cut
    val strict = Dedup.exciseSharedSpans(d, "text", "doc_id", spanWords = 3, minDocFreq = 3L)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(strict(3L) == "q a w" && strict(4L) == "b c a m m")
    // guards: span of 1 and freq of 1 are programmer errors
    intercept[IllegalArgumentException](
      Dedup.exciseSharedSpans(d, "text", "doc_id", spanWords = 1))
    intercept[IllegalArgumentException](
      Dedup.exciseSharedSpans(d, "text", "doc_id", minDocFreq = 1L))
    // real corpus: removing words never increases; idempotent-ish sanity
    val corpus = Dedup.exciseSharedSpans(docs, "text", "doc_id", 8, 2L)
    val agg = corpus.agg(sum("n_removed"), sum("n_words")).head()
    assert(agg.getLong(0) >= 0L && agg.getLong(0) < agg.getLong(1))
  }

  test("applySpanExcision with hotSpans ≡ exciseSharedSpans, row for row") {
    val d = Seq(
      (1L, "x a b c y"), (2L, "a b c z z z"), (3L, "q a b c a w"),
      (4L, "b c a m m"), (5L, "ab"), (6L, "   ")
    ).toDF("doc_id", "text")
    val hot = Dedup.hotSpans(d, "text", "doc_id", spanWords = 3, minDocFreq = 2L)
    // the model is the two shared grams
    assert(hot.count() == 2L)
    val applied = Dedup.applySpanExcision(d, "text", "doc_id", hot, spanWords = 3)
    val batch = Dedup.exciseSharedSpans(d, "text", "doc_id", spanWords = 3, minDocFreq = 2L)
    assert(applied.exceptAll(batch).isEmpty && batch.exceptAll(applied).isEmpty)
    // empty hot model: everything passes through verbatim
    val none = Dedup.applySpanExcision(d, "text", "doc_id",
      hot.where(lit(false)), spanWords = 3)
    assert(none.agg(sum("n_removed")).head().getLong(0) == 0L)
    // real corpus parity (the x88 gate's property at unit scale)
    val ch = Dedup.hotSpans(docs, "text", "doc_id", 8, 2L)
    val ca = Dedup.applySpanExcision(docs, "text", "doc_id", ch, 8)
    val cb = Dedup.exciseSharedSpans(docs, "text", "doc_id", 8, 2L)
    assert(ca.exceptAll(cb).isEmpty && cb.exceptAll(ca).isEmpty)
  }

  test("gopherFilter: subset predicate agrees with gopherFlags, preserves rows") {
    import graft.operators.QualityFilters
    val good = (("the be to of and that have with " +
      "plain sensible words continue here ") * 5).trim
    val d = Seq(
      (1L, good, "keepme"),
      (2L, "too short", "x"),
      (3L, Seq.fill(60)("a").mkString(" "), "y")
    ).toDF("doc_id", "text", "extra")
    val out = QualityFilters.gopherFilter(d, "text", Seq("wc_ok", "mwl_ok"))
    // passes exactly the rows whose wc_ok AND mwl_ok flags are 1
    val expected = QualityFilters.gopherFlags(d, "text", "doc_id")
      .where(col("wc_ok") === 1 && col("mwl_ok") === 1)
      .collect().map(_.getLong(0)).toSet
    assert(out.collect().map(_.getLong(0)).toSet == expected)
    // input schema/columns untouched (pipeline chaining shape)
    assert(out.columns.toSeq == Seq("doc_id", "text", "extra"))
    assert(out.where(col("doc_id") === 1L).head().getString(2) == "keepme")
    // unknown flag name is an eager error naming the valid set
    val err = intercept[IllegalArgumentException] {
      QualityFilters.gopherFilter(d, "text", Seq("nope_ok"))
    }
    assert(err.getMessage.contains("nope_ok") && err.getMessage.contains("wc_ok"))
  }

  test("compressionRatio: repetitive text deflates below prose; exact bytes; deterministic (r11)") {
    import spark.implicits._
    val prose = "The five boxing wizards jump quickly over the lazy dog while " +
      "sixty jovial zebras watch from a quartz balcony in June."
    val d = Seq(
      (1L, prose),
      (2L, Seq.fill(40)("spam spam spam").mkString(" ")), // highly repetitive
      (3L, ""),                                           // empty: ratio 1.0 by convention
      (4L, prose + prose)                                 // doubled prose
    ).toDF("doc_id", "text")
    val out = TextAnalysis.compressionRatio(d, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    // exact UTF-8 byte counts
    assert(out(1L)._1 == prose.getBytes("UTF-8").length.toLong)
    assert(out(4L)._1 == 2L * prose.getBytes("UTF-8").length)
    // repetitive text compresses far better than prose
    assert(out(2L)._3 < out(1L)._3 * 0.5, s"repetitive not compressed: $out")
    // doubling adds redundancy: deflated(2x) < 2 * deflated(1x)
    assert(out(4L)._2 < 2L * out(1L)._2)
    // empty-doc convention
    assert(out(3L) == ((0L, 0L, 1.0)))
    // deterministic replay: a second run is byte-identical
    val again = TextAnalysis.compressionRatio(d, "text", "doc_id")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(again == out)
  }
}
