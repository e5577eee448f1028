package graft

import graft.operators.Subwords
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Unigram-LM tokenizer (r13): the EM fixed point, Viterbi tie-break
  * order, and floor semantics are pinned against HAND-COMPUTED values on
  * a corpus small enough to EM by hand; the x123/x124 driver gates prove
  * the corpus-scale round trip against DuckDB. */
class UnigramSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("unigramTrain reaches the hand-computed fixed point on {abab x10, ab x5}") {
    // seed (maxPieceLen 3): a:25 b:25 ab:25 ba:10 aba:10 bab:10, total 105.
    // Viterbi iter 1: 'abab' -> ab+ab (2*ln(25/105) beats aba+b and chars),
    // 'ab' -> ab. Counts: ab = 2*10 + 5 = 25, everything else 0 ->
    // ln(25/25) = 0.0 for 'ab'; a/b survive at the char floor; ba/aba/bab
    // drop. Iter 2 is the fixed point.
    val model = Subwords.unigramTrain(
      Seq(("abab", 10L), ("ab", 5L)), vocabSize = 10, iters = 2, maxPieceLen = 3)
    assert(model === Seq(
      ("ab", 0.0),
      ("a", Subwords.UnigramFloorLogProb),
      ("b", Subwords.UnigramFloorLogProb)))
    // deterministic: a second train is identical
    val again = Subwords.unigramTrain(
      Seq(("abab", 10L), ("ab", 5L)), vocabSize = 10, iters = 2, maxPieceLen = 3)
    assert(again === model)
  }

  test("unigramSegment: Viterbi optimum, OOV char floor, tie-break order") {
    val m = Map("ab" -> 0.0, "a" -> -20.0, "b" -> -20.0)
    assert(Subwords.unigramSegment("abab", m) === Vector("ab", "ab"))
    // OOV char 'x' segments as itself at the floor; surrounding pieces
    // still take the high-probability split
    assert(Subwords.unigramSegment("abaxb", m) === Vector("ab", "a", "x", "b"))
    assert(Subwords.unigramSegment("", m) === Vector.empty)
    // equal score, equal piece count -> the LONGER LAST piece wins
    // (ascending-j scan keeps the earlier split): 'aaa' under
    // {aa: -1.0, a: -0.5} scores -1.5 for both a+aa and aa+a
    val t = Map("aa" -> -1.0, "a" -> -0.5)
    assert(Subwords.unigramSegment("aaa", t) === Vector("a", "aa"))
    // fewer pieces beats more pieces at equal score: 'aa' as one piece
    // (-1.0) vs a+a (-1.0)
    assert(Subwords.unigramSegment("aa", t) === Vector("aa"))
    // concatenation identity on arbitrary input (totality)
    Seq("hello", "zzz", "q", "mixedcase").foreach { w =>
      assert(Subwords.unigramSegment(w, m).mkString === w)
    }
  }

  test("tokenizeUnigramTrained: per-doc counts respect word/letter bounds") {
    val docs = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "aaa bbb aaa"),
      (3L, "one-word"),
      (4L, "!!!")) // no [a-z] words: absent from output
      .toDF("doc_id", "text")
    val wf = Subwords.vocab(docs, "text", "doc_id")
    val out = Subwords.tokenize(docs, "text", "doc_id",
        Subwords.Unigram(Subwords.unigramTrain(wf, vocabSize = 64, iters = 2)), trainedOn = Some(wf))
      .orderBy("id").collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    out.foreach { r =>
      val (nw, nt) = (r.getLong(1), r.getLong(2))
      assert(nt >= nw && nw > 0, r.toString)
    }
    val r1 = out.find(_.getLong(0) == 1L).get
    assert(r1.getLong(1) === 6L) // n_words recomputable by hand
  }

  test("unigramEncode round-trips through bpeDecode on a tiny corpus") {
    val docs = Seq(
      (1L, "The banana and the bandana!"),
      (2L, "ba na na")).toDF("doc_id", "text")
    val wf = Subwords.vocab(docs, "text", "doc_id", 100)
    val model = Subwords.Unigram(Subwords.unigramTrain(wf, vocabSize = 32, iters = 2))
    val decoded = Subwords.bpeDecode(Subwords.encode(docs, "text", "doc_id", model))
      .orderBy("id").collect().map(r => (r.getLong(0), r.getString(1)))
    assert(decoded.toSeq === Seq(
      (1L, "the banana and the bandana"),
      (2L, "ba na na")))
  }

  test("model artifact: save -> load round-trips exactly; create model + apply by name") {
    val dir = java.nio.file.Files.createTempDirectory("unigram_model_").toString
    val path = s"$dir/vocab.tsv"
    val g = TestSpark.session
    val docs = g.catalog.relation("documents")
    val trained = Subwords.Unigram(
      Subwords.unigramTrain(Subwords.vocab(docs, "text", "doc_id"), vocabSize = 128, iters = 2))
    trained.save(spark, path)
    // 6-dp text round-trip is exact (both directions correctly rounded)
    assert(Subwords.Unigram.load(spark, path) === trained)
    val g2 = new GraftSession(spark).registerDir(TestSpark.sf)
    g2.sql(s"create model uni13 kind 'unigram' at '$path'")
    val byName = g2.sql(
      "select id, n_words, n_tokens from unigram_tokenize(documents, 'uni13') " +
      "where id < 20 order by id").collect()
    val inPlace = g2.sql(
      "select id, n_words, n_tokens from unigram_tokenize(documents, 128, 2) " +
      "where id < 20 order by id").collect()
    assert(byName.nonEmpty && byName.map(_.toSeq).toSeq === inPlace.map(_.toSeq).toSeq)
    // kind mismatch is a loud analysis error
    val e = intercept[graft.translate.GraftAnalysisException](
      g2.sql("select * from bpe_tokenize(documents, 'uni13')"))
    assert(e.getMessage.contains("expected 'bpe'"), e.getMessage)
    // a torn artifact is rejected at CREATE time
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/torn.tsv"),
      "no-tabs-here".getBytes("UTF-8"))
    val e2 = intercept[graft.translate.GraftAnalysisException](
      g2.sql(s"create model broken kind 'unigram' at '$dir/torn.tsv'"))
    assert(e2.getMessage.contains("unigram vocab"), e2.getMessage)
  }

  test("nested table functions: encode-by-name feeds bpe_decode in one statement") {
    val dir = java.nio.file.Files.createTempDirectory("unigram_nest_").toString
    val g = new GraftSession(spark).registerDir(TestSpark.sf)
    Subwords.Unigram(Subwords.unigramTrain(Subwords.vocab(g.catalog.relation("documents"),
      "text", "doc_id"), vocabSize = 128, iters = 2)).save(spark, s"$dir/v.tsv")
    g.sql(s"create model uninest kind 'unigram' at '$dir/v.tsv'")
    val out = g.sql("select id, text_detok from " +
      "bpe_decode(unigram_encode(documents, 'uninest')) where id < 5 order by id")
      .collect()
    assert(out.nonEmpty && out.forall(_.getString(1).nonEmpty))
    // the round trip is the raw-text word normalization
    val want = g.catalog.relation("documents").where(col("doc_id") < 5)
      .select(col("doc_id"),
        array_join(filter(split(lower(col("text")), "[^a-z]+"), w => w =!= ""), " "))
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    out.foreach(r => assert(r.getString(1) === want(r.getLong(0))))
    // unknown inner function stays a loud analysis error
    val e = intercept[graft.translate.GraftAnalysisException](
      g.sql("select * from bpe_decode(no_such_fn(documents))"))
    assert(e.getMessage.contains("no_such_fn"), e.getMessage)
  }

  test("SQL surface: unigram_tokenize arity and argument guards") {
    val g = TestSpark.session
    val rows = g.sql(
      "select id, n_words, n_tokens from unigram_tokenize(documents, 128, 2) " +
      "where id < 5 order by id").collect()
    assert(rows.nonEmpty && rows.forall(r => r.getLong(2) >= r.getLong(1)))
    intercept[graft.translate.GraftAnalysisException](
      g.sql("select * from unigram_tokenize(documents, 0)"))
    intercept[graft.translate.GraftAnalysisException](
      g.sql("select * from unigram_tokenize(nation, 64)"))
  }
}
