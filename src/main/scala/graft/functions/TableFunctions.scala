package graft.functions

import graft.catalog.{Catalog, ModelKind, TfArg}
import graft.operators._
import graft.translate.GraftAnalysisException
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** The built-in relation-valued table functions: the SQL surface for the
  * pipeline operators (`select * from gopher_flags(documents) where keep
  * = 1`), composable like any FROM source. One declared signature per
  * function — name, arity and body — in the manner of the reference's
  * signature table (`flinkdsl/typesigdsl.scala_:9-65`).
  *
  * Conventions: document-corpus functions expect `text` + `doc_id`
  * columns, vector functions `embedding` + `vec_id`; numeric parameters
  * are literal arguments with defaults. A model argument names a
  * registered model first and a literal artifact path second
  * ([[graft.catalog.ModelKind]]). Every argument error is an eager
  * [[GraftAnalysisException]] that starts with the function's name. */
object TableFunctions {

  /** The arguments of one call, read by 0-based position. */
  final class Args private[TableFunctions] (fn: String, args: Seq[TfArg],
      val spark: SparkSession, catalog: Catalog) {
    def length: Int = args.length
    def fail(msg: String): Nothing = throw new GraftAnalysisException(s"$fn: $msg")
    private def bad(i: Int, what: String): Nothing =
      fail(s"argument ${i + 1} must be $what" + args.lift(i).fold("")(a => s", got $a"))

    def rel(i: Int): DataFrame = args.lift(i) match {
      case Some(TfArg.Rel(_, df)) => df
      case _ => bad(i, "a relation name")
    }
    /** `rel(i)` with every column of `cols` checked now, so a missing one
      * names the convention (`why`) instead of surfacing as an unresolved
      * column at action time. */
    def rel(i: Int, cols: Seq[String], why: String): DataFrame = {
      val df = rel(i)
      cols.find(c => !df.columns.exists(_.equalsIgnoreCase(c))).foreach { c =>
        fail(s"input relation must have a `$c` column ($why); " +
          s"found columns: ${df.columns.mkString(", ")}")
      }
      df
    }
    def lit(i: Int): Any = args.lift(i) match {
      case Some(TfArg.Lit(v)) => v
      case _ => bad(i, "a literal")
    }
    def long(i: Int, default: Long): Long = args.lift(i) match {
      case None => default
      case Some(TfArg.Lit(v: Long)) => v
      case _ => bad(i, "an integer literal")
    }
    def int(i: Int, default: Long): Int = long(i, default).toInt
    def posInt(i: Int, default: Long, what: String): Int = {
      val v = int(i, default)
      if (v <= 0) fail(s"$what must be positive, got $v")
      v
    }
    def str(i: Int): String = args.lift(i) match {
      case Some(TfArg.Lit(v: String)) => v
      case _ => bad(i, "a string literal")
    }
    def strOr(i: Int, default: String): String = if (length > i) str(i) else default
    def dbl(i: Int): Double = args.lift(i) match {
      case Some(TfArg.Lit(v: Double)) => v
      case Some(TfArg.Lit(v: Long)) => v.toDouble
      case _ => bad(i, "a numeric literal")
    }
    def dblOr(i: Int, default: Double): Double = if (length > i) dbl(i) else default

    /** The artifact of model kind `k` named by string argument `i`, if
      * that names a registered model. */
    def registered[A](i: Int, k: ModelKind[A]): Option[A] =
      k.registered(spark, catalog, str(i))(fail)
    /** The artifact of model kind `k` named by string argument `i`: a
      * registered model first, a literal artifact path second. */
    def model[A](i: Int, k: ModelKind[A]): A = registered(i, k).getOrElse {
      val ref = str(i)
      try k.load(spark, ref)
      catch { case e: Exception =>
        fail(s"'$ref' is neither a registered ${k.kind} model (known: " +
          s"${catalog.modelNames.mkString(", ")}) nor ${k.what} (${e.getMessage})")
      }
    }
  }

  /** One built-in: `name` takes `min` to `max` arguments. */
  final case class Fn(name: String, min: Int, max: Int)(body: Args => DataFrame) {
    def apply(spark: SparkSession, catalog: Catalog, args: Seq[TfArg]): DataFrame = {
      if (args.length < min || args.length > max)
        throw new GraftAnalysisException(s"$name takes $min-$max arguments, got ${args.length}")
      body(new Args(name, args, spark, catalog))
    }
  }

  /** Registers every built-in in `catalog`. */
  def install(spark: SparkSession, catalog: Catalog): Unit =
    all.foreach(f => catalog.registerTableFunction(f.name, args => f(spark, catalog, args)))

  private val Docs = Seq("text", "doc_id")
  private val DocsWhy = "input relation must follow the documents convention"
  private val MediaWhy = "media relation must have (media_id, payload) columns " +
    "(or pass payload/id column names as arguments 2 and 3)"
  private val UrlWhy = "input relation must have (doc_id, url) columns " +
    "(or pass url/id column names as arguments 2 and 3)"

  /** `(rel[, valueCol[, idCol]])`: the relation, checked for both columns,
    * and the two names. */
  private def withCols(a: Args, value: String, id: String,
                       why: String): (DataFrame, String, String) = {
    val (v, i) = (a.strOr(1, value), a.strOr(2, id))
    (a.rel(0, Seq(i, v), why), v, i)
  }

  /** A literal merge list, `'e r,i n,m er'`: comma-separated symbol pairs. */
  private def merges(a: Args, list: String): Subwords.Bpe =
    Subwords.Bpe(list.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { p =>
      p.split("\\s+") match {
        case Array(x, y) => (x, y)
        case _ => a.fail(s"each merge must be two space-separated symbols, got " +
          s"`$p` (format: 'e r,i n,m er', or a registered model name)")
      }
    })

  /** The registered unigram model that argument 2 names; otherwise
    * "argument 2 must be <alt>a registered unigram model name". */
  private def unigramModel(a: Args, alt: String): Subwords.Unigram = (a.lit(1) match {
    case _: String => a.registered(1, ModelKind.Unigram)
    case _ => None
  }).getOrElse(a.fail(s"argument 2 must be ${alt}a registered unigram model name, got ${a.lit(1)}"))

  /** Tokenize `r` with a model trained in place on the driver copy of its
    * capped vocabulary, segmenting that same copy. */
  private def trainedTokenize(r: DataFrame, cap: Int)(
      train: Seq[(String, Long)] => Subwords.Model): DataFrame = {
    val wf = Subwords.vocab(r, "text", "doc_id", cap)
    Subwords.tokenize(r, "text", "doc_id", train(wf), cap, Some(wf))
  }

  /** ANN serving, `fn(queries, 'model'|'dir', k[, …])` over a persisted
    * [[IvfIndex]] layout: (queries, layout dir, k). `k` is checked before
    * the model resolves, which may read the layout. */
  private def annArgs(a: Args, kind: String): (DataFrame, String, Int) = {
    val k = a.posInt(2, 8, "k")
    (a.rel(0, Seq("vec_id", "embedding"), "query relation must follow the embeddings convention"),
      a.model(1, ModelKind.ann(kind)), k)
  }

  /** `fn(queries, 'model'|'dir', k[, nprobe[, shortlist]])` over an IVF
    * layout of `kind`, with `nprobe` checked before the layout is read;
    * only a PQ codec reads the shortlist, raised to at least k. */
  private def ivfServe(a: Args, kind: String): DataFrame = {
    val nprobe = a.posInt(3, 4, "nprobe")
    val (q, dir, k) = annArgs(a, kind)
    IvfIndex.topK(a.spark, dir, q, k, nprobe = nprobe,
      shortlist = math.max(a.int(4, math.max(50L, k)), k))
  }

  val all: Seq[Fn] = Seq(
    Fn("gopher_flags", 1, 1)(a => QualityFilters.gopherFlags(a.rel(0), "text", "doc_id")),
    Fn("c4_lines", 1, 2)(a =>
      QualityFilters.c4LineFilter(a.rel(0), "text", "doc_id", minLineWords = a.int(1, 3))),
    Fn("dup_line_stats", 1, 1)(a => QualityFilters.dupLineStats(a.rel(0), "text", "doc_id")),
    // quality_classifier(rel[, 'model']) — hashed-bag-of-words linear
    // scoring: built-in weight arithmetic, or a 'linear' (bucket, weight)
    // model through the same codegen plumbing
    Fn("quality_classifier", 1, 2) { a =>
      val r = a.rel(0)
      if (a.length == 1) TextAnalysis.hashedLinearScore(r, "text", "doc_id")
      else TextAnalysis.hashedLinearScoreModel(r, "text", "doc_id", a.model(1, ModelKind.Linear))
    },
    Fn("compression_ratio", 1, 1)(a => TextAnalysis.compressionRatio(a.rel(0), "text", "doc_id")),
    // image_phash(rel[, payloadCol[, idCol]]) — perceptual dHash over a
    // binary image column
    Fn("image_phash", 1, 3) { a =>
      val (media, payload, id) = withCols(a, "payload", "media_id", MediaWhy)
      Multimodal.dHash(media, payload, id)
    },
    // hamming_pairs(rel[, maxHamming]) — banded near-dup candidate pairs
    // over a precomputed 64-bit signature relation (id, sh)
    Fn("hamming_pairs", 1, 2)(a => Dedup.hammingCandidatesFromSig(
      a.rel(0, Seq("id", "sh"), "signature relation must have (id, sh) columns"),
      maxHamming = a.int(1, 3))),
    // audio_fingerprint(rel[, payloadCol[, idCol]]) — volume-invariant
    // energy-envelope fingerprint over a binary WAV column; its (id, afp,
    // ok) feeds hamming_pairs via afp AS sh
    Fn("audio_fingerprint", 1, 3) { a =>
      val (media, payload, id) = withCols(a, "payload", "media_id", MediaWhy)
      Multimodal.audioFingerprint(media, payload, id)
    },
    // audio_stats(rel) — sample-level WAV silence / clipping / energy
    Fn("audio_stats", 1, 1)(a => Multimodal.audioStats(a.rel(0, Seq("media_id", "payload", "mime"),
      "media relation must have (media_id, payload, mime) columns")).toDF()),
    // pii_redact(rel) — per-document PII counts + redacted text
    Fn("pii_redact", 1, 1)(a =>
      TextAnalysis.piiStats(a.rel(0, Docs, DocsWhy), "text", "doc_id")),
    // warc_responses(rel) — WARC payloads ((warc_file, payload) rows, gzip
    // auto-detected) to well-formed HTTP responses (record_id, url,
    // warc_date, status, mime, text, n_bytes)
    Fn("warc_responses", 1, 1)(a => WebArchive.responses(a.rel(0, Seq("warc_file", "payload"),
      "input relation must have (warc_file, payload) columns"))),
    // warc_scan(files[, targetBytes]) — the same over file PATHS, each
    // file split at record-aligned gzip member boundaries every
    // ~targetBytes; the index scan runs at translation (it sizes the task
    // spread)
    Fn("warc_scan", 1, 2)(a => WebArchive.responsesSplit(
      a.rel(0, Seq("path"), "input relation must list WARC file paths in a `path` column"),
      targetBytes = a.long(1, 8L << 20))),
    // url_normalize(rel[, urlCol[, idCol]]) — (id, url_norm, host, domain)
    Fn("url_normalize", 1, 3) { a =>
      val (r, url, id) = withCols(a, "url", "doc_id", UrlWhy)
      UrlCuration.normalize(r, url, id)
    },
    // url_dedup(rel[, urlCol[, idCol]]) — the lowest-id row per canonical URL
    Fn("url_dedup", 1, 3) { a =>
      val (r, url, id) = withCols(a, "url", "doc_id", UrlWhy)
      UrlCuration.urlDedup(r, url, id)
    },
    // domain_stats(rel[, urlCol]) — pages and distinct canonical hosts per
    // registered domain
    Fn("domain_stats", 1, 2) { a =>
      val url = a.strOr(1, "url")
      UrlCuration.domainStats(a.rel(0, Seq(url),
        "input relation must have a url column (or pass its name as argument 2)"), url)
    },
    // domain_split(rel, testPercent[, urlCol]) — train/test split in which
    // no registered domain straddles the boundary
    Fn("domain_split", 2, 3) { a =>
      val url = a.strOr(2, "url")
      val r = a.rel(0, Seq(url), "input relation must have a url column (or pass its name as argument 3)")
      val pct = a.int(1, 10)
      if (pct < 0 || pct > 100) a.fail(s"test percent must be in [0,100], got $pct")
      UrlCuration.domainDisjointSplit(r, pct, url)
    },
    // int8_quantize(rel[, vecCol[, idCol]]) — per-vector symmetric int8
    // codes: (id, scale, codes array<tinyint>)
    Fn("int8_quantize", 1, 3) { a =>
      val (r, vec, id) = withCols(a, "embedding", "vec_id", "input relation must have " +
        "(vec_id, embedding) columns (or pass vector/id column names as arguments 2 and 3)")
      Similarity.quantizeInt8(r, vec, id)
    },
    // cluster_sample(rel, cap[, k]) — k-means the embeddings, keep a
    // deterministic sample of ≤ cap rows per cluster
    Fn("cluster_sample", 2, 3) { a =>
      val r = a.rel(0, Seq("vec_id", "embedding"), "input relation must have (vec_id, embedding) columns")
      Similarity.clusterBalancedSample(r, a.posInt(1, 64, "cap"), nlist = a.posInt(2, 16, "k"))
    },
    // script_stats(rel) — per-document Unicode-script counts + mojibake signals
    Fn("script_stats", 1, 1)(a =>
      TextAnalysis.scriptStats(a.rel(0, Docs, DocsWhy), "text", "doc_id")),
    // decontaminate(train, bench[, w[, minHits]]) — training rows whose
    // w-shingles do NOT overlap the benchmark set
    Fn("decontaminate", 2, 4)(a => Decontaminate.clean(
      a.rel(0, Docs, "argument 1 must follow the text/doc_id corpus convention"),
      a.rel(1, Docs, "argument 2 must follow the text/doc_id corpus convention"),
      "text", "doc_id", w = a.int(2, 8), minHits = a.int(3, 1))),
    Fn("oov_rate", 1, 2)(a => TextAnalysis.oovRate(a.rel(0), "text", "doc_id", vocabK = a.int(1, 500))),
    // approx counts depend on arrival order (the Misra-Gries contract);
    // heavy_hitters_exact recounts the candidates exactly
    Fn("heavy_hitters", 1, 2)(a =>
      Sketches.heavyHitters(a.rel(0), "text", "doc_id", k = a.posInt(1, 128, "k"))),
    Fn("heavy_hitters_exact", 1, 2)(a =>
      Sketches.heavyHittersExact(a.rel(0), "text", "doc_id", k = a.posInt(1, 128, "k"))),
    Fn("exact_dedup", 1, 1)(a => Dedup.exact(a.rel(0), Seq("text"), "doc_id")),
    // keep_best(rel, 'scoreCol') — the highest-scoring row per exact-text family
    Fn("keep_best", 2, 2) { a =>
      val score = a.str(1)
      Dedup.exactKeepBest(a.rel(0, Seq(score), "the score column"), Seq("text"), "doc_id", score)
    },
    Fn("line_dedup", 1, 2)(a => Dedup.lineDedup(a.rel(0), "text", "doc_id", minDocFreq = a.long(1, 5))),
    Fn("paragraph_dedup", 1, 2)(a =>
      Dedup.paragraphDedup(a.rel(0), "text", "doc_id", minDocFreq = a.long(1, 5))),
    // DSIR slices the corpus on a `source` column
    Fn("dsir_scores", 2, 3)(a => Importance.dsirScores(
      a.rel(0, Seq("source"), "the corpus slice the target-literal argument selects"),
      "text", "doc_id", isTarget = col("source") === a.str(1), buckets = a.int(2, 1024))),
    Fn("dsir_resample", 3, 4)(a => Importance.dsirResample(
      a.rel(0, Seq("source"), "the corpus slice the target-literal argument selects"),
      "text", "doc_id", isTarget = col("source") === a.str(1), frac = a.dbl(2),
      buckets = a.int(3, 1024))),
    // the appliers: curation models served from persisted artifacts,
    // stateless (batch or streaming). dsir_apply(rel, 'model') scores
    // bit-identically to dsir_scores on the model corpus.
    Fn("dsir_apply", 2, 2) { a =>
      val r = a.rel(0, Docs, "the documents convention the curation appliers score")
      val (model, buckets) = a.model(1, ModelKind.Dsir)
      Importance.applyDsirScore(r, "text", "doc_id", model, buckets)
    },
    // span_excise(rel, 'model'[, spanWords]) — spanWords must match the
    // value the hot set was mined with
    Fn("span_excise", 2, 3)(a => Dedup.applySpanExcision(
      a.rel(0, Docs, "the documents convention the curation appliers excise"),
      "text", "doc_id", a.model(1, ModelKind.Spans), spanWords = a.int(2, 8))),
    Fn("paragraph_apply", 2, 2)(a => Dedup.applyParagraphDedup(
      a.rel(0, Docs, "the documents convention the curation appliers dedup"),
      "text", "doc_id", a.model(1, ModelKind.Paragraphs))),
    // decontaminate_apply(rel, 'model'[, w[, minHits]]) — w must match
    // the mined shingle width
    Fn("decontaminate_apply", 2, 4)(a => Decontaminate.applyClean(
      a.rel(0, Docs, "the documents convention the curation appliers filter"),
      "text", "doc_id", a.model(1, ModelKind.Shingles), w = a.int(2, 8), minHits = a.int(3, 1))),
    // grouped_quantiles(rel, group, value, q[, buckets]) — grouped
    // quantile_cont with bounded executor state (histogram refinement),
    // for groups too large for the exact `percentile` aggregate's buffer
    Fn("grouped_quantiles", 4, 5)(a => Quantiles.groupedExactQuantiles(
      a.rel(0), a.str(1), a.str(2), Seq("q" -> a.dbl(3)), buckets = a.int(4, 4096))),
    // hard_negatives(corpus, queries, k[, ceiling[, floor]]) — per query
    // the k most-similar DIFFERENT-label vectors with 4-dp cosine in
    // [floor, ceiling)
    Fn("hard_negatives", 3, 5)(a => Similarity.hardNegatives(
      a.rel(0, Seq("vec_id", "embedding", "label"), "argument 1 must follow the embeddings corpus convention"),
      a.rel(1, Seq("vec_id", "embedding", "label"), "argument 2 must follow the embeddings corpus convention"),
      k = a.posInt(2, 8, "k"), dupCeiling = a.dblOr(3, 0.95), floor = a.dblOr(4, -1.0))),
    // leakage_safe_split(rel, pct) — duplicate families never straddle train/test
    Fn("leakage_safe_split", 2, 2)(a => Sampling.leakageSafeSplit(
      a.rel(0, Docs, "document corpus convention"), "text", "doc_id", testPercent = a.int(1, 10))),
    // ann_topk(queries, 'model'|'dir', k[, nprobe]) — IVF: float cosine
    // over the probed buckets only
    Fn("ann_topk", 3, 4)(ivfServe(_, "ivf")),
    // bpe_pairs(rel[, k]) — top-k frequency-weighted adjacent char pairs
    Fn("bpe_pairs", 1, 2)(a => Subwords.bpePairCounts(
      Subwords.bpeWordFrequencies(a.rel(0), "text", "doc_id"), k = a.int(1, 30))),
    // bpe_tokenize(rel, n[, cap]) trains n merges on the relation (model
    // vocabulary capped at `cap` words, so the driver copy stays
    // model-sized) and tokenizes it; bpe_tokenize(rel, 'model'[, cap])
    // applies a registered merge list, bpe_tokenize(rel, 'e r,i n')
    // a literal one
    Fn("bpe_tokenize", 2, 3) { a =>
      val r = a.rel(0)
      def cap = a.posInt(2, Subwords.DefaultBpeVocabCap, "vocab cap") // not for a literal list
      a.lit(1) match {
        case n: Long => trainedTokenize(r, cap)(wf => Subwords.Bpe(Subwords.bpeTrain(wf, n.toInt)))
        case s: String => a.registered(1, ModelKind.Bpe) match {
          case Some(m) => Subwords.tokenize(r, "text", "doc_id", m, cap)
          case None =>
            val m = merges(a, s)
            if (a.length > 2) a.fail("a vocab cap only applies to train mode (integer " +
              "merge count) or a registered model; an explicit merge list is already a model")
            // an uncapped list segments with the replace chain, exact
            // only for distinct-symbol pairs
            m.merges.find { case (x, y) => x == y }.foreach { case (x, y) =>
              a.fail(s"same-symbol merge `$x $y` in a literal merge list needs a " +
                "registered bpe model (CREATE MODEL name KIND 'bpe' AT 'path'), which " +
                "segments a capped vocabulary")
            }
            Subwords.tokenize(r, "text", "doc_id", m, Int.MaxValue)
        }
        case other => a.fail(s"argument 2 must be a merge count (integer) or a " +
          s"merge-list string literal, got $other")
      }
    },
    // unigram_tokenize(rel, vocabSize[, iters]) trains a unigram-LM
    // (SentencePiece-style Viterbi hard-EM) piece vocabulary on the
    // capped word table and tokenizes; unigram_tokenize(rel, 'model')
    // applies a registered one. Output (id, n_words, n_tokens).
    Fn("unigram_tokenize", 2, 3) { a =>
      val r = a.rel(0, Docs, DocsWhy)
      if (a.lit(1).isInstanceOf[Long]) {
        val (size, iters) = (a.posInt(1, 0, "vocabSize"), a.posInt(2, 4, "iters"))
        trainedTokenize(r, Subwords.DefaultBpeVocabCap)(wf =>
          Subwords.Unigram(Subwords.unigramTrain(wf, size, iters)))
      } else {
        val m = unigramModel(a, "a vocab size (integer) or ")
        if (a.length > 2) a.fail("iters only applies when training in place " +
          "(integer vocab size); a registered model is already trained")
        Subwords.tokenize(r, "text", "doc_id", m)
      }
    },
    // substring_dedup(rel[, k[, stride[, buckets]]]) — exact-substring
    // removal (Lee et al.): cut every char span of length >= k that a
    // lower-id doc also contains. stride > 1 winnows gram starts (exact
    // for spans >= k+stride-1); buckets > 1 slices the gram shuffle.
    Fn("substring_dedup", 1, 4) { a =>
      val r = a.rel(0, Docs, DocsWhy)
      val k = a.int(1, 30)
      if (k < 2) a.fail(s"k must be >= 2, got $k")
      val stride = a.posInt(2, 1, "stride")
      if (stride > k) a.fail(s"stride must be <= k so duplicated-span interiors " +
        s"stay covered, got stride=$stride > k=$k")
      TextAnalysis.removeSharedSubstrings(r, "text", "doc_id", k, stride, a.posInt(3, 1, "buckets"))
    },
    // unigram_encode(rel, 'model'[, cap]) — the unigram token stream
    // (id, wpos, tpos, token, token_id) in bpe_encode's frame, so
    // bpe_decode round-trips it. Registered models only: an encode that
    // trained would hide a driver EM inside a projection.
    Fn("unigram_encode", 2, 3) { a =>
      val r = a.rel(0, Docs, DocsWhy)
      val cap = a.posInt(2, Subwords.DefaultBpeVocabCap, "vocab cap")
      Subwords.encode(r, "text", "doc_id", unigramModel(a, ""), cap)
    },
    // pq_topk(queries, 'model'|'dir', k[, shortlist]) — flat PQ: ADC over
    // the codes, exact re-rank of the shortlist against the originals
    Fn("pq_topk", 3, 4) { a =>
      val (q, dir, k) = annArgs(a, "pq")
      IvfIndex.pqTopKIndexed(a.spark, dir, q, k, shortlist = math.max(a.int(3, math.max(50L, k)), k))
    },
    // ivfsq8_topk(queries, 'model'|'dir', k[, nprobe]) — IVF+SQ8 (FAISS
    // "IVF,SQ8"): integer-dot cosine over the probed int8 buckets
    Fn("ivfsq8_topk", 3, 4)(ivfServe(_, "ivfsq8")),
    // ivfpq_topk(queries, 'model'|'dir', k[, nprobe[, shortlist]]) —
    // IVF-PQ: ADC over the probed codes, exact re-rank of the shortlist
    // against the same buckets' originals
    Fn("ivfpq_topk", 3, 5)(ivfServe(_, "ivfpq")),
    // bpe_decode(rel) — a bpe_encode output back to text, (id,
    // text_detok): decode(encode(x)) is the lowercase word normalization
    // of x (merges are concatenative)
    Fn("bpe_decode", 1, 1)(a => Subwords.bpeDecode(a.rel(0, Seq("id", "wpos", "tpos", "token"),
      "input must be a bpe_encode output relation (id, wpos, tpos, token, token_id)"))),
    // bpe_encode(rel, 'e r,i n' | 'model'[, cap]) — the token-id stream
    // (id, wpos, tpos, token, token_id) that packing and shard writers
    // consume. The default cap bounds the dense-id window: an uncapped
    // encode would push a Heaps-law vocabulary through one row_number
    // task.
    Fn("bpe_encode", 2, 3) { a =>
      val r = a.rel(0)
      val cap = a.posInt(2, Subwords.DefaultBpeVocabCap, "vocab cap")
      val m = a.lit(1) match {
        case s: String => a.registered(1, ModelKind.Bpe).getOrElse(merges(a, s))
        case other => a.fail(s"argument 2 must be a merge-list string literal or " +
          s"a registered bpe model name, got $other")
      }
      Subwords.encode(r, "text", "doc_id", m, cap)
    },
    Fn("distinct_audit", 1, 1)(a => Sketches.distinctAudit(
      a.rel(0, Seq("source"), "per-source distinct counts are grouped on it"), "text", "source")),
    Fn("dim_covariance", 1, 1)(a => Similarity.dimCovariance(a.rel(0), "embedding", "vec_id")),
    Fn("standardize", 1, 1)(a => Similarity.standardize(a.rel(0), "embedding", "vec_id")),
    Fn("pca_project", 2, 2) { a =>
      val e = a.rel(0)
      Similarity.pcaProject(e, "embedding", "vec_id",
        Similarity.pcaFit(e, "embedding", "vec_id", a.posInt(1, 8, "k")))
    })
}
