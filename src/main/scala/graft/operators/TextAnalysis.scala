package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators for LLM-training-data pipelines (SURVEY §7.2 M4;
  * beyond the reference surface — the reference has no text functions past
  * upper/lower/substring, flinkdsl/typer.scala_:284-293).
  *
  * All operators are pure Column expressions (whole-stage-codegen'd, no
  * UDFs), so they scale linearly with input partitions: no shuffle, no
  * driver involvement, filters/projections push down to the scan.
  */
object TextAnalysis {

  /** Whitespace token count; 0 for empty/blank strings. */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** Character-class ratios used by quality scoring. Identical regex
    * character classes are expressible in DuckDB for the oracle. */
  def digitRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(length(regexp_replace(text, "[^0-9]", "")).cast("double") / length(text))

  def alphaRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(length(regexp_replace(text, "[^A-Za-z]", "")).cast("double") / length(text))

  def whitespaceRatio(text: Column): Column =
    when(length(text) === 0, lit(0.0))
      .otherwise(length(text).cast("double")
        .minus(length(regexp_replace(text, "\\s", ""))) / length(text))

  /** Mean token length (non-whitespace chars / token count); 0 if no tokens. */
  def meanTokenLen(text: Column): Column = {
    val n = tokenCount(text)
    when(n === 0, lit(0.0))
      .otherwise(length(regexp_replace(text, "\\s", "")).cast("double") / n)
  }

  private[operators] val stopwords = Seq(
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "was", "for", "on", "with", "as", "at", "by", "be", "this")

  /** Fraction of tokens that are common-English stopwords — a cheap fluency
    * signal (C4/Gopher-style quality filters use the same family of rules). */
  def stopwordRatio(text: Column): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    val n = tokenCount(text)
    when(n === 0, lit(0.0)).otherwise(
      size(filter(toks, t => t.isin(stopwords.map(lit(_)): _*))).cast("double") / n)
  }

  /** Composite quality score in [0,1]: rewards alphabetic text with
    * mid-length tokens and some stopwords, penalizes digit walls. The exact
    * blend is ours (the field has no canonical formula); each component is
    * independently exposed + oracle-checked. */
  def qualityScore(text: Column): Column = {
    val lenScore = least(length(text).cast("double") / 500.0, lit(1.0))
    val tokLen = meanTokenLen(text)
    val tokScore = when(tokLen.between(3.0, 10.0), 1.0).otherwise(0.5)
    val sw = least(stopwordRatio(text) * 4.0, lit(1.0))
    val clean = lit(1.0) - least(digitRatio(text) * 2.0, lit(1.0))
    (lenScore * 0.25 + tokScore * 0.25 + sw * 0.25 + clean * 0.25)
  }

  /** Approximate BPE-ish token estimate: word pieces of <=4 chars — a
    * deterministic stand-in for a real tokenizer's token count (used for
    * data budgeting). ceil(len/4) per word via integer arithmetic. */
  def tokenEstimate(text: Column): Column =
    when(length(trim(text)) === 0, lit(0L)).otherwise(
      aggregate(
        split(trim(text), "\\s+"),
        lit(0L),
        (acc, w) => acc + ceil(length(w).cast("double") / 4.0).cast("long")))

  /** GPT-2-style pre-tokenization pattern, restricted to RE2-compatible
    * constructs (no lookahead — the original's `\s+(?!\S)` is dropped, so
    * runs of extra whitespace are simply unmatched): a token is an
    * optionally space-prefixed letter run, digit run, or punctuation run.
    * Alternation is leftmost-first in both Java regex and RE2, so match
    * counts are engine-portable. */
  val PretokenPattern: String = " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+"

  /** Regex pre-tokenizer stats per doc: pre-token count (the budgeting
    * number a real BPE vocabulary would subdivide), whitespace word
    * count, and fertility = pretokens / words (the standard tokenizer
    * cost metric — fertility near 1 on clean prose, higher on noisy or
    * non-Latin text). One codegen'd projection, no explode or aggregate;
    * the only exchange is Par.widen's small-input guard (no-op at scale). */
  def pretokenStats(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val t = trim(col(textCol))
    val pre = size(regexp_extract_all(col(textCol), lit(PretokenPattern), lit(0)))
      .cast("long")
    val words = when(length(t) === 0, 0L)
      .otherwise(size(split(t, "\\s+")).cast("long"))
    Par.widen(df, idCol).select(
      col(idCol).as("id"),
      pre.as("n_pretokens"),
      words.as("n_words"),
      round(when(words === 0, lit(0.0))
        .otherwise(pre.cast("double") / words.cast("double")), 6).as("fertility"))
  }

  /** Winnowing-style document fingerprint (Schleimer et al., SIGMOD'03):
    * xxhash64 over character k-grams, minimum per sliding window of w,
    * distinct minima = the fingerprint set. Pure array expressions. */
  def fingerprints(text: Column, k: Int = 8, w: Int = 4): Column = {
    // substring-based grams: exactly len-k+1 of them (min 1), matching
    // fingerprintDF — split(text, "") would add a trailing empty element
    // and a phantom (k-1)-char gram
    val grams = transform(
      sequence(lit(1), greatest(length(text) - (k - 1), lit(1))),
      i => xxhash64(call_function("substring", text, i, lit(k))))
    array_distinct(transform(
      sequence(lit(0), greatest(size(grams) - w, lit(0))),
      i => array_min(slice(grams, i + 1, lit(w)))))
  }

  /** Single 64-bit rolling fingerprint of the document (min of window
    * minima — stable under small shifts). */
  def fingerprint(text: Column): Column = array_min(fingerprints(text))

  // ------------------------------------------------------------------
  // Language ID: stopword-profile heuristic over the 6 languages the
  // synthetic corpus carries. No external model; argmax of per-language
  // stopword hits. Deterministic ties broken by language order.
  // ------------------------------------------------------------------

  private[graft] val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "was", "for", "with"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "eine", "mit", "von"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "dans", "que", "pour"),
    "es" -> Seq("el", "la", "los", "las", "es", "un", "una", "que", "por", "para"),
    "it" -> Seq("il", "la", "che", "di", "non", "una", "per", "sono", "con", "del"),
    "pt" -> Seq("o", "a", "os", "as", "que", "um", "uma", "para", "com", "por"))

  // ------------------------------------------------------------------
  // Scale paths: explode + codegen'd hash aggregation.
  //
  // The Column-level functions above lean on higher-order functions
  // (filter/aggregate lambdas), which are CodegenFallback — fine for ad-hoc
  // use, wrong at 100 TB. The DataFrame operators below explode tokens to
  // rows once and compute every token-derived statistic as codegen'd
  // aggregates (one narrow explode + one partial-agg shuffle per doc),
  // then join the (cheap, regexp-native) char-level stats back on.
  // ------------------------------------------------------------------

  /** Per-document text statistics, semantics identical to the Column
    * functions (oracle-checked): n_tokens, token_est, digit_ratio,
    * alpha_ratio, mean_tok_len, stopword_ratio. */
  def stats(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val t = col(textCol)
    val blank = length(trim(t)) === 0
    val tokAgg = tokenStats(df, textCol, idCol)
    // one fused scan for [len, digits, alphas, whitespace] — replaces three
    // regexp_replace passes (same class definitions, oracle-checked)
    val cs = graft.expr.CharClassStats(col("__t"))
    df.select(col(idCol), t.as("__t"), blank.as("__blank"))
      .join(tokAgg, Seq(idCol), "left_outer")
      .withColumn("__cs", cs)
      .select(col(idCol),
        when(col("__blank"), 0).otherwise(col("__n").cast("int")).as("n_tokens"),
        when(col("__blank"), 0L).otherwise(col("__est")).as("token_est"),
        round(when(col("__cs")(0) === 0, 0.0)
          .otherwise(col("__cs")(1).cast("double") / col("__cs")(0)), 6).as("digit_ratio"),
        round(when(col("__cs")(0) === 0, 0.0)
          .otherwise(col("__cs")(2).cast("double") / col("__cs")(0)), 6).as("alpha_ratio"),
        round(when(col("__blank"), 0.0)
          .otherwise((col("__cs")(0) - col("__cs")(3)).cast("double") / col("__n")), 6)
          .as("mean_tok_len"),
        round(when(col("__blank"), 0.0)
          .otherwise(col("__sw").cast("double") / col("__n")), 6)
          .as("stopword_ratio"))
  }

  /** Token-level aggregates per doc: count, BPE-ish estimate, stopword
    * hits, per-language profile hits — all codegen'd sums over one
    * explode. */
  private def tokenStats(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = Par.widen(df, idCol).select(col(idCol),
        explode(split(trim(col(textCol)), "\\s+")).as("__tok"))
      .select(col(idCol), col("__tok"), lower(col("__tok")).as("__ltok"))
    val langAggs = langProfiles.zipWithIndex.map { case ((_, words), i) =>
      sum(when(col("__ltok").isin(words.map(lit(_)): _*), 1L).otherwise(0L)).as(s"__lang$i")
    }
    val aggCols = Seq(
      sum(ceil(length(col("__tok")).cast("double") / 4.0).cast("long")).as("__est"),
      sum(when(col("__ltok").isin(stopwords.map(lit(_)): _*), 1L).otherwise(0L)).as("__sw")
    ) ++ langAggs
    toks.groupBy(col(idCol)).agg(count(lit(1)).as("__n"), aggCols: _*)
  }

  /** The quality blend over already-computed stats columns — the ONE
    * definition shared by [[quality]] and Curation.curate (and mirrored by
    * the DuckDB oracle). `lenCol` = document length as double; the other
    * three are the ROUND(.., 6) columns [[stats]] emits. */
  def qualityFromStats(lenCol: Column, meanTokLen: Column,
                       stopwordRatio: Column, digitRatio: Column): Column =
    least(lenCol / 500.0, lit(1.0)) * 0.25 +
      when(meanTokLen.between(3.0, 10.0), 1.0).otherwise(0.5) * 0.25 +
      least(stopwordRatio * 4.0, lit(1.0)) * 0.25 +
      (lit(1.0) - least(digitRatio * 2.0, lit(1.0))) * 0.25

  /** Composite quality score (same formula as [[qualityScore]]) at scale. */
  def quality(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val s = stats(df, textCol, idCol)
    val lenById = df.select(col(idCol), length(col(textCol)).cast("double").as("__len"))
    s.join(lenById, Seq(idCol))
      .select(col(idCol),
        qualityFromStats(col("__len"), col("mean_tok_len"),
          col("stopword_ratio"), col("digit_ratio")).as("quality"))
  }

  /** Language ID at scale: argmax of per-language profile hits (ties →
    * first profile, same as [[langId]]); "und" when nothing matches. */
  def langIdDF(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val agg = tokenStats(df, textCol, idCol)
    val hitCols = langProfiles.indices.map(i => col(s"__lang$i"))
    val best = hitCols.reduce((a, b) => greatest(a, b))
    // when-chain in profile order: the FIRST profile hitting the max wins
    // (same tie-break as the Column-level langId).
    val ordered = langProfiles.zipWithIndex.reverse.foldLeft(lit("und")) {
      case (els, ((lang, _), i)) =>
        when(col(s"__lang$i") === best && best > 0, lit(lang)).otherwise(els)
    }
    agg.select(col(idCol), ordered.as("predicted"))
  }

  // ------------------------------------------------------------------
  // PII redaction + repetition signals (training-pipeline staples)
  // ------------------------------------------------------------------

  /** Redact common PII patterns to typed placeholders: emails → <EMAIL>,
    * IPv4 → <IP>, long digit runs (phone-ish, 7+) → <NUM>. Pure
    * regexp_replace chain — codegen'd, linear, no shuffle. Patterns are
    * RE2-compatible so the DuckDB oracle applies the identical regexes. */
  /** The [[redactPII]] pattern family, shared with [[piiStats]]. */
  val PiiEmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PiiIpv4Pattern  = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val PiiDigitRunPattern = "\\b\\d{7,15}\\b"

  def redactPII(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, PiiEmailPattern, "<EMAIL>"),
        PiiIpv4Pattern, "<IP>"),
      PiiDigitRunPattern, "<NUM>")

  /** Per-document PII DETECTION COUNTS plus the [[redactPII]] output —
    * the auditable form of the hygiene pass (a pipeline wants to know
    * HOW MUCH it redacted per document/source before shipping, not just
    * the clean text). Counts are taken before redaction; the replacement
    * order email → IPv4 → digit-run is pinned (an IPv4 inside an email's
    * domain fails the alphabetic-TLD requirement, so the families are
    * disjoint on any one span, but the order fixes semantics anyway).
    * All builtin codegen expressions (regexp_count/regexp_replace), no
    * UDF, no shuffle — embarrassingly parallel at 100 TB. */
  def piiStats(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val t = col(textCol).cast("string")
    // Par.widen (r16 opt): four regex passes per document are the cost —
    // on a one-file scan they all ran in a single task (guide §2.5);
    // no-op for streams and already-parallel scans
    Par.widen(df, idCol).select(
      col(idCol).cast("long").as("id"),
      regexp_count(t, lit(PiiEmailPattern)).cast("long").as("n_emails"),
      regexp_count(t, lit(PiiIpv4Pattern)).cast("long").as("n_ipv4"),
      regexp_count(t, lit(PiiDigitRunPattern)).cast("long").as("n_digit_runs"),
      redactPII(t).as("text_redacted"))
  }

  /** Unicode script ranges for [[scriptStats]] — Java regex on the Spark
    * side; the oracle uses the RE2 `\x{…}` spelling of the SAME ranges.
    * A pragmatic 4-script subset (the detector is rangecount-based; add
    * ranges to extend). */
  val ScriptRanges: Seq[(String, String)] = Seq(
    "latin" -> "[A-Za-z]",
    "cyrillic" -> "[\\u0400-\\u04FF]",
    "cjk" -> "[\\u4E00-\\u9FFF]",
    "arabic" -> "[\\u0600-\\u06FF]")

  /** Matches normalizeText's control-char class (C0 minus tab/LF/CR, plus
    * DEL) — text that still contains these after extraction is suspect. */
  val ControlCharPattern: String = "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]"

  /** Per-document SCRIPT detection + mojibake signals (the hygiene pass
    * langId does not cover: langId separates languages that share a
    * script; this separates SCRIPTS, catches encoding damage, and routes
    * documents to per-script pipelines). Counts characters in each
    * [[ScriptRanges]] class, U+FFFD replacement characters (the
    * footprint of a bad charset transcode) and stray control characters;
    * `script` is the argmax with a fixed priority order on ties
    * (latin ≻ cyrillic ≻ cjk ≻ arabic), "und" when no script char
    * occurs; `ok_encoding` = no replacement AND no control chars.
    * One codegen regexp_count projection — no shuffle, no UDF; every
    * count is an exact integer a DuckDB oracle recomputes with the
    * identical RE2 ranges. */
  def scriptStats(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val t = col(textCol).cast("string")
    val counts = ScriptRanges.map { case (name, re) =>
      name -> regexp_count(t, lit(re)).cast("long")
    }
    val m = counts.toMap
    val (lat, cyr, cjk, ara) =
      (m("latin"), m("cyrillic"), m("cjk"), m("arabic"))
    val script =
      when(lat + cyr + cjk + ara === 0, "und")
        .when(lat >= cyr && lat >= cjk && lat >= ara, "latin")
        .when(cyr >= cjk && cyr >= ara, "cyrillic")
        .when(cjk >= ara, "cjk")
        .otherwise("arabic")
    val nRepl = regexp_count(t, lit("\\uFFFD")).cast("long")
    val nCtl = regexp_count(t, lit(ControlCharPattern)).cast("long")
    val out = col(idCol).cast("long").as("id") +:
      (counts.map { case (n, c) => c.as(s"n_$n") } :+
        nRepl.as("n_replacement") :+ nCtl.as("n_control") :+
        script.as("script") :+
        (nRepl === 0 && nCtl === 0).cast("int").as("ok_encoding"))
    df.select(out: _*)
  }

  /** Corpus-level vocabulary: the `k` most frequent tokens with counts
    * (tokenization identical to [[tfidf]]/[[repetition]]: lower, trim,
    * split on \s+, drop empties). Ties broken by token text so the cut is
    * deterministic. One explode + one partial-aggregated groupBy, then a
    * TakeOrdered(k) — the full token table never sorts globally, so the
    * cost at 100 TB is the aggregation shuffle only. */
  def vocab(df: DataFrame, textCol: String, idCol: String, k: Int = 100): DataFrame =
    Par.widen(df, idCol)
      .select(explode(split(lower(trim(col(textCol))), "\\s+")).as("term"))
      .where(col("term") =!= "")
      .groupBy("term").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term"))
      .limit(k)

  /** Per-document repetition signals (Gopher/C4-style quality filters):
    * `rep_ratio` = share of the most frequent token, `ttr` = type-token
    * ratio (distinct/total). One explode + two codegen'd aggregations. */
  def repetition(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val toks = Par.widen(df, idCol).select(col(idCol),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("__tok"))
      .where(col("__tok") =!= "")
    val perTok = toks.groupBy(col(idCol), col("__tok")).agg(count(lit(1)).as("__c"))
    perTok.groupBy(col(idCol)).agg(
        round(max(col("__c")).cast("double") / sum(col("__c")), 6).as("rep_ratio"),
        round(count(lit(1)).cast("double") / sum(col("__c")), 6).as("ttr"))
  }

  /** Split documents into overlapping token-window chunks (the embedding/
    * retrieval-pipeline staple). Chunk i covers tokens
    * [i*stride+1, i*stride+chunkSize] (stride = chunkSize - overlap);
    * chunk count = ceil(max(nTokens - overlap, 1) / stride), so every token
    * is covered and the last chunk may run short. One narrow explode —
    * codegen'd, shuffle-free, linear at any corpus size. */
  def chunk(df: DataFrame, textCol: String, idCol: String,
            chunkSize: Int = 200, overlap: Int = 50): DataFrame = {
    require(chunkSize > overlap && overlap >= 0,
      "need chunkSize > overlap >= 0")
    val stride = chunkSize - overlap
    val nChunks = ceil(greatest(size(col("__ws")) - overlap, lit(1)).cast("double") / stride)
      .cast("long")
    Par.widen(df, idCol)
      .select(col(idCol), split(trim(col(textCol)), "\\s+").as("__ws"))
      .select(col(idCol),
        explode(sequence(lit(0L), nChunks - 1)).as("chunk_id"), col("__ws"))
      .select(col(idCol), col("chunk_id"),
        concat_ws(" ",
          slice(col("__ws"), (col("chunk_id") * stride + 1).cast("int"), lit(chunkSize)))
          .as("chunk"))
  }

  /** TF-IDF over whitespace tokens (lowercased), the classic smooth-idf
    * formulation: tf = term count in doc, idf = ln((N+1)/(df+1)) + 1.
    * Output: (id, term, tf, tfidf). Two codegen'd aggregations (one by
    * (doc, term), one by term) + a broadcast-friendly join on term —
    * fully expressible in ANSI SQL, so it is oracle-checked. */
  def tfidf(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val n = df.count() // corpus size: one count job, a scalar — not a collect of rows
    val toks = Par.widen(df, idCol).select(col(idCol).as("id"),
      explode(split(lower(trim(col(textCol))), "\\s+")).as("term"))
      .where(col("term") =!= "")
    val tf = toks.groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    tf.join(dfreq, "term")
      .select(col("id"), col("term"), col("tf"),
        round(col("tf") * (log((lit(n) + 1.0) / (col("df") + 1.0)) + 1.0), 6).as("tfidf"))
  }

  /** Okapi BM25 relevance of every document against a fixed query term
    * set — the retrieval-scoring primitive behind corpus search and
    * relevance-targeted data curation:
    *
    *   score(d) = Σ_{t ∈ q ∩ d} idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *   idf(t)   = ln(1 + (N − df + 0.5) / (df + 0.5))   (non-negative form)
    *
    * N and avgdl are computed over docs with ≥1 token. Scale: tokenization
    * is a narrow explode; per-doc lengths and the query-term postings are
    * hash aggregations (map-side partial); df (≤ |q| rows) and the 1-row
    * (N, avgdl) summary broadcast — the only data-sized shuffles key on
    * the doc id, so the plan survives any corpus size. Docs containing no
    * query term are absent from the output (they score 0).
    * k1/b defaults sit in the standard ranges AND are exactly binary-
    * representable (1.25, 0.75), so every constant-fold is bit-identical
    * across engines. Output: (id, bm25). */
  def bm25(df: DataFrame, textCol: String, idCol: String,
           queryTerms: Seq[String], k1: Double = 1.25, b: Double = 0.75): DataFrame = {
    val toks = Par.widen(df, idCol).select(col(idCol).as("id"),
      explode(split(lower(trim(col(textCol))), "\\s+")).as("term"))
      .where(col("term") =!= "")
    val lens = toks.groupBy(col("id")).agg(count(lit(1)).as("dl"))
    val stats = lens.agg(count(lit(1)).cast("double").as("__n"), avg(col("dl")).as("__avgdl"))
    val tf = toks.where(col("term").isin(queryTerms: _*))
      .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).cast("double").as("__df"))
    val idf = log(lit(1.0) + (col("__n") - col("__df") + 0.5) / (col("__df") + 0.5))
    val norm = col("tf") * (k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("__avgdl")))
    // Per-doc summation runs in a FORCED deterministic order (term-sorted
    // left fold) rather than sum(): float addition is order-dependent, and
    // partial-agg arrival order differs run to run and engine to engine —
    // the round-5 advisory flake. The fold is over ≤ |queryTerms| elements
    // per doc, so collect_list is constant-bounded. 0.0 + x is exact for
    // the positive contributions, so the DuckDB oracle's init-less
    // list_reduce over the same term order is bit-identical.
    tf.join(broadcast(dfreq), "term")
      .join(lens, "id")
      .crossJoin(broadcast(stats))
      .groupBy(col("id"))
      .agg(round(
        aggregate(
          sort_array(collect_list(struct(col("term"), (idf * norm).as("c")))),
          lit(0.0),
          (acc, x) => acc + x.getField("c")),
        6).as("bm25"))
  }

  /** Bigram language-model quality score (the KenLM-perplexity pattern,
    * self-trained on the corpus): per doc, the mean add-k-smoothed
    * conditional log-probability of its word bigrams,
    *
    *   score(d) = avg over bigrams (w1,w2) of
    *              ln( (C(w1,w2) + k) / (C(w1,·) + k·V) )
    *
    * where C(w1,w2) = corpus bigram count, C(w1,·) = count of bigrams
    * starting with w1, V = corpus vocabulary size. Low scores flag
    * incoherent/boilerplate text (Gopher/CCNet-style filtering signal).
    *
    * Scale: bigram generation is a narrow explode over the split-once
    * token array (shuffle-free, SCALE.md round-2 lesson); the model is
    * two hash aggregations; scoring joins doc-bigrams to the bigram
    * table on (w1,w2) — hash-partitionable, AQE-skewable — and the V
    * scalar broadcasts. Docs with <2 tokens score NULL (0 bigrams).
    * Output: (id, n_bigrams, lm_score). */
  /** (id, array of lowercased whitespace tokens) — the bigram family's
    * shared tokenization. */
  private def bigramBase(df: DataFrame, textCol: String, idCol: String): DataFrame =
    Par.widen(df, idCol)
      .select(col(idCol).as("id"), split(lower(trim(col(textCol))), "\\s+").as("__ws"))

  /** Consecutive word pairs as (id, w1, w2) rows: one narrow explode over
    * the split-once token array (no window/lead shuffle). */
  private def bigramRows(base: DataFrame): DataFrame =
    base.where(size(col("__ws")) >= 2)
      .select(col("id"), explode(transform(
        sequence(lit(1), size(col("__ws")) - 1),
        i => struct(element_at(col("__ws"), i).as("w1"),
                    element_at(col("__ws"), i + 1).as("w2")))).as("__b"))
      .select(col("id"), col("__b.w1").as("w1"), col("__b.w2").as("w2"))

  def bigramScore(df: DataFrame, textCol: String, idCol: String,
                  k: Double = 0.5): DataFrame = {
    val base = bigramBase(df, textCol, idCol)
    val bg = bigramRows(base)
    val c2 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    // context counts derive from the bigram table — C(w1,·) = Σ_w2 C(w1,w2)
    // — so the corpus-sized bigram stream shuffles ONCE (for c2); the c1
    // aggregation shuffles only the distinct-bigram table
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val vocabSize = base
      .select(explode(col("__ws")).as("tok")).where(col("tok") =!= "")
      .agg(count_distinct(col("tok")).as("v"))
    val scored = bg
      .join(c2, Seq("w1", "w2"))
      .join(c1, Seq("w1"))
      .crossJoin(broadcast(vocabSize))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log((col("c2") + k) / (col("c1") + col("v") * k))), 6).as("lm_score"))
    df.select(col(idCol).as("id")).join(scored, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("lm_score"))
  }

  /** Cross-corpus bigram cross-entropy — the CCNet filtering shape: the
    * LM trains on a REFERENCE corpus (a curated slice) and scores a
    * TARGET corpus. Bigrams unseen in the reference back off to the
    * add-k floor k/(C(w1,·)+k·V), and unseen contexts to 1/V — the
    * standard smoothed treatment, so out-of-domain text scores high
    * cross-entropy instead of NULL. Output: (id, n_bigrams, xent) with
    * xent = −mean ln p (nats; exp(xent) = perplexity, LOW = reference-
    * like — keep the head, drop the tail). Docs with <2 tokens score
    * NULL (0 bigrams), matching [[bigramScore]].
    *
    * Scale: the model is two hash aggregations over the reference (the
    * (w1,w2) table shuffles once; contexts derive from it); scoring
    * LEFT-joins target bigrams to the count tables — hash-partitionable,
    * AQE-skewable — and the vocab scalar broadcasts. Nothing is
    * corpus-quadratic and the reference is scanned exactly once. */
  def bigramCrossEntropy(reference: DataFrame, target: DataFrame,
                         textCol: String, idCol: String,
                         k: Double = 0.5): DataFrame = {
    val rbase = bigramBase(reference, textCol, idCol)
    val c2 = bigramRows(rbase).groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy(col("w1")).agg(sum(col("c2")).as("c1"))
    val vocabSize = rbase
      .select(explode(col("__ws")).as("tok")).where(col("tok") =!= "")
      .agg(count_distinct(col("tok")).as("v"))
    val scored = bigramRows(bigramBase(target, textCol, idCol))
      .join(c2, Seq("w1", "w2"), "left_outer")
      .join(c1, Seq("w1"), "left_outer")
      .crossJoin(broadcast(vocabSize))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(-avg(log((coalesce(col("c2"), lit(0L)) + k) /
          (coalesce(col("c1"), lit(0L)) + col("v") * k))), 6).as("xent"))
    target.select(col(idCol).as("id")).join(scored, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("xent"))
  }

  /** Rolling-hash fingerprint at scale: min over all k-gram xxhash64
    * values (= min of the winnowing window minima), via explode +
    * codegen'd min aggregation. Blank/short docs hash their whole text. */
  def fingerprintDF(df: DataFrame, textCol: String, idCol: String,
                    k: Int = 8): DataFrame = {
    val t = col(textCol)
    val grams = Par.widen(df, idCol).select(col(idCol),
        explode(sequence(lit(1), greatest(length(t) - (k - 1), lit(1)))).as("__pos"), t.as("__t"))
      .select(col(idCol), xxhash64(expr(s"substring(__t, __pos, $k)")).as("__g"))
    grams.groupBy(col(idCol)).agg(min(col("__g")).as("fp"))
  }

  /** Predicted language code, or "und" when no profile matches. */
  def langId(text: Column): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    // struct(score, rank) per language; array_max picks highest score, ties
    // → lowest profile index wins (struct comparison is lexicographic).
    val scored = langProfiles.zipWithIndex.map { case ((lang, words), i) =>
      struct(
        size(filter(toks, t => t.isin(words.map(lit(_)): _*))).as("score"),
        lit(-i).as("rank"),
        lit(lang).as("lang"))
    }
    val best = array_max(array(scored: _*))
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Per-document duplicate word-n-gram fraction (the Gopher repetition
    * signal family beyond [[repetition]]'s unigram share):
    * `dup_frac = 1 - distinct_ngrams / total_ngrams`. One narrow shingle
    * explode + a single hash aggregate — linear in corpus size, one
    * shuffle on the document id. */
  def dupNgramStats(df: DataFrame, textCol: String, idCol: String,
                    n: Int = 2): DataFrame =
    Dedup.shingleRows(df, textCol, idCol, n)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"),
        count_distinct(col("sh")).as("n_distinct"))
      .select(col("id"), col("n_grams"), col("n_distinct"),
        round(lit(1.0) - col("n_distinct").cast("double") / col("n_grams"), 6)
          .as("dup_frac"))

  /** Content-defined chunking (CDC): chunk boundaries fall where a token's
    * content hash matches a boundary pattern (here: first hex digit of
    * md5 in 0..boundaryDigits-1, i.e. boundary probability
    * boundaryDigits/16), instead of at fixed offsets. Insertions shift
    * fixed-size chunk grids globally; CDC boundaries re-synchronize after
    * the edit, so chunk-level dedup/storage stays stable under edits —
    * the rsync/backup-dedup trick applied to corpus text.
    *
    * md5 (not xxhash64) keys the boundary decision so the result is
    * reproducible OUTSIDE Spark too (any engine with md5 recomputes it).
    *
    * Scale: one narrow posexplode + one windowed running sum per doc +
    * one hash aggregate on (id, chunk) — all partitioned by document id,
    * a single shuffle. Returns (id, chunk_id, n_toks, chunk). */
  def cdcChunk(df: DataFrame, textCol: String, idCol: String,
               boundaryDigits: Int = 2): DataFrame = {
    require(boundaryDigits >= 1 && boundaryDigits <= 15,
      "boundaryDigits in [1,15]")
    val boundaryChars = "0123456789abcdef".take(boundaryDigits).map(_.toString)
    val toks = Par.widen(df, idCol)
      .select(col(idCol).as("id"),
        posexplode(split(trim(col(textCol)), "\\s+")).as(Seq("pos", "tok")))
      .where(col("tok") =!= "")
    val isBoundary = substring(md5(col("tok")), 1, 1).isin(boundaryChars: _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("pos"))
    // a boundary token ENDS its chunk (content-defined cut AFTER the
    // boundary, rsync-style): chunk id = number of boundaries BEFORE this
    // token, so ids run 0..k contiguously within every document
    val withChunk = toks.withColumn("chunk_id",
      sum(isBoundary.cast("long")).over(w) - isBoundary.cast("long"))
    withChunk.groupBy(col("id"), col("chunk_id"))
      .agg(count(lit(1)).as("n_toks"),
        array_join(transform(array_sort(collect_list(
          struct(col("pos").as("k"), col("tok").as("v")))),
          s => s.getField("v")), " ").as("chunk"))
  }

  /** Gram rows (id, __p, __gh) over pre-normalized (id, __t) rows with
    * length(__t) >= k. `stride == 1` emits EVERY k-gram start (the exact
    * Lee-et-al. shape); `stride > 1` winnows (Schleimer/Wilkerson/Aiken,
    * SIGMOD'03): within every window of `stride` consecutive gram
    * hashes, keep the (first-occurrence) minimum. Selection depends only
    * on content, so two copies of a span select the SAME grams at the
    * same span offsets — position-mod sampling would not. Density is
    * ~2/(stride+1) of the full gram stream; every doc with any gram
    * keeps at least one. All work is per-row codegen — no shuffle. */
  private def gramRows(base: DataFrame, k: Int, stride: Int): DataFrame =
    if (stride <= 1)
      base.select(col("id"),
        explode(sequence(lit(1), length(col("__t")) - (k - 1))).as("__p"),
        col("__t"))
        .select(col("id"), col("__p"),
          xxhash64(expr(s"substring(__t, __p, $k)")).as("__gh"))
    else
      base.select(col("id"),
        explode(graft.expr.GramOps.gramWinnow(col("__t"), k, stride)).as("__s"))
        .select(col("id"), col("__s.p").as("__p"), col("__s.gh").as("__gh"))

  /** (id, __ga) where `__ga` is the doc-DISTINCT set of (winnowed) gram
    * hashes — the within-doc dedup runs INSIDE the projection (the
    * [[graft.expr.GramOps]] native kernel: child evaluated once, one
    * allocation-light pass), so detection never pays a corpus-wide
    * distinct exchange and never re-normalizes text per gram. */
  private def docGramSets(base: DataFrame, k: Int, stride: Int): DataFrame =
    base.select(col("id"),
      graft.expr.GramOps.gramHashSet(col("__t"), k, math.max(1, stride)).as("__ga"))

  /** Per-document count of character `k`-grams shared verbatim with at
    * least one OTHER document — the detection half of exact-substring
    * dedup (Lee et al., "Deduplicating Training Data Makes Language
    * Models Better"): a doc with n_shared > 0 contains a ≥k-char span
    * copied somewhere else in the corpus.
    *
    * The two 100 TB levers (both default OFF — defaults reproduce the
    * exact semantics):
    *  - `stride > 1` winnows gram starts (see [[gramRows]]). HARD recall
    *    bound: every shared span of length >= k + stride - 1 contains at
    *    least one FULL winnowing window, whose (content-only) selection
    *    is identical in both copies — so such spans are ALWAYS detected.
    *    Spans in [k, k + stride - 2] may be missed; n_shared counts
    *    selected grams only (≈ 2/(stride+1) of the exact count). No
    *    false positives ever: selected grams are a subset of real grams.
    *  - `buckets > 1` slices the gram key space by pmod(__gh, buckets)
    *    and runs the alone-count aggregate per slice: peak shuffle drops
    *    to 1/buckets at the cost of re-running the narrow gram
    *    projection per slice. Output is IDENTICAL for any bucket count
    *    (each gram lands in exactly one slice; the per-doc reduce sums
    *    the slices). */
  def sharedSubstrings(df: DataFrame, textCol: String, idCol: String,
                       k: Int = 30, stride: Int = 1,
                       buckets: Int = 1): DataFrame = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val norm = lower(trim(col(textCol)))
    // grams travel as xxhash64 longs, never as 30-char strings: ~5× less
    // shuffle volume, and hash equality ≡ string equality up to 64-bit
    // collisions (expected n²/2⁶⁵ — ~10⁻⁶ at 10⁷ grams; at true 100 TB
    // scale swap in a 128-bit hash before trusting per-doc counts).
    val base = Par.widen(df, idCol)
      .select(col(idCol).as("id"), norm.as("__t"))
      .where(length(col("__t")) >= k)
    // count by SUBTRACTION, never by join: n_shared = (distinct grams in
    // the doc) − (grams the doc holds ALONE). Totals are a narrow
    // projection (size of the per-doc gram set — zero shuffle); the
    // alone-count needs exactly ONE corpus-sized exchange, a HASH
    // aggregate on the gram key carrying (count, min id) — a doc-freq-1
    // gram's min id IS its only holder. No sort anywhere: the previous
    // count-over-window shape spilled 75 GB of radix sort at sf10, and a
    // frequency semi-join re-sorts the gram stream on dup-heavy corpora.
    // bucketed runs materialize the doc-gram-set rows once (DISK_ONLY —
    // the removeSharedSubstrings seam discipline) so the B slices filter
    // a landed frame instead of re-running the gram kernel per slice
    val sets0 = docGramSets(base, k, stride)
    val sets =
      if (buckets <= 1) sets0
      else {
        val p = sets0.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
        p.count()
        p
      }
    val totals = sets.select(col("id"), size(col("__ga")).cast("long").as("__tt"))
    def aloneSlice(b: Int): DataFrame = {
      val g0 = sets.select(col("id"), explode(col("__ga")).as("__gh"))
      val g = if (buckets <= 1) g0
              else g0.where(pmod(col("__gh"), lit(buckets)) === b)
      g.groupBy(col("__gh"))
        .agg(count(lit(1)).as("__c"), min(col("id")).as("__mid"))
        .where(col("__c") === 1)
        .groupBy(col("__mid")).agg(count(lit(1)).as("__u"))
        .select(col("__mid").as("id"), col("__u"))
    }
    val alone = (0 until math.max(1, buckets)).map(aloneSlice)
      .reduce(_ unionAll _)
      .groupBy(col("id")).agg(sum(col("__u")).as("__uu"))
    df.select(col(idCol).as("id"))
      .join(totals.join(alone, Seq("id"), "left")
        .select(col("id"),
          (col("__tt") - coalesce(col("__uu"), lit(0L))).as("__ns")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("__ns"), lit(0L)).as("n_shared"))
  }

  /** The REMOVAL half of exact-substring dedup (Lee et al. 2022 — the
    * companion to [[sharedSubstrings]]'s detection): every character
    * position covered by a `k`-gram that also occurs in a LOWER-id
    * document is cut; the first document to contain a span keeps it,
    * every later verbatim copy loses it. Output: (id, text_clean,
    * n_removed) over the normalized (lower/trim) text.
    *
    * Scale shape — no position explosion: grams travel as xxhash64 longs
    * (the [[sharedSubstrings]] trick; hash equality ≡ string equality up
    * to 64-bit collisions — expected n²/2⁶⁵, ~10⁻⁶ at 10⁷ grams — so a
    * colliding gram can remove text that was never duplicated; at true
    * 100 TB swap in a 128-bit hash before trusting removal byte-for-byte),
    * ownership is ONE hash aggregate on the gram key (min doc id, kept
    * only for grams spanning >= 2 docs so the coverage join probes a
    * duplicated-grams-only build side — AQE broadcasts it when small and
    * the gram stream is never sorted), and per-doc removal works on
    * MERGED intervals — a classic running-max islands window per doc, so
    * a fully-duplicated document carries ONE interval, never len×k
    * covered rows. Reconstruction is a higher-order aggregate over the
    * (≤ len/(k+1)+1) disjoint intervals — interval-array-sized, outside
    * the hot codegen path by design.
    *
    * 100 TB levers (defaults OFF — defaults are byte-exact Lee et al.):
    *  - `stride > 1` winnows gram starts (see [[gramRows]]): removal
    *    becomes approximate at span EDGES only. Consecutive winnowed
    *    selections are at most `stride` positions apart, so for
    *    stride <= k the interior of every shared span of length >=
    *    k + stride - 1 stays fully covered; at most k + 2·(stride-1)
    *    chars can survive at each span edge (first/last selection may
    *    sit up to stride-1 inside, and a selection near the edge may
    *    differ between copies when its window straddles the span
    *    boundary). Spans shorter than k + stride - 1 may be missed.
    *  - `buckets > 1` slices ownership+coverage by pmod(__gh, buckets);
    *    covered positions union across slices before the per-doc
    *    interval merge, so output is IDENTICAL for any bucket count
    *    while peak shuffle drops to 1/buckets. The gram projection runs
    *    ONCE: the (id, __p, __gh) rows land on local disk (DISK_ONLY
    *    persist — a 24 B/gram seam, deliberately not memory so slices
    *    can't evict each other into silent recompute) and every slice
    *    filters the materialized frame, so bucketing costs one extra
    *    disk pass instead of B re-runs of the scan + normalize + hash
    *    pipeline. The cache unpins via the ContextCleaner when the
    *    result frame is dropped; at 100 TB, land the same rows on
    *    cluster parquet instead (write the gram frame, read it back —
    *    identical slicing) when executor-local disk is the constraint. */
  def removeSharedSubstrings(df: DataFrame, textCol: String, idCol: String,
                             k: Int = 30, stride: Int = 1,
                             buckets: Int = 1): DataFrame = {
    require(k >= 2, s"k must be >= 2, got $k")
    require(stride >= 1, s"stride must be >= 1, got $stride")
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    val norm = lower(trim(col(textCol)))
    val base = Par.widen(df, idCol)
      .select(col(idCol).cast("long").as("id"), norm.as("__t"))
    val gAll = gramRows(base.where(length(col("__t")) >= k), k, stride)
    val gSrc =
      if (buckets <= 1) gAll
      else {
        val p = gAll.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
        p.count() // materialize the seam exactly once, before any slice
        p
      }
    def coveredSlice(b: Int): DataFrame = {
      val g = if (buckets <= 1) gSrc
              else gSrc.where(pmod(col("__gh"), lit(buckets)) === b)
      // only grams spanning >= 2 docs can ever cover a position (within
      // one doc id == own); filtering the build side BEFORE the join is
      // what lets AQE broadcast it on mostly-unique corpora
      val owner = g.groupBy(col("__gh"))
        .agg(min(col("id")).as("__own"), max(col("id")).as("__mx"))
        .where(col("__mx") > col("__own"))
        .select(col("__gh"), col("__own"))
      g.join(owner, Seq("__gh"))
        .where(col("id") > col("__own"))
        .select(col("id"), col("__p"))
    }
    val covered = (0 until math.max(1, buckets)).map(coveredSlice)
      .reduce(_ unionAll _)
    // running-max islands: a start position opens a new interval exactly
    // when it lies beyond every previous gram's right edge
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("__p"))
    val runMax = max(col("__p") + k).over(
      w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1))
    val islands = covered
      .withColumn("__new", (col("__p") > coalesce(runMax, lit(-1L))).cast("long"))
      .withColumn("__isl", sum(col("__new")).over(w))
      .groupBy(col("id"), col("__isl"))
      .agg(min(col("__p")).as("s"), (max(col("__p")) + k).as("e")) // [s, e)
    val perDoc = islands.groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("s"), col("e")))).as("__ivs"))
    base.join(perDoc, Seq("id"), "left")
      .select(col("id"),
        when(col("__ivs").isNull, col("__t")).otherwise(
          // fold the disjoint sorted intervals: append the gap before
          // each, then the tail after the last
          expr("""concat(
              aggregate(__ivs,
                named_struct('t', cast('' as string), 'last', 1L),
                (acc, iv) -> named_struct(
                  't', concat(acc.t, substring(__t, cast(acc.last as int),
                                               cast(iv.s - acc.last as int))),
                  'last', cast(iv.e as bigint)),
                acc -> acc.t),
              substring(__t,
                cast(element_at(__ivs, -1).e as int),
                length(__t) - cast(element_at(__ivs, -1).e as int) + 1))"""))
          .as("text_clean"),
        length(col("__t")).as("__n0"))
      .select(col("id"), col("text_clean"),
        (col("__n0") - length(col("text_clean"))).as("n_removed"))
  }

  /** Cross-group contamination matrix: for each pair of groups (data
    * sources, crawl snapshots, benchmark vs corpus), the number of
    * DISTINCT word n-grams both share. The leakage-audit companion to
    * Decontaminate: run it across sources before mixing them.
    *
    * Scale: each side is reduced to its distinct (group, shingle) set
    * first (bounded by vocabulary, not corpus size), so the join input and
    * the per-shingle fan-out are capped at the number of groups — never
    * |docs|². One shuffle on the shingle hash. */
  def crossGroupOverlap(df: DataFrame, textCol: String, groupCol: String,
                        n: Int = 3): DataFrame = {
    // materialized once: both self-join sides read the distinct set;
    // shingles travel as xxhash64 longs (8 B vs n-gram strings through
    // the distinct + self-join; equality up to 2^-64 collisions)
    val s = Dedup.shingleRows(df, textCol, groupCol, n)
      .select(col("id"), xxhash64(col("sh")).as("sh"))
      .distinct().localCheckpoint()
    val a = s.select(col("id").as("src_a"), col("sh"))
    val b = s.select(col("id").as("src_b"), col("sh"))
    a.join(b, "sh").where(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Tokenizer-vocabulary coverage (OOV-rate) report: the fraction of
    * each document's whitespace tokens that fall outside the corpus
    * top-`vocabK` vocabulary — the coverage/fertility audit run before
    * committing to a tokenizer vocab (high OOV → wasted UNK tokens or
    * byte-fallback blowup on that slice).
    *
    * Scale: the vocab is `vocabK` rows (driver-bounded TakeOrdered, see
    * [[vocab]]) and BROADCASTS to the token stream — the corpus-sized
    * side sees one narrow explode + a broadcast hash semi-probe + a
    * per-doc map-side-partial aggregation; no corpus-sized shuffle
    * beyond the per-doc agg. Vocab selection is deterministic under
    * count ties (count desc, term asc), so results are engine-exact.
    *
    * Output: (id, n_toks, n_oov, oov_rate rounded 6dp; blank docs
    * 0/0/NULL). */
  def oovRate(df: DataFrame, textCol: String, idCol: String,
              vocabK: Int = 500): DataFrame = {
    val v = broadcast(vocab(df, textCol, idCol, vocabK).select(col("term")))
    val toks = Par.widen(df, idCol)
      .select(col(idCol).as("id"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("__ov_tok"))
      .where(col("__ov_tok") =!= "")
    val perDoc = toks
      .join(v, toks("__ov_tok") === v("term"), "left_outer")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_toks"),
        sum(when(col("term").isNull, 1L).otherwise(0L)).as("n_oov"))
    df.select(col(idCol).as("id")).join(perDoc, Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        round(col("n_oov").cast("double") / col("n_toks"), 6).as("oov_rate"))
  }

  /** Hashed-bag-of-words linear classifier scoring — the fastText-style
    * quality-classifier INFERENCE shape (token → feature-hash bucket →
    * weight lookup → mean → sigmoid) every large pretraining pipeline
    * runs corpus-wide to keep/drop documents.
    *
    * The weight table is a deterministic function of the bucket id
    * (`w(b) = (b·2654435761) mod 4096 − 2048`, an integer in
    * [−2048, 2047]) rather than a trained model file — this container
    * ships no model artifacts, and a learned table drops in by replacing
    * `intWeight` with a broadcast `dim`-entry map lookup; every other
    * part of the plumbing (hashing, exact integer accumulation, scoring)
    * is the production one. Feature hashing uses the first two hex chars
    * of md5(token) (`dim` = 256 buckets) — engine-portable, so the gate's
    * DuckDB oracle recomputes scores EXACTLY.
    *
    * Determinism under distribution: per-document accumulation is an
    * exact BIGINT sum (order-independent, unlike float summation), and
    * the single float division + sigmoid happen once per document, so
    * scores are bit-stable across partitionings and engines.
    *
    * Scale: one narrow token explode (tokens stay in their scan
    * partition) + one hash aggregation on the doc id with map-side
    * partials; the weight "table" is codegen arithmetic, so no join, no
    * broadcast, no shuffle beyond the per-doc aggregate.
    *
    * Output: (id, n_toks, score ∈ [0,1] rounded 6dp, keep ∈ {0,1});
    * blank docs score NULL / keep 0. */
  def hashedLinearScore(df: DataFrame, textCol: String, idCol: String,
                        bias: Double = 0.0, scale: Double = 8.0): DataFrame =
    hashedLinearScoreImpl(df, textCol, idCol,
      b => (b * lit(2654435761L)) % 4096L - 2048L, bias, scale)

  /** [[hashedLinearScore]] served from a TRAINED weight artifact — the
    * documented swap-in point made real: `weights` is the dense
    * 256-entry bucket→weight table (one slot per md5-2-hex-char feature
    * bucket), embedded in the plan as an array LITERAL, so the lookup is
    * pure codegen — no join, no broadcast variable, same single per-doc
    * hash aggregate as the arithmetic built-in. Weights are BIGINTs (the
    * x59 exactness discipline: integer accumulation is order-independent,
    * so scores stay bit-stable across partitionings and engines); keep
    * them in the built-in's [-2048, 2047] band so the `/4096` sigmoid
    * normalization retains its calibration. */
  def hashedLinearScoreModel(df: DataFrame, textCol: String, idCol: String,
                             weights: Array[Long], bias: Double = 0.0,
                             scale: Double = 8.0): DataFrame = {
    require(weights.length == 256,
      s"linear model must carry exactly 256 bucket weights, got ${weights.length}")
    hashedLinearScoreImpl(df, textCol, idCol,
      b => element_at(lit(weights), (b + 1L).cast("int")), bias, scale)
  }

  private def hashedLinearScoreImpl(df: DataFrame, textCol: String,
                                    idCol: String, weightOf: Column => Column,
                                    bias: Double, scale: Double): DataFrame = {
    val toks = Par.widen(df, idCol)
      .select(col(idCol).as("id"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("__hl_tok"))
      .where(col("__hl_tok") =!= "")
    val bucket = conv(substring(md5(col("__hl_tok")), 1, 2), 16, 10).cast("long")
    val intWeight = weightOf(bucket)
    val perDoc = toks
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_toks"), sum(intWeight).as("__hl_sw"))
    val margin = lit(bias) +
      lit(scale) * col("__hl_sw").cast("double") / (lit(4096.0) * col("n_toks"))
    val score = round(lit(1.0) / (lit(1.0) + exp(-margin)), 6)
    df.select(col(idCol).as("id")).join(perDoc, Seq("id"), "left_outer")
      .select(col("id"), coalesce(col("n_toks"), lit(0L)).as("n_toks"),
        score.as("score"),
        coalesce((score >= 0.5).cast("int"), lit(0)).as("keep"))
  }

  /** Load a `CREATE MODEL … KIND 'linear'` weight artifact: a parquet of
    * (bucket, weight) rows — bucket ∈ [0, 256), integer weight, no
    * duplicate buckets — densified to the 256-slot array
    * [[hashedLinearScoreModel]] embeds (absent buckets weigh 0). The
    * table is MODEL-sized (≤ 256 rows) by contract, so the collect is a
    * driver-side constant, never corpus work. */
  def loadLinearWeights(spark: SparkSession, path: String): Array[Long] = {
    val df = spark.read.parquet(path)
    val names = df.columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
    require(names.contains("bucket") && names.contains("weight"),
      s"expected (bucket, weight) columns, found ${df.columns.mkString(", ")}")
    val rows = df.select(col("bucket").cast("long"), col("weight").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    require(rows.nonEmpty, "weight table is empty")
    require(rows.forall { case (b, _) => b >= 0 && b < 256 },
      "bucket ids must lie in [0, 256)")
    require(rows.map(_._1).distinct.length == rows.length,
      "duplicate bucket ids in weight table")
    val dense = Array.fill(256)(0L)
    rows.foreach { case (b, w) => dense(b.toInt) = w }
    dense
  }

  /** Canonical text normalization — the cleanup pass before hashing,
    * dedup keys, or tokenization: strip C0/C1 control characters and
    * zero-width/BOM codepoints, collapse every whitespace run (incl.
    * NBSP) to one space, trim. Pure codegen regexp chain — linear, no
    * shuffle; RE2-compatible patterns so an external oracle applies the
    * identical regexes. Deliberately NOT lossy beyond that (no case
    * folding, no accent stripping — those are policy, composable via
    * `lower()` where wanted). */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(
        // zero-width/BOM are DELETED (they join word halves); control
        // chars become spaces (they separate)
        regexp_replace(text, "[\\u200B\\u200C\\u200D\\uFEFF]", ""),
        "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", " "),
      "[\\s\\u00A0]+", " "))

  /** Compression-ratio quality signal (the CCNet/RedPajama heuristic):
    * highly repetitive or templated text deflates far below natural prose,
    * and near-random noise deflates above it — both tails are low-quality.
    * Returns (id, n_bytes, n_deflated, ratio = deflated/raw; 0-byte docs
    * → ratio 1.0 by convention).
    *
    * Scale shape: a mapPartitions batch kernel (one `Deflater` allocated
    * and reused per TASK, not per row — the same discipline as
    * [[Multimodal.decode]]'s codec kernel), embarrassingly parallel, no
    * shuffle, output a fixed 4-column row per doc. Deflate level 6 with
    * the default strategy is deterministic for a given input on the JDK's
    * zlib, so the operator is replay-stable; it is NOT recomputable in
    * ANSI SQL, so gates pin counts + ordering contracts (the ANN-family
    * oracle form), and the spec pins hand-checkable inequalities. */
  def compressionRatio(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // deflate is CPU-bound: widen a single-file input to the cluster's
    // parallelism (no-op at scale, where thousands of splits exist)
    val src = Par.widen(df, idCol)
      .select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, String)]
    src.mapPartitions { it =>
      val deflater = new java.util.zip.Deflater(6)
      // release the native zlib state at task end, not at finalization
      Option(org.apache.spark.TaskContext.get())
        .foreach(_.addTaskCompletionListener[Unit](_ => deflater.end()))
      val buf = new Array[Byte](64 * 1024)
      it.map { case (id, text) =>
        val raw = if (text == null) Array.emptyByteArray
          else text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        if (raw.isEmpty) (id, 0L, 0L, 1.0)
        else {
          deflater.reset()
          deflater.setInput(raw)
          deflater.finish()
          var n = 0L
          while (!deflater.finished()) n += deflater.deflate(buf)
          (id, raw.length.toLong, n,
            math.rint(n.toDouble / raw.length * 1e6) / 1e6)
        }
      }
    }.toDF("id", "n_bytes", "n_deflated", "ratio")
  }
}
