package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The subword tokenizers: BPE (Sennrich et al. 2016) and unigram-LM
  * (SentencePiece-style; Kudo 2018, "Subword Regularization"), one family
  * over one sealed [[Model]] type.
  *
  * Scale discipline, shared by both: TRAINING runs on the driver over the
  * capped word-frequency table ([[vocab]] — the family's only driver
  * copy, bounded by the cap whatever the corpus size); APPLICATION
  * collapses the corpus to its vocabulary — each model segments once per
  * distinct in-cap word into one `(word, toks)` [[segmentation]] table,
  * and the corpus side is explodes and joins only. Words are lowercased
  * maximal `[a-z]+` runs, ASCII-only on purpose so `substr` indexing
  * agrees byte-for-byte with any external oracle regardless of Unicode
  * normalization; a word outside the model vocabulary segments as one
  * token per character. On that table sit one per-doc count path
  * ([[tokenize]]) and one token-stream path ([[encodeTables]], then
  * [[encodeWith]]). */
object Subwords {

  /** A trained tokenizer: the reference segmentation of one word. */
  sealed trait Model {
    def segment(word: String): Vector[String]
  }

  /** An ordered BPE merge list (merges are order-sensitive). */
  final case class Bpe(merges: Seq[(String, String)]) extends Model {
    def segment(word: String): Vector[String] = bpeSegment(word, merges)

    /** One `a b` line per merge, in order. */
    def save(spark: SparkSession, path: String): Unit = {
      merges.foreach { case (a, b) =>
        require(a.nonEmpty && b.nonEmpty && !a.contains(" ") && !b.contains(" ") &&
          !a.contains("\n") && !b.contains("\n"), s"unsaveable merge pair ($a, $b)")
      }
      ModelIO.writeLines(spark, path, merges.map { case (a, b) => s"$a $b" })
    }
  }

  object Bpe {
    def load(spark: SparkSession, path: String): Bpe =
      Bpe(ModelIO.readLines(spark, path).map { line =>
        line.split(" ") match {
          case Array(a, b) => (a, b)
          case _ => throw new IllegalArgumentException(
            s"malformed BPE merge line `$line` in $path (expected `a b`)")
        }
      })
  }

  /** A unigram-LM piece vocabulary, (piece, logProb) in [[unigramTrain]]
    * order. */
  final case class Unigram(vocab: Seq[(String, Double)]) extends Model {
    private lazy val logProbs = vocab.toMap
    def segment(word: String): Vector[String] = unigramSegment(word, logProbs)

    /** `piece<TAB>logprob` lines. 6-dp decimal text round-trips the
      * round6'd log-probs exactly (both directions are correctly-rounded
      * conversions of k/10⁶). */
    def save(spark: SparkSession, path: String): Unit = {
      vocab.foreach { case (p, _) =>
        require(p.nonEmpty && !p.contains("\t") && !p.contains("\n"),
          s"unsaveable piece `$p`") }
      ModelIO.writeLines(spark, path, vocab.map { case (p, lp) => f"$p\t$lp%.6f" })
    }
  }

  object Unigram {
    def load(spark: SparkSession, path: String): Unigram =
      Unigram(ModelIO.readLines(spark, path).map { line =>
        line.split("\t") match {
          case Array(p, lp) => (p, lp.toDouble)
          case _ => throw new IllegalArgumentException(
            s"malformed unigram vocab line `$line` in $path (expected `piece\\tlogprob`)")
        }
      })
  }

  /** Default model-vocabulary cap. 2^16 words is generous for a
    * merge-statistics model (GPT-2's whole token vocab is 50k) while
    * bounding the driver copy to a few MB regardless of corpus size —
    * the property that makes `bpe_tokenize(rel, n)` safe on an unbounded
    * corpus (web-scale vocabularies grow ~N^0.5 with no ceiling; an
    * uncapped collect is a driver OOM). It also keeps the dense-id window
    * of [[encodeTables]] model-sized. */
  val DefaultBpeVocabCap: Int = 1 << 16

  /** The one word split of the family. */
  private def wordsOf(text: Column): Column = split(lower(text), "[^a-z]+")

  /** (id, wpos, word): every word of every document, in order. */
  private def words(df: DataFrame, textCol: String, idCol: String): DataFrame =
    Par.widen(df, idCol)
      .select(col(idCol).as("id"), posexplode(wordsOf(col(textCol))).as(Seq("wpos", "word")))
      .where(col("word") =!= "")

  /** The corpus-sized stage of training: the word-frequency table, one
    * hash aggregation with map-side partials. Everything after it (pair
    * counting, the merge loop, EM) runs over this VOCABULARY-sized table,
    * never re-scanning the corpus — a trillion tokens collapse to a few
    * million distinct words before any quadratic-ish work starts. */
  def bpeWordFrequencies(df: DataFrame, textCol: String, idCol: String): DataFrame =
    Par.widen(df, idCol)
      .select(explode(wordsOf(col(textCol))).as("word"))
      .where(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** The capped model vocabulary: top `cap` words by (freq DESC, word) —
    * a deterministic total order, so the cut is exactly reproducible by
    * any external oracle; min(cap, |vocab|) rows by construction. Lazy:
    * [[vocab]] is its only collect. */
  def bpeCappedVocab(df: DataFrame, textCol: String, idCol: String,
                     cap: Int): DataFrame = {
    require(cap > 0, s"vocabCap must be positive, got $cap")
    bpeWordFrequencies(df, textCol, idCol)
      .orderBy(col("freq").desc, col("word"))
      .limit(cap)
  }

  /** The driver copy of the capped vocabulary, (word, freq) — the one
    * collect of the family: training runs on it, and a model that
    * segments on the driver segments it. */
  def vocab(df: DataFrame, textCol: String, idCol: String,
            cap: Int = DefaultBpeVocabCap): Seq[(String, Long)] = {
    val wf = bpeCappedVocab(df, textCol, idCol, cap)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(wf.length <= cap, s"collected model vocab ${wf.length} exceeds cap $cap")
    wf
  }

  /** The (word, toks) segmentation table of the vocabulary under `model`.
    * Where segmentation runs is the model's: an applied BPE model whose
    * merges are all distinct pairs segments lazily on the executors with
    * the replace chain, over the capped vocabulary (`cap =
    * Int.MaxValue`: the full distinct-word table) and with no driver
    * copy. Every other model segments the driver copy of the capped
    * vocabulary: [[vocab]]'s, or `trainedOn`, the copy the model was just
    * trained on, so the corpus is collected once. An uncapped BPE list
    * always takes the chain, which rejects same-symbol merges rather
    * than collect an unbounded vocabulary. */
  def segmentation(df: DataFrame, textCol: String, idCol: String, model: Model,
                   cap: Int, trainedOn: Option[Seq[(String, Long)]] = None): DataFrame =
    model match {
      case Bpe(merges) if trainedOn.isEmpty &&
          (cap == Int.MaxValue || merges.forall { case (a, b) => a != b }) =>
        val table =
          if (cap == Int.MaxValue) bpeWordFrequencies(df, textCol, idCol)
          else bpeCappedVocab(df, textCol, idCol, cap)
        table.select(col("word"),
          split(trim(bpeSpacedApply(col("word"), merges)), " ").as("toks"))
      case _ =>
        val spark = df.sparkSession
        import spark.implicits._
        trainedOn.getOrElse(vocab(df, textCol, idCol, cap))
          .map { case (w, _) => (w, model.segment(w)) }.toDF("word", "toks")
    }

  /** Per-doc (id, n_words, n_tokens) under `model`: the corpus words join
    * the per-word token counts of the [[segmentation]] table and one
    * partial-agged groupBy per doc follows — no shuffle grows with the
    * model, and the per-symbol cost is vocabulary-, not corpus-,
    * proportional. LEFT join + char-count fallback: a word outside the
    * model vocabulary still counts (as `length(word)` tokens), so a cap
    * changes token counts only for rare words and never drops them from
    * `n_words`. No join hint: AQE broadcasts a model-sized table and
    * would shuffle-join a huge uncapped one. Docs with no letter run are
    * absent (no words → nothing to count), mirroring the oracle's GROUP
    * BY. */
  def tokenize(df: DataFrame, textCol: String, idCol: String, model: Model,
               cap: Int = DefaultBpeVocabCap,
               trainedOn: Option[Seq[(String, Long)]] = None): DataFrame = {
    val counts = segmentation(df, textCol, idCol, model, cap, trainedOn)
      .select(col("word"), size(col("toks")).cast("long").as("n_tokens"))
    words(df, textCol, idCol).join(counts, Seq("word"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).cast("long").as("n_words"),
        sum(coalesce(col("n_tokens"), length(col("word")).cast("long")))
          .as("n_tokens"))
  }

  /** (id, wpos, tpos, token): the corpus words joined to a segmentation
    * table (OOV fallback: one token per char, computed inline —
    * `split("")` on a non-empty string is its exact char sequence), one
    * row per token. */
  private def stream(df: DataFrame, textCol: String, idCol: String,
                     segmented: DataFrame): DataFrame =
    words(df, textCol, idCol)
      .join(segmented, Seq("word"), "left")
      .select(col("id"), col("wpos"),
        coalesce(col("toks"), split(col("word"), "")).as("toks"))
      .select(col("id"), col("wpos"),
        posexplode(col("toks")).as(Seq("tpos", "token")))

  /** The two MODEL-SIZED tables of the token stream: `segmented` =
    * [[segmentation]], `tokenIds` = (token, token_id) over the corpus's
    * distinct emitted tokens (char-fallback pieces included), dense ids by
    * `row_number() over (order by token)` — deterministic, reproducible by
    * any external system, and itself a registrable model artifact. Both
    * derive from `df`; to serve a STREAM with them ([[encodeWith]]),
    * freeze them (localCheckpoint) first. The cap keeps the id window
    * model-sized: an uncapped web-scale corpus would push a Heaps-law
    * vocabulary (10⁸+ distinct noisy "words") through ONE row_number
    * task, so an uncapped encode must say `cap = Int.MaxValue`.
    * `trainedOn` is [[segmentation]]'s: the vocabulary copy the model was
    * just trained on, so it is not collected again. */
  def encodeTables(df: DataFrame, textCol: String, idCol: String, model: Model,
                   cap: Int = DefaultBpeVocabCap,
                   trainedOn: Option[Seq[(String, Long)]] = None): (DataFrame, DataFrame) = {
    val segmented = segmentation(df, textCol, idCol, model, cap, trainedOn)
    val tokenIds = stream(df, textCol, idCol, segmented)
      .select("token").distinct()
      .select(col("token"),
        row_number().over(Window.orderBy(col("token"))).cast("long").as("token_id"))
    (segmented, tokenIds)
  }

  /** The token stream (id, wpos, tpos, token, token_id) from pre-built
    * [[encodeTables]] — the stateless serve path, identical on a batch
    * frame or a STREAM: the word and token joins are stream-static
    * against the model-sized tables (broadcast by AQE), with no
    * aggregation and no state store. The flattened-stream form is
    * deliberate: [[Curation.packTokenStream]] and any writer consume it
    * with nothing wider than a row. */
  def encodeWith(df: DataFrame, textCol: String, idCol: String,
                 segmented: DataFrame, tokenIds: DataFrame): DataFrame =
    stream(df, textCol, idCol, segmented)
      .join(tokenIds, Seq("token"))
      .select(col("id"), col("wpos"), col("tpos"), col("token"), col("token_id"))

  /** The token stream of `df` under `model`, totally ordered per doc by
    * (wpos, tpos): [[encodeTables]], then [[encodeWith]]. */
  def encode(df: DataFrame, textCol: String, idCol: String, model: Model,
             cap: Int = DefaultBpeVocabCap,
             trainedOn: Option[Seq[(String, Long)]] = None): DataFrame = {
    val (segmented, tokenIds) = encodeTables(df, textCol, idCol, model, cap, trainedOn)
    encodeWith(df, textCol, idCol, segmented, tokenIds)
  }

  /** Detokenize an [[encode]] frame back to text, (id, text_detok) — the
    * inspection path every packed-token pipeline needs. Both families
    * are concatenative, so no information is lost: tokens concatenate
    * within each word (tpos order), words join with single spaces (wpos
    * order), and decode(encode(x)) = the lowercase `[a-z]+`-word
    * normalization of x EXACTLY (oracle-gated — the oracle derives the
    * expected text from the RAW corpus, independent of the codecs). */
  def bpeDecode(encoded: DataFrame): DataFrame = {
    // ONE hash shuffle on id + an in-partition UnsafeExternalSort, then a
    // streaming assembler holding a single document's string at a time.
    // The obvious two-level collect_list formulation buffered every
    // token struct in aggregation state — 36 GB of spill at the 100×
    // sweep; this shape spills only if one PARTITION outgrows memory,
    // and then through the radix sorter, not object aggregation maps.
    val spark = encoded.sparkSession
    import spark.implicits._
    encoded.select(col("id").cast("long"), col("wpos").cast("int"),
        col("tpos").cast("int"), col("token").cast("string"))
      .repartition(col("id"))
      .sortWithinPartitions("id", "wpos", "tpos")
      .as[(Long, Int, Int, String)]
      .mapPartitions { it =>
        new Iterator[(Long, String)] {
          private var cur: Option[(Long, Int, Int, String)] =
            if (it.hasNext) Some(it.next()) else None
          def hasNext: Boolean = cur.isDefined
          def next(): (Long, String) = {
            val (id, w0, _, t0) = cur.get
            val sb = new java.lang.StringBuilder(t0)
            var lastW = w0
            var nxt = if (it.hasNext) Some(it.next()) else None
            while (nxt.exists(_._1 == id)) {
              val (_, w, _, t) = nxt.get
              if (w != lastW) { sb.append(' '); lastW = w }
              sb.append(t)
              nxt = if (it.hasNext) Some(it.next()) else None
            }
            cur = nxt
            (id, sb.toString)
          }
        }
      }.toDF("id", "text_detok")
  }

  // ------------------------------------------------------------------
  // BPE
  // ------------------------------------------------------------------

  /** Frequency-weighted adjacent character-pair counts over the word
    * table — the statistic the first BPE merge maximizes. Input is the
    * vocabulary-sized output of [[bpeWordFrequencies]], so the explode is
    * ~(mean word length) x vocab rows, not corpus-sized. Ties in the
    * top-k cut break on the pair text. Single-char words contribute no
    * pairs (guarded: Spark's `sequence(1, 0)` would DESCEND, not empty). */
  def bpePairCounts(wordFreq: DataFrame, k: Int = 30): DataFrame =
    wordFreq
      .where(length(col("word")) >= 2)
      .select(col("freq"), explode(transform(
          sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(sum(col("freq")).as("n"))
      .orderBy(col("n").desc, col("pair"))
      .limit(k)

  /** One BPE merge applied to a symbol sequence: left-to-right,
    * non-overlapping — the reference semantics the distributed replace
    * chain ([[bpeSpacedApply]]) must reproduce (and the spec checks it
    * does, word by word, on the real corpus vocabulary). */
  def bpeMergeWord(syms: Vector[String], p: (String, String)): Vector[String] = {
    val out = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == p._1 && syms(i + 1) == p._2) {
        out += (p._1 + p._2); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.result()
  }

  /** Segment one word with an ordered, already-trained merge list —
    * the driver-side reference tokenizer (each merge fully applied in
    * training order, exactly as [[bpeTrain]] built it). */
  def bpeSegment(word: String, merges: Seq[(String, String)]): Vector[String] =
    merges.foldLeft(word.map(_.toString).toVector)(bpeMergeWord)

  /** The BPE merge loop, run where it belongs: on the driver, over the
    * collected vocabulary-sized word-frequency table (exactly how
    * reference BPE trainers work — the corpus pass is distributed, the
    * merge iterations are not). Deterministic: each round merges the
    * highest-count adjacent symbol pair, ties broken by (left, right)
    * symbol text; within a word, merges apply left-to-right and do not
    * overlap. Returns the ordered merge list; stops early when no pair
    * remains. */
  def bpeTrain(wordFreq: Seq[(String, Long)], numMerges: Int): Seq[(String, String)] = {
    var words: Seq[(Vector[String], Long)] =
      wordFreq.map { case (w, f) => (w.map(_.toString).toVector, f) }
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    def mergeWord(syms: Vector[String], p: (String, String)): Vector[String] =
      bpeMergeWord(syms, p)
    var round = 0
    var exhausted = false
    while (round < numMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      for ((syms, f) <- words; j <- 0 until syms.length - 1) {
        val p = (syms(j), syms(j + 1))
        counts.update(p, counts.getOrElse(p, 0L) + f)
      }
      if (counts.isEmpty) exhausted = true
      else {
        val best = counts.toSeq
          .sortBy { case ((a, b), n) => (-n, a, b) }.head._1
        merges += best
        words = words.map { case (syms, f) => (mergeWord(syms, best), f) }
        round += 1
      }
    }
    merges.toSeq
  }

  /** The spaced-symbol replace chain for one ordered merge list: word
    * "lower" → " l o w e r "; each merge (a,b) is TWO global
    * `replace(" a b " → " ab ")` passes, all inside whole-stage codegen.
    * For a != b two passes are EXACTLY left-to-right non-overlapping BPE
    * ([[bpeMergeWord]]): a pass-1 match is missed only when its leading
    * space was consumed by the immediately preceding match, two misses
    * are never adjacent (a merged token separates them), and a
    * replacement (" ab ") can never mint a new " a b " occurrence (a+b
    * is a single token distinct from both operands) — so pass 2 catches
    * every miss and nothing else. For a == b that argument fails (a run
    * of equal symbols strands singles between merged pairs), hence the
    * require: same-symbol merges belong on the driver-side
    * [[bpeSegment]] over a collected vocabulary. */
  def bpeSpacedApply(word: Column, merges: Seq[(String, String)]): Column = {
    merges.foreach { case (a, b) =>
      require(a.nonEmpty && b.nonEmpty && !a.contains(" ") && !b.contains(" "),
        s"bad merge pair ($a, $b)")
      require(a != b,
        s"same-symbol merge ($a, $b): the replace chain is exact only for " +
          "distinct pairs — segment such merge lists with bpeSegment instead")
    }
    val spaced = concat(lit(" "), array_join(split(word, ""), " "), lit(" "))
    merges.foldLeft(spaced) { case (s, (a, b)) =>
      val from = lit(s" $a $b ")
      val to = lit(s" $a$b ")
      replace(replace(s, from, to), from, to)
    }
  }

  // ------------------------------------------------------------------
  // Unigram-LM. Deliberately DETERMINISTIC variant (every gate needs
  // exact reproducibility): hard-EM — the E-step uses Viterbi best
  // segmentations (not forward-backward expectations), a fixed iteration
  // count, total orders on all ties, and log-probs rounded to 6 dp at
  // every iteration boundary. Single characters are never pruned (floor
  // log-prob keeps segmentation total), mirroring the reference
  // SentencePiece's character-coverage guarantee.
  // ------------------------------------------------------------------

  /** Log-prob floor for pieces with zero Viterbi count (kept single
    * chars) and for characters outside the model alphabet. */
  val UnigramFloorLogProb: Double = -20.0

  private def round6(x: Double): Double = math.rint(x * 1e6) / 1e6

  /** Seed candidate pieces: every substring of length 1..maxPieceLen of
    * every vocabulary word, frequency-weighted by occurrence; all single
    * characters are kept unconditionally, multi-char candidates are cut
    * to the top `seedSize` by (weight DESC, piece ASC) — a total order,
    * so the seed is exactly reproducible. */
  def unigramSeedVocab(wordFreq: Seq[(String, Long)], maxPieceLen: Int = 6,
                       seedSize: Int = 4096): Seq[(String, Long)] = {
    val w = scala.collection.mutable.HashMap.empty[String, Long]
    for ((word, f) <- wordFreq; i <- 0 until word.length;
         j <- (i + 1) to math.min(word.length, i + maxPieceLen))
      w.update(word.substring(i, j), w.getOrElse(word.substring(i, j), 0L) + f)
    val (chars, multi) = w.toSeq.partition(_._1.length == 1)
    chars.sortBy(_._1) ++
      multi.sortBy { case (p, f) => (-f, p) }.take(math.max(0, seedSize - chars.length))
  }

  /** Viterbi best segmentation of `word` under piece log-probs: maximize
    * the summed log-prob; ties prefer FEWER pieces, remaining ties prefer
    * the longer piece at the earliest split (fixed scan order — a total
    * tie-break, pinned by spec). Characters absent from `vocab` segment
    * as themselves at [[UnigramFloorLogProb]], so the function is total.
    * O(len × maxPieceLen) per word. */
  def unigramSegment(word: String, vocab: collection.Map[String, Double],
                     maxPieceLen: Int = 6): Vector[String] = {
    val n = word.length
    if (n == 0) return Vector.empty
    val bestScore = Array.fill(n + 1)(Double.NegativeInfinity)
    val bestCount = Array.fill(n + 1)(Int.MaxValue)
    val bestPrev = Array.fill(n + 1)(-1)
    bestScore(0) = 0.0; bestCount(0) = 0
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - maxPieceLen)
      while (j < i) {
        val piece = word.substring(j, i)
        val lp = vocab.getOrElse(piece,
          if (i - j == 1) UnigramFloorLogProb else Double.NegativeInfinity)
        if (lp > Double.NegativeInfinity && bestScore(j) > Double.NegativeInfinity) {
          val s = bestScore(j) + lp
          val c = bestCount(j) + 1
          // strictly-better score wins; equal score → fewer pieces; the
          // ascending-j scan means later (shorter-last-piece) candidates
          // must be STRICTLY better to replace — i.e. ties keep the
          // longest last piece
          if (s > bestScore(i) + 1e-12 ||
              (math.abs(s - bestScore(i)) <= 1e-12 && c < bestCount(i))) {
            bestScore(i) = s; bestCount(i) = c; bestPrev(i) = j
          }
        }
        j += 1
      }
      i += 1
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var k = n
    while (k > 0) { val p = bestPrev(k); out += word.substring(p, k); k = p }
    out.reverseIterator.toVector
  }

  /** Train a unigram-LM piece vocabulary on a word-frequency table —
    * deterministic Viterbi hard-EM:
    *  1. seed = [[unigramSeedVocab]], probs ∝ substring weight;
    *  2. each iteration: Viterbi-segment every word under the current
    *     (6-dp-rounded) log-probs, recount pieces frequency-weighted,
    *     re-normalize; multi-char pieces with zero count drop out,
    *     single chars stay at the floor;
    *  3. after the last iteration, cut to `vocabSize` by
    *     (count DESC, piece ASC), single chars always kept.
    * Returns (piece, logProb) with log-probs rounded to 6 dp — the exact
    * values any external system reproduces from the same word table. */
  def unigramTrain(wordFreq: Seq[(String, Long)], vocabSize: Int = 512,
                   iters: Int = 4, maxPieceLen: Int = 6,
                   seedSize: Int = 4096): Seq[(String, Double)] = {
    require(vocabSize > 0 && iters > 0 && maxPieceLen > 0)
    val seed = unigramSeedVocab(wordFreq, maxPieceLen, seedSize)
    val total0 = seed.map(_._2).sum.toDouble.max(1.0)
    var vocab: Map[String, Double] = seed.map { case (p, f) =>
      p -> round6(math.log(f / total0)) }.toMap
    var it = 0
    while (it < iters) {
      val counts = scala.collection.mutable.HashMap.empty[String, Long]
      for ((word, f) <- wordFreq; piece <- unigramSegment(word, vocab, maxPieceLen))
        counts.update(piece, counts.getOrElse(piece, 0L) + f)
      val totalC = counts.values.sum.toDouble.max(1.0)
      val chars = vocab.keysIterator.filter(_.length == 1).toSeq
      val kept = counts.toSeq.filter(_._2 > 0).map { case (p, c) =>
        p -> round6(math.log(c / totalC)) }
      val floorChars = chars.filterNot(counts.contains)
        .map(_ -> UnigramFloorLogProb)
      // final-iteration cut to vocabSize (count DESC, piece ASC); single
      // chars ride along unconditionally
      val cut =
        if (it == iters - 1) {
          val (c1, cm) = kept.partition(_._1.length == 1)
          val order = counts.toMap
          c1 ++ cm.sortBy { case (p, _) => (-order(p), p) }
            .take(math.max(0, vocabSize - c1.length - floorChars.length))
        } else kept
      vocab = (cut ++ floorChars).toMap
      it += 1
    }
    vocab.toSeq.sortBy { case (p, lp) => (-lp, p) }
  }
}
