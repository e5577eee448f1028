package graft.gates

import graft.GraftSession
import graft.operators._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import Duck._
import Family._
import Harness._

/** The LLM-data operator gates (SURVEY §7.2): batch runs of the
  * `graft.operators` kernels. */
object OperatorGates {

  val all: Seq[Gate] = Seq(
    // ---- dedup ----
    Gate("x01_dedup_exact", Operator, "SELECT MIN(doc_id) AS keep_id FROM documents GROUP BY text ORDER BY keep_id",
      (s, d) => Dedup.exact(docs(s, d), Seq("text"), "doc_id")
        .select(col("doc_id").as("keep_id")).orderBy("keep_id")),
    Gate("x02_dedup_exact_hash", Operator,
      "SELECT MIN(doc_id) AS keep_id FROM documents GROUP BY text ORDER BY keep_id",
      (s, d) => Dedup.exactByHash(docs(s, d), "text", "doc_id")
        .select(col("doc_id").as("keep_id")).orderBy("keep_id")),
    // LSH candidates verified with exact n-gram Jaccard — the production
    // dedup pattern (candidates are recall-complete here, so the verified
    // set equals the DuckDB all-pairs truth and hash-matches it).
    Gate("x03_dedup_minhash_lsh", Operator,
      // x03/x05: LSH candidates + exact-Jaccard verification equal the
      // DuckDB all-pairs truth (recall-complete at the gate corpus)
      duckJaccardTruth(0.7),
      (s, d) => {
      // checkpoint the (tiny) pair set: ngramJaccard references it three
      // times; without this the whole LSH pipeline re-executes per reference
      val cands = Dedup.minhashCandidates(docs(s, d), "text", "doc_id", threshold = 0.5)
        .select(col("ida"), col("idb")).localCheckpoint()
      Dedup.ngramJaccard(cands, docs(s, d), "text", "doc_id")
        .where(col("jaccard") >= 0.7)
        .select(col("ida"), col("idb"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("ida", "idb")
    }),
    // SimHash measures a different similarity than Jaccard, so candidates
    // can't equal a DuckDB-computable truth set; the gate checks the
    // deterministic contract instead: pairs are ordered, within the Hamming
    // budget, and mostly true near-dups (verified by exact n-gram Jaccard).
    Gate("x04_dedup_simhash", Operator,
      "SELECT CAST(1 AS INTEGER) AS all_within, CAST(1 AS INTEGER) AS ordered_pairs, " +
      "CAST(1 AS INTEGER) AS precision_ok",
      (s, d) => {
      // checkpoint: referenced once directly and three times via ngramJaccard
      val cands = Dedup.simhashCandidates(docs(s, d), "text", "doc_id", maxHamming = 3)
        .localCheckpoint()
      val verified = Dedup.ngramJaccard(
        cands.select(col("ida"), col("idb")), docs(s, d), "text", "doc_id")
      cands.join(verified, Seq("ida", "idb")).agg(
        coalesce(max(col("hamming")) <= 3, lit(true)).cast("int").as("all_within"),
        coalesce(sum(when(col("ida") < col("idb"), 1).otherwise(0)) === count(lit(1)),
          lit(true)).cast("int").as("ordered_pairs"),
        // precision is contract-checked at hamming <= 1 ONLY: the radius-3
        // candidate set is a RECALL set by design (random 64-bit collisions
        // at h=2-3 grow ~n² while true dups grow ~n — measured 0.8 at
        // sf0.01 but 0.12 at sf0.1), which is exactly why the pipeline
        // exact-verifies candidates. h<=1 pairs are near-identical
        // signatures; if the bit math broke, THIS floor fails at any scale
        coalesce(sum(when(col("hamming") <= 1 && col("jaccard") >= 0.5, 1).otherwise(0)) * 10 >=
            sum(when(col("hamming") <= 1, 1).otherwise(0)) * 9,
          lit(true)).cast("int").as("precision_ok"))
    }),
    Gate("x05_dedup_ngram_jaccard", Operator, duckJaccardTruth(0.8), (s, d) =>
      Dedup.nearDuplicates(docs(s, d), "text", "doc_id", threshold = 0.8)
        .orderBy("ida", "idb")),
    // Pair output → per-doc CLUSTER assignment (min-label propagation over
    // the verified near-dup graph); DuckDB recomputes the same components
    // with a recursive transitive closure over the exact-Jaccard pairs.
    Gate("x27_cluster_dedup", Operator, duckComponentsTruth(0.8), (s, d) => {
      val pairs = Dedup.nearDuplicates(docs(s, d), "text", "doc_id", threshold = 0.8)
        .select(col("ida"), col("idb")).localCheckpoint()
      Components.connectedComponents(pairs).orderBy("id")
    }),
    // Star-edge near-dup clustering — the dup-heavy-corpus scale path
    // (O(rows × bands) candidate edges instead of C(m,2) per bucket).
    // n_true_pairs = exact all-pairs Jaccard count on a bounded
    // sub-universe (cross-engine number, recomputed by DuckDB); recall_ok
    // = >= 90% of those truth pairs land in ONE cluster (computed Spark-
    // side — star connectivity loss would flip it to 0 and fail the hash)
    Gate("x57_cluster_star", Operator,
      // x57: n_true_pairs is the cross-engine number (exact all-pairs
      // Jaccard on doc_id < 500); recall_ok is computed Spark-side
      // against that truth and pinned to 1 here — star-connectivity
      // recall loss shows up as a 0 and a hash mismatch
      s"WITH $duckGramCtes, " +
      "p AS (SELECT a.doc_id AS ida, b.doc_id AS idb FROM g a JOIN g b " +
      "ON a.doc_id < b.doc_id WHERE a.doc_id < 500 AND b.doc_id < 500 " +
      s"AND $duckJaccardExpr >= 0.8) " +
      "SELECT CAST(count(*) AS BIGINT) AS n_true_pairs, " +
      "CAST(1 AS INTEGER) AS recall_ok FROM p",
      (s, d) => {
      val dd = docs(s, d)
      val clusters = Dedup.clusterNearDuplicates(dd, "text", "doc_id", threshold = 0.8)
        .localCheckpoint()
      // truth = exact all-pairs Jaccard on the sub-universe, computed via
      // an inverted shingle index: a pair with jaccard > 0 shares a gram,
      // so the gram self-join reaches every qualifying pair, and jaccard
      // derives from COUNTS (|A∩B| = shared, |A∪B| = na+nb-shared) — no
      // wide gram-array shuffles, no nested-loop all-pairs join. Grams
      // ride as xxhash64 longs (2^-64 collisions, the repo-wide contract)
      val sub = dd.where(col("doc_id") < 500)
      val gi = Dedup.shingleRows(sub, "text", "doc_id")
        .select(col("id"), xxhash64(col("sh")).as("g")).distinct()
        .localCheckpoint()
      val na = gi.groupBy("id").agg(count(lit(1)).as("n"))
      val truth = gi.select(col("g"), col("id").as("ida"))
        .join(gi.select(col("g"), col("id").as("idb")), "g")
        .where(col("ida") < col("idb"))
        .groupBy(col("ida"), col("idb")).agg(count(lit(1)).as("shared"))
        .join(na.select(col("id").as("ida"), col("n").as("na")), "ida")
        .join(na.select(col("id").as("idb"), col("n").as("nb")), "idb")
        .where(col("shared").cast("double") /
          (col("na") + col("nb") - col("shared")) >= 0.8)
        .select(col("ida"), col("idb"))
      val ca = clusters.select(col("id").as("ida"), col("comp").as("ca"))
      val cb = clusters.select(col("id").as("idb"), col("comp").as("cb"))
      truth.join(ca, Seq("ida"), "left").join(cb, Seq("idb"), "left").agg(
        count(lit(1)).cast("bigint").as("n_true_pairs"),
        coalesce(
          sum(when(col("ca") === col("cb"), 1).otherwise(0)) * 10 >= count(lit(1)) * 9,
          lit(true)).cast("int").as("recall_ok"))
    }),
    // ---- the WEB curation pipeline (r12): the round-12 family as ONE
    // composition — canonical-URL dedup (re-crawl removal) → encoding
    // hygiene (mojibake drop) → PII redaction → Gopher wc/mwl keep.
    // The oracle re-runs every stage in DuckDB and the gate emits the
    // FULL survivor id list, so a pass pins every keep/drop decision of
    // the composed chain, not just counts ----
    Gate("x119_web_pipeline", Operator,
      // x119: every stage re-run in DuckDB — family min-id (url dedup),
      // the q132 encoding regexes, the q126 redaction chain, the x65
      // word/mean-word-len signals — and the FULL survivor list compared
      "WITH fam AS (SELECT min(doc_id) AS doc_id FROM documents " +
      "GROUP BY doc_id - doc_id % 3), " +
      "crawl AS (SELECT d.doc_id, d.text || CASE WHEN d.doc_id % 11 = 5 " +
      "THEN ' bad' || chr(65533) || 'text' ELSE '' END AS t " +
      "FROM documents d JOIN fam ON d.doc_id = fam.doc_id), " +
      "clean AS (SELECT doc_id, t FROM crawl " +
      "WHERE len(regexp_extract_all(t, '\\x{FFFD}')) = 0 " +
      "AND len(regexp_extract_all(t, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]')) = 0), " +
      "red AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(t, " +
      "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
      "'\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'), " +
      "'\\b\\d{7,15}\\b', '<NUM>', 'g') AS t FROM clean), " +
      "base AS (SELECT doc_id, " +
      "list_filter(regexp_split_to_array(trim(t), '\\s+'), w -> w <> '') AS ws FROM red), " +
      "sig AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words, " +
      "ROUND(CAST(COALESCE(list_sum(list_transform(ws, w -> length(w))), 0) AS DOUBLE) " +
      "/ GREATEST(len(ws), 1), 6) AS mwl FROM base) " +
      "SELECT doc_id FROM sig WHERE n_words >= 50 AND n_words <= 100000 " +
      "AND mwl >= 3.0 AND mwl <= 10.0 ORDER BY doc_id",
      (s, d) => {
      val leader = col("doc_id") - col("doc_id") % 3
      val canon = UrlCuration.synthCanonicalUrl(leader)
      val url = when(col("doc_id") % 3 === 0, canon)
        .when(col("doc_id") % 3 === 1,
          concat(regexp_replace(canon, "://", "://www."),
            lit("#v"), col("doc_id").cast("string")))
        .otherwise(when(instr(canon, "?") > 0,
            concat(canon, lit("&utm_campaign=y")))
          .otherwise(concat(canon, lit("?utm_source=x"))))
      // every 11th-mod-5 doc gets transcode damage the hygiene stage drops
      val crawl = docs(s, d).select(col("doc_id"), url.as("url"),
        concat(col("text"), when(col("doc_id") % 11 === 5,
          lit(" bad\uFFFDtext")).otherwise(lit(""))).as("text"))
      val afterUrl = UrlCuration.urlDedup(crawl, "url", "doc_id")
        .select("doc_id", "text")
      val cleanIds = TextAnalysis.scriptStats(afterUrl, "text", "doc_id")
        .where(col("ok_encoding") === 1).select(col("id").as("doc_id"))
      val redacted = afterUrl.join(cleanIds, "doc_id")
        .select(col("doc_id"), TextAnalysis.redactPII(col("text")).as("text"))
      QualityFilters.gopherFilter(redacted, "text", Seq("wc_ok", "mwl_ok"))
        .select(col("doc_id")).orderBy("doc_id")
    }),
    // ---- exact-substring REMOVAL (r13): the Lee-et-al. companion to
    // x44's detection — every char position covered by a 30-gram that a
    // lower-id doc also contains is cut; the oracle recomputes the FULL
    // cleaned text per doc (position anti-join + ordered string_agg) ----
    Gate("x125_substring_removal", Operator,
      // x125: the full cleaned text recomputed by DuckDB — gram
      // ownership (min id), covered-position expansion, anti-join, and
      // ordered per-doc reassembly
      "WITH d AS (SELECT doc_id AS id, lower(trim(text)) AS t FROM documents), " +
      "g AS (SELECT id, p, substring(t, p, 30) AS gr " +
      "FROM d, unnest(generate_series(1, length(t) - 29)) AS s(p) " +
      "WHERE length(t) >= 30), " +
      "own AS (SELECT gr, min(id) AS o FROM g GROUP BY gr), " +
      "cov AS (SELECT g.id, g.p FROM g JOIN own USING (gr) WHERE g.id > own.o), " +
      "cpos AS (SELECT DISTINCT id, p + u AS q " +
      "FROM cov, unnest(generate_series(0, 29)) AS su(u)), " +
      "pos AS (SELECT id, q, t FROM d, unnest(generate_series(1, length(t))) AS sp(q)), " +
      "kept AS (SELECT pos.id, pos.q, substring(pos.t, pos.q, 1) AS ch " +
      "FROM pos ANTI JOIN cpos USING (id, q)), " +
      "clean AS (SELECT id, string_agg(ch, '' ORDER BY q) AS txt FROM kept GROUP BY id) " +
      "SELECT d.id, COALESCE(c.txt, '') AS text_clean, " +
      "CAST(length(d.t) - length(COALESCE(c.txt, '')) AS BIGINT) AS n_removed " +
      "FROM d LEFT JOIN clean c USING (id) ORDER BY id",
      (s, d) => TextAnalysis.removeSharedSubstrings(docs(s, d), "text", "doc_id", k = 30)
        .select(col("id"), col("text_clean"),
          col("n_removed").cast("long").as("n_removed"))
        .orderBy("id")),
    // ---- stride (winnowing) recall contract (r14): the 100 TB sampling
    // lever's guarantee, checked per doc against exact recomputation —
    // every doc sharing a (k + stride - 1)-char span MUST be detected at
    // that stride (winnowing theorem), and every stride detection MUST
    // be a real shared k-gram (selected grams ⊆ all grams) ----
    Gate("x126_substring_stride", Operator,
      // x126: has_span33 recomputed exactly (the x44 shape at k = 33 —
      // sharing a 33-gram ≡ sharing a >= 33-char span, the winnowing
      // guarantee length for k = 30, stride = 4); both contract flags
      // must be constant 1 for every doc
      "WITH d AS (SELECT doc_id, lower(trim(text)) AS t FROM documents), " +
      "g AS (SELECT DISTINCT doc_id, unnest([substring(t, i, 33) for i in range(1, len(t) - 31)]) AS gram " +
      "FROM d WHERE length(t) >= 33), " +
      "c AS (SELECT gram, count(*) AS nd FROM g GROUP BY gram), " +
      "s AS (SELECT g.doc_id, count(*) AS n33 FROM g JOIN c USING (gram) " +
      "WHERE c.nd > 1 GROUP BY g.doc_id) " +
      "SELECT d2.doc_id AS id, " +
      "CAST(CASE WHEN COALESCE(s.n33, 0) > 0 THEN 1 ELSE 0 END AS INTEGER) AS has_span33, " +
      "CAST(1 AS INTEGER) AS recall_ok, CAST(1 AS INTEGER) AS precision_ok " +
      "FROM documents d2 LEFT JOIN s USING (doc_id) ORDER BY id",
      (s, d) => {
      val dd = docs(s, d)
      val det = TextAnalysis.sharedSubstrings(dd, "text", "doc_id",
          k = 30, stride = 4)
        .select(col("id"), col("n_shared").as("__nw"))
      val span33 = TextAnalysis.sharedSubstrings(dd, "text", "doc_id", k = 33)
        .select(col("id"), col("n_shared").as("__n33"))
      val exact30 = TextAnalysis.sharedSubstrings(dd, "text", "doc_id", k = 30)
        .select(col("id"), col("n_shared").as("__n30"))
      det.join(span33, "id").join(exact30, "id")
        .select(col("id"),
          (col("__n33") > 0).cast("int").as("has_span33"),
          (col("__n33") === 0 || col("__nw") > 0).cast("int").as("recall_ok"),
          (col("__nw") === 0 || col("__n30") > 0).cast("int").as("precision_ok"))
        .orderBy("id")
    }),
    // ---- gram-key bucketing is output-IDENTICAL (r14): the shuffle-
    // slicing lever re-runs ownership/coverage per pmod(__gh, 4) slice;
    // the oracle is x125's byte-exact cleaned text, unchanged ----
    Gate("x127_substring_removal_bucketed", Operator,
      // x127: bucketing is output-identical — the x125 oracle verbatim
      "WITH d AS (SELECT doc_id AS id, lower(trim(text)) AS t FROM documents), " +
      "g AS (SELECT id, p, substring(t, p, 30) AS gr " +
      "FROM d, unnest(generate_series(1, length(t) - 29)) AS s(p) " +
      "WHERE length(t) >= 30), " +
      "own AS (SELECT gr, min(id) AS o FROM g GROUP BY gr), " +
      "cov AS (SELECT g.id, g.p FROM g JOIN own USING (gr) WHERE g.id > own.o), " +
      "cpos AS (SELECT DISTINCT id, p + u AS q " +
      "FROM cov, unnest(generate_series(0, 29)) AS su(u)), " +
      "pos AS (SELECT id, q, t FROM d, unnest(generate_series(1, length(t))) AS sp(q)), " +
      "kept AS (SELECT pos.id, pos.q, substring(pos.t, pos.q, 1) AS ch " +
      "FROM pos ANTI JOIN cpos USING (id, q)), " +
      "clean AS (SELECT id, string_agg(ch, '' ORDER BY q) AS txt FROM kept GROUP BY id) " +
      "SELECT d.id, COALESCE(c.txt, '') AS text_clean, " +
      "CAST(length(d.t) - length(COALESCE(c.txt, '')) AS BIGINT) AS n_removed " +
      "FROM d LEFT JOIN clean c USING (id) ORDER BY id",
      (s, d) => TextAnalysis.removeSharedSubstrings(docs(s, d), "text", "doc_id",
          k = 30, buckets = 4)
        .select(col("id"), col("text_clean"),
          col("n_removed").cast("long").as("n_removed"))
        .orderBy("id")),
    // ---- stride removal END-TO-END (r15): the winnowing lever applied
    // to REMOVAL, against a DuckDB-computable contract — constructed
    // full duplicates (doc_id % 5 == 3 copies the text of doc_id - 3)
    // must shrink to <= 2*(stride-1) residual chars (content-only
    // selection: both copies pick identical grams, consecutive
    // selections are <= stride <= k apart, so the interior is gap-free
    // and only the <= stride-1 chars outside the first/last selection
    // survive), and docs sharing NO exact 30-gram must come back
    // byte-identical (selected grams ⊆ real grams — no false
    // positives). has_shared is recomputed exactly by the oracle (the
    // x44 window shape over the MODIFIED corpus), so the pass also pins
    // the dup-construction arithmetic ----
    Gate("x129_substring_stride_removal", Operator,
      // x129: the modified corpus (dup construction) rebuilt by the
      // same LEFT JOIN arithmetic, has_shared recomputed exactly (the
      // x44/x126 window shape), contract flags constant 1
      "WITH dmod AS (SELECT d.doc_id, " +
      "CASE WHEN d.doc_id % 5 = 3 AND don.text IS NOT NULL THEN 1 ELSE 0 END AS is_dup, " +
      "CASE WHEN d.doc_id % 5 = 3 AND don.text IS NOT NULL THEN don.text ELSE d.text END AS text " +
      "FROM documents d LEFT JOIN documents don ON don.doc_id = d.doc_id - 3), " +
      "t AS (SELECT doc_id, is_dup, lower(trim(text)) AS t FROM dmod), " +
      "g AS (SELECT DISTINCT doc_id, unnest([substring(t, i, 30) for i in range(1, len(t) - 28)]) AS gram " +
      "FROM t WHERE length(t) >= 30), " +
      "c AS (SELECT gram, count(*) AS nd FROM g GROUP BY gram), " +
      "s AS (SELECT g.doc_id, count(*) AS n FROM g JOIN c USING (gram) " +
      "WHERE c.nd > 1 GROUP BY g.doc_id) " +
      "SELECT t.doc_id AS id, CAST(t.is_dup AS INTEGER) AS is_dup, " +
      "CAST(CASE WHEN COALESCE(s.n, 0) > 0 THEN 1 ELSE 0 END AS INTEGER) AS has_shared, " +
      "CAST(1 AS INTEGER) AS resid_ok, CAST(1 AS INTEGER) AS clean_ok " +
      "FROM t LEFT JOIN s USING (doc_id) ORDER BY id",
      (s, d) => {
      val dd = docs(s, d)
      val donors = dd.select((col("doc_id") + lit(3L)).as("doc_id"),
        col("text").as("__dt"))
      val mod = dd.select(col("doc_id"), col("text"))
        .join(donors, Seq("doc_id"), "left")
        .select(col("doc_id"),
          (col("doc_id") % 5 === 3 && col("__dt").isNotNull).as("__dup"),
          when(col("doc_id") % 5 === 3 && col("__dt").isNotNull, col("__dt"))
            .otherwise(col("text")).as("text"))
        .localCheckpoint() // removal + exact detection + norm read it
      val cleaned = TextAnalysis.removeSharedSubstrings(mod, "text", "doc_id",
        k = 30, stride = 4)
      val exact = TextAnalysis.sharedSubstrings(mod, "text", "doc_id", k = 30)
        .select(col("id"), col("n_shared"))
      val normed = mod.select(col("doc_id").as("id"), col("__dup"),
        lower(trim(col("text"))).as("__nt"))
      cleaned.join(exact, "id").join(normed, "id")
        .select(col("id"),
          col("__dup").cast("int").as("is_dup"),
          (col("n_shared") > 0).cast("int").as("has_shared"),
          when(col("__dup") && length(col("__nt")) >= 30,
            (length(col("text_clean")) <= 6).cast("int"))
            .otherwise(1).as("resid_ok"),
          when(col("n_shared") === 0,
            (col("text_clean") === col("__nt")).cast("int"))
            .otherwise(1).as("clean_ok"))
        .orderBy("id")
    }),
    // ---- auto-shard packing (r15): the PRODUCTION pack shape — shard
    // count DERIVED from the measured token total (ceil(total/target)),
    // not pinned by the caller (the sf10 sizing study: pinned-8 58.4 s
    // vs auto 25.0 s). Placement stays the portable multiplicative
    // hash, so the oracle enumerates the derived shards exactly as x98
    // enumerates its pinned 8 ----
    Gate("x130_pack_tokens_auto", Operator,
      // x130: x98's oracle with the shard count DERIVED the way
      // packTokenStreamAuto derives it — ceil(total tokens / 20000)
      s"WITH $duckBpeEncodeCtes, " +
      "tot AS (SELECT CAST(GREATEST(1, (count(*) + 19999) // 20000) AS BIGINT) AS ns FROM j), " +
      "sh AS (SELECT j.*, ((((doc_id % 1000000) * 2654435761) % 1000000) % (SELECT ns FROM tot)) AS shard FROM j), " +
      "rn AS (SELECT *, CAST(row_number() OVER (PARTITION BY shard ORDER BY doc_id, wpos, tpos) - 1 AS BIGINT) AS i FROM sh) " +
      "SELECT CAST(shard AS BIGINT) AS shard, CAST(i // 256 AS BIGINT) AS seq_id, " +
      "CAST(COUNT(*) AS BIGINT) AS n_tokens, " +
      "md5(string_agg(CAST(token_id AS VARCHAR), ' ' ORDER BY i % 256)) AS h " +
      "FROM rn GROUP BY 1, 2 ORDER BY 1, 2",
      (s, d) => {
      val enc = Subwords.encode(docs(s, d), "text", "doc_id", Subwords.Bpe(X86_MERGES), 12)
        .localCheckpoint() // counted once (shard sizing) + packed once
      val packed = Curation.packTokenStreamAuto(enc, seqLen = 256,
        targetTokensPerShard = 20000L)
      packed.groupBy(col("shard"), col("seq_id"))
        .agg(count(lit(1)).as("n_tokens"),
          md5(concat_ws(" ", transform(
            array_sort(collect_list(struct(col("offset"), col("token_id")))),
            e => e.getField("token_id").cast("string")))).as("h"))
        .orderBy("shard", "seq_id")
    }),
    // ---- unigram-LM tokenizer (r13): the second tokenizer family.
    // x123 is the q134 discipline applied to unigram: decode(encode(x))
    // must reproduce the word normalization of the RAW text exactly —
    // a pass proves the Viterbi segmenter loses no character and the
    // stream frame carries exact order ----
    Gate("x123_unigram_roundtrip", Operator,
      // x123: expected detokenization derives from the RAW text (the
      // q134 oracle verbatim) — independent of the unigram codec pair
      "SELECT doc_id AS id, array_to_string(list_filter(" +
      "regexp_split_to_array(lower(text), '[^a-z]+'), w -> w <> ''), ' ') AS text_detok " +
      "FROM documents " +
      "WHERE len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), w -> w <> '')) > 0 " +
      "ORDER BY id",
      (s, d) => {
      val dd = docs(s, d)
      val wf = Subwords.vocab(dd, "text", "doc_id")
      val model = Subwords.Unigram(Subwords.unigramTrain(wf, vocabSize = 512, iters = 3))
      Subwords.bpeDecode(Subwords.encode(dd, "text", "doc_id", model,
        trainedOn = Some(wf))).orderBy("id")
    }),
    // ---- x124: per-doc unigram token counts through the SQL surface;
    // n_words is DuckDB-recomputed, and the piece-count bounds (every
    // word >= 1 piece, every piece >= 1 char) ride as contract flags ----
    Gate("x124_unigram_tokenize", Operator,
      // x124: n_words recomputed; the piece-count bounds are contract
      // flags that must be constant 1
      "WITH w AS (SELECT doc_id AS id, len(list_filter(" +
      "regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')) AS nw " +
      "FROM documents) " +
      "SELECT id, CAST(nw AS BIGINT) AS n_words, 1 AS tok_ge_words, " +
      "1 AS tok_le_letters FROM w WHERE nw > 0 ORDER BY id",
      (s, d) => {
      val e = GraftSession.forDir(s, d)
      val t = e.sql("select id, n_words, n_tokens from unigram_tokenize(documents, 512, 3)")
      val letters = dd_letters(docs(s, d))
      letters.join(t, "id")
        .select(col("id"), col("n_words"),
          (col("n_tokens") >= col("n_words")).cast("int").as("tok_ge_words"),
          (col("n_tokens") <= col("n_letters")).cast("int").as("tok_le_letters"))
        .orderBy("id")
    }),
    // ---- WARC ingest round trip (r13): documents become real gzipped
    // WARC/1.0 files (warcinfo + request/response records, one gzip
    // member each — the CommonCrawl layout), parsed back by the byte
    // kernel. Every parsed column is doc_id arithmetic + the raw text,
    // so the oracle recomputes the FULL row set without touching any
    // container — the x13 discipline applied to web archives ----
    Gate("x121_warc_roundtrip", Operator,
      // x121: the parsed WARC rows rebuilt as pure doc_id arithmetic —
      // url string, date lpad/mod fields, 404-every-50 status mix, error
      // body substitution — with the raw text as the 200 bodies. The
      // oracle never parses a container byte.
      "SELECT doc_id AS id, " +
      "(CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END) || '://' || " +
      "(CASE WHEN doc_id % 8 = 0 THEN 'blog.' ELSE '' END) || " +
      "'site' || CAST(doc_id % 37 AS VARCHAR) || '.' || " +
      "(CASE doc_id % 5 WHEN 0 THEN 'com' WHEN 1 THEN 'org' WHEN 2 THEN 'co.uk' " +
      "WHEN 3 THEN 'net' ELSE 'ac.jp' END) || " +
      "'/p/' || CAST(doc_id % 11 AS VARCHAR) || " +
      "(CASE WHEN doc_id % 6 <= 2 THEN '?q=' || CAST(doc_id % 13 AS VARCHAR) ELSE '' END) AS url, " +
      "'2024-01-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0') || 'T' || " +
      "lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') || ':' || " +
      "lpad(CAST((doc_id * 7) % 60 AS VARCHAR), 2, '0') || ':' || " +
      "lpad(CAST((doc_id * 13) % 60 AS VARCHAR), 2, '0') || 'Z' AS warc_date, " +
      "CASE WHEN doc_id % 50 = 0 THEN 404 ELSE 200 END AS status, " +
      "'text/plain; charset=UTF-8' AS mime, " +
      "CASE WHEN doc_id % 50 = 0 THEN 'not found' ELSE text END AS text " +
      "FROM documents ORDER BY id",
      (s, d) => {
      val withUrl = docs(s, d).select(col("doc_id"),
        UrlCuration.synthCanonicalUrl(col("doc_id")).as("url"), col("text"))
      WebArchive.responses(WebArchive.synthesizeWarc(withUrl))
        .select(col("record_id").as("id"), col("url"), col("warc_date"),
          col("status"), col("mime"), col("text"))
        .orderBy("id")
    }),
    // ---- WARC-fronted curation chain (r13): the x119 web pipeline fed
    // from its REAL entry point — parse warc responses, drop non-200,
    // canonical-url dedup, Gopher keep. One keyed shuffle (the dedup);
    // parse and filters are stateless kernels ----
    Gate("x122_warc_pipeline", Operator,
      // x122: keep set = min surviving (status-200) member per 3-variant
      // url family, then the Gopher wc/mwl thresholds — the x119 keep
      // arithmetic with the WARC status mix in front
      "WITH fam AS (SELECT min(doc_id) AS doc_id FROM documents " +
      "WHERE doc_id % 50 <> 0 GROUP BY doc_id - doc_id % 3), " +
      "base AS (SELECT d.doc_id, " +
      "list_filter(regexp_split_to_array(trim(d.text), '\\s+'), w -> w <> '') AS ws " +
      "FROM documents d JOIN fam USING (doc_id)), " +
      "sig AS (SELECT doc_id, CAST(len(ws) AS BIGINT) AS n_words, " +
      "ROUND(CAST(COALESCE(list_sum(list_transform(ws, w -> length(w))), 0) AS DOUBLE) " +
      "/ GREATEST(len(ws), 1), 6) AS mwl FROM base) " +
      "SELECT doc_id FROM sig WHERE n_words >= 50 AND n_words <= 100000 " +
      "AND mwl >= 3.0 AND mwl <= 10.0 ORDER BY doc_id",
      (s, d) => {
      val leader = col("doc_id") - col("doc_id") % 3
      val canon = UrlCuration.synthCanonicalUrl(leader)
      val url = when(col("doc_id") % 3 === 0, canon)
        .when(col("doc_id") % 3 === 1,
          concat(regexp_replace(canon, "://", "://www."),
            lit("#v"), col("doc_id").cast("string")))
        .otherwise(when(instr(canon, "?") > 0,
            concat(canon, lit("&utm_campaign=y")))
          .otherwise(concat(canon, lit("?utm_source=x"))))
      val crawl = docs(s, d).select(col("doc_id"), url.as("url"), col("text"))
      val pages = WebArchive.responses(WebArchive.synthesizeWarc(crawl))
        .where(col("status") === 200)
        .select(col("record_id").as("doc_id"), col("url"), col("text"))
      val deduped = UrlCuration.urlDedup(pages, "url", "doc_id")
        .select("doc_id", "text")
      QualityFilters.gopherFilter(deduped, "text", Seq("wc_ok", "mwl_ok"))
        .select(col("doc_id")).orderBy("doc_id")
    }),
    // ---- keep-BEST exact dedup (r9): representative selection by
    // quality score instead of min id (the RefinedWeb re-crawl shape);
    // score = engine-portable multiplicative hash of the id so the
    // DuckDB oracle recomputes the exact same argmax ----
    Gate("x82_keep_best", Operator, "SELECT doc_id, score FROM (SELECT doc_id, " +
      "(doc_id * 2654435761) % 1000000 AS score, " +
      "row_number() OVER (PARTITION BY text ORDER BY " +
      "(doc_id * 2654435761) % 1000000 DESC, doc_id) AS rn " +
      "FROM documents) WHERE rn = 1 ORDER BY doc_id",
      (s, d) => {
      val score = (col("doc_id") * lit(2654435761L)) % lit(1000000L)
      Dedup.exactKeepBest(
        docs(s, d).withColumn("score", score),
        Seq("text"), "doc_id", "score")
        .select(col("doc_id"), col("score")).orderBy("doc_id")
    }),
    // ---- hashed linear classifier scoring (fastText-inference shape);
    // md5-bucketed features + integer weight arithmetic make the scores
    // EXACTLY recomputable by the DuckDB oracle ----
    Gate("x59_quality_classifier", Operator,
      // exact score recompute: same md5 bucketing, same integer weight
      // arithmetic, one float division + sigmoid per doc (order-free)
      "WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok FROM documents), " +
      "t AS (SELECT doc_id, (strpos('0123456789abcdef', substring(md5(tok), 1, 1)) - 1) * 16 + " +
      "(strpos('0123456789abcdef', substring(md5(tok), 2, 1)) - 1) AS b FROM toks WHERE tok <> ''), " +
      "s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks, " +
      "SUM((b * 2654435761) % 4096 - 2048) AS sw FROM t GROUP BY 1) " +
      "SELECT d.doc_id AS id, COALESCE(s.n_toks, 0) AS n_toks, " +
      "ROUND(1.0/(1.0 + exp(-(8.0 * sw / (4096.0 * s.n_toks)))), 6) AS score, " +
      "CAST(CASE WHEN COALESCE(ROUND(1.0/(1.0 + exp(-(8.0 * sw / (4096.0 * s.n_toks)))), 6) >= 0.5, FALSE) " +
      "THEN 1 ELSE 0 END AS INTEGER) AS keep " +
      "FROM documents d LEFT JOIN s USING (doc_id) ORDER BY id",
      (s, d) => TextAnalysis.hashedLinearScore(docs(s, d), "text", "doc_id")
        .orderBy("id")),
    // ---- paragraph-level boilerplate dedup with normalized matching:
    // injected banner paragraphs VARY cosmetically per doc (case and
    // punctuation differ by doc_id parity) — line-exact matching would
    // miss half of them; the normalized key catches all ----
    Gate("x60_paragraph_dedup", Operator, "WITH inj AS (SELECT doc_id, " +
      "CASE WHEN doc_id % 2 = 0 THEN 'Accept all cookies to continue.' " +
      "ELSE 'ACCEPT ALL, COOKIES -- to continue!' END || chr(10) || chr(10) || " +
      "regexp_replace(text, '((?:\\S+ ){12})', '\\1' || chr(10) || chr(10), 'g') || " +
      "chr(10) || chr(10) || 'Share this article on social media.' AS text FROM documents), " +
      "p AS (SELECT doc_id, unnest(regexp_split_to_array(text, '\\n\\s*\\n')) AS para, " +
      "unnest(generate_series(1, len(regexp_split_to_array(text, '\\n\\s*\\n')))) AS pos FROM inj), " +
      "k AS (SELECT doc_id, pos, para, " +
      "trim(regexp_replace(lower(para), '[^a-z0-9]+', ' ', 'g')) AS key FROM p), " +
      "hot AS (SELECT key FROM (SELECT key, count(DISTINCT doc_id) AS df FROM k " +
      "WHERE key <> '' GROUP BY key) t WHERE df >= 5), " +
      "kept AS (SELECT k.* FROM k ANTI JOIN hot USING (key)), " +
      "r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept, " +
      "string_agg(para, chr(10) || chr(10) ORDER BY pos) AS cleaned FROM kept GROUP BY doc_id) " +
      "SELECT i.doc_id, COALESCE(r.n_kept, 0) AS n_kept, " +
      "CAST(len(regexp_split_to_array(i.text, '\\n\\s*\\n')) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed, " +
      "md5(COALESCE(r.cleaned, '')) AS h FROM inj i LEFT JOIN r USING (doc_id) ORDER BY doc_id",
      (s, d) => {
      // localCheckpoint: the regexp-injected frame is scanned three times
      // inside paragraphDedup (hot-set, anti-join stream, final doc join) —
      // without it the per-doc regexp_replace re-runs per scan (12.6s at
      // the 10x sweep; 7.7s after)
      val injected = docs(s, d).select(col("doc_id"),
        concat(
          when(col("doc_id") % 2 === 0, lit("Accept all cookies to continue."))
            .otherwise(lit("ACCEPT ALL, COOKIES -- to continue!")),
          lit("\n\n"),
          regexp_replace(col("text"), "((?:\\S+ ){12})", "$1\n\n"),
          lit("\n\nShare this article on social media.")).as("text"))
        .localCheckpoint()
      Dedup.paragraphDedup(injected, "text", "doc_id", minDocFreq = 5L)
        .select(col("doc_id"), col("n_kept"), col("n_removed"),
          md5(col("cleaned")).as("h"))
        .orderBy("doc_id")
    }),
    // ---- Gopher quality rules (Rae et al. 2021 A1.1, tokenizer-free
    // subset): exact integer/ratio signals + flags, DuckDB-recomputed ----
    Gate("x65_gopher_filters", Operator, "WITH base AS (SELECT doc_id, text, " +
      "list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> w <> '') AS ws, " +
      "list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS lns FROM documents), " +
      "sig AS (SELECT doc_id AS id, CAST(len(ws) AS BIGINT) AS n_words, " +
      "ROUND(CAST(COALESCE(list_sum(list_transform(ws, w -> length(w))), 0) AS DOUBLE) / GREATEST(len(ws), 1), 6) AS mean_word_len, " +
      "CAST(length(text) - length(replace(text, '#', '')) + " +
      "(length(text) - length(replace(text, '...', ''))) // 3 AS BIGINT) AS n_symbols, " +
      "CAST(len(list_filter(lns, l -> regexp_matches(trim(l), '^[-*•]'))) AS BIGINT) AS n_bullet_lines, " +
      "CAST(len(list_filter(lns, l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$'))) AS BIGINT) AS n_ellipsis_lines, " +
      "CAST(GREATEST(len(lns), 1) AS BIGINT) AS n_lines, " +
      "CAST(len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) AS BIGINT) AS n_alpha_words, " +
      "CAST(len(list_filter(['the','be','to','of','and','that','have','with'], " +
      "sw -> list_contains(list_transform(ws, w -> lower(w)), sw))) AS BIGINT) AS n_stopword_hits " +
      "FROM base) " +
      "SELECT *, " +
      "CAST(n_words >= 50 AND n_words <= 100000 AS INTEGER) AS wc_ok, " +
      "CAST(mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS INTEGER) AS mwl_ok, " +
      "CAST(n_symbols * 10 < n_words AS INTEGER) AS symbol_ok, " +
      "CAST(n_bullet_lines * 10 <= n_lines * 9 AS INTEGER) AS bullet_ok, " +
      "CAST(n_ellipsis_lines * 10 <= n_lines * 3 AS INTEGER) AS ellipsis_ok, " +
      "CAST(n_alpha_words * 10 >= n_words * 8 AS INTEGER) AS alpha_ok, " +
      "CAST(n_stopword_hits >= 2 AS INTEGER) AS stopword_ok, " +
      "CAST((n_words >= 50 AND n_words <= 100000) AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0) " +
      "AND n_symbols * 10 < n_words AND n_bullet_lines * 10 <= n_lines * 9 " +
      "AND n_ellipsis_lines * 10 <= n_lines * 3 AND n_alpha_words * 10 >= n_words * 8 " +
      "AND n_stopword_hits >= 2 AS INTEGER) AS keep " +
      "FROM sig ORDER BY id",
      (s, d) => QualityFilters.gopherFlags(docs(s, d), "text", "doc_id").orderBy("id")),
    // ---- BPE pair statistics (r9): the distributed half of tokenizer
    // training — corpus collapses to a word-frequency table in ONE hash
    // agg, pair counting then runs over the vocabulary-sized table. The
    // merge loop itself (driver-side, vocab-sized) is bpeTrain /
    // OperatorsSpec; this gate pins the corpus statistic it consumes ----
    Gate("x84_bpe_pairs", Operator,
      // mirrors bpeWordFrequencies + bpePairCounts: lowercase [a-z]+ word
      // runs -> freq table -> adjacent char pairs weighted by freq
      "WITH w AS (SELECT tok AS word, CAST(count(*) AS BIGINT) AS freq FROM " +
      "(SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS tok FROM documents) " +
      "WHERE tok <> '' GROUP BY tok), " +
      "i AS (SELECT word, freq, unnest(generate_series(1, length(word)-1)) AS i FROM w) " +
      "SELECT substr(word, CAST(i AS INT), 2) AS pair, CAST(SUM(freq) AS BIGINT) AS n " +
      "FROM i GROUP BY 1 ORDER BY n DESC, pair LIMIT 30",
      (s, d) => Subwords.bpePairCounts(
        Subwords.bpeWordFrequencies(docs(s, d), "text", "doc_id"), k = 30)),
    // ---- BPE tokenizer application (r9): per-doc token counts under a
    // FIXED trained merge list (literal on both sides — training
    // determinism is bpeTrain/OperatorsSpec; the property spec proves
    // the replace chain ≡ reference BPE on this corpus's vocabulary).
    // The plan is the 100 TB shape: corpus → vocab hash-distinct, the
    // per-symbol replace chain runs vocab-×, broadcast join back, one
    // partial-agged per-doc groupBy. Includes second-order merges
    // ((m,er),(er,g),(l,ow)) so multi-char tokens are load-bearing ----
    Gate("x86_bpe_tokenize", Operator, duckBpeTokenize, (s, d) =>
      Subwords.tokenize(docs(s, d), "text", "doc_id", Subwords.Bpe(X86_MERGES), Int.MaxValue)
        .orderBy("id")),
    // ---- BPE with a CAPPED model vocabulary (r10): the bound that
    // keeps the trained path's driver collect model-sized on an
    // unbounded corpus. cap=12 of this corpus's 31 words, so the
    // rare-word fallback (one token per char, via the left join's
    // coalesce) is load-bearing on every doc; the cut order
    // (freq DESC, word) is replayed exactly by the oracle ----
    Gate("x94_bpe_capped", Operator,
      // x94: the x86 chain restricted to the top-12 vocabulary by
      // (freq DESC, word) — the exact cut Subwords.tokenize(cap = 12)
      // makes — with out-of-vocab words segmented one-token-per-char
      "WITH words AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w " +
      "FROM documents), nz AS (SELECT doc_id, w FROM words WHERE w <> ''), " +
      "v AS (SELECT w AS vw FROM (SELECT w, count(*) AS freq FROM nz GROUP BY w) " +
      "ORDER BY freq DESC, w LIMIT 12), " +
      s"tok AS (SELECT doc_id, CASE WHEN w IN (SELECT vw FROM v) " +
      s"THEN len(string_split(trim(${duckMergeChain("w")}), ' ')) ELSE length(w) END AS nt FROM nz) " +
      "SELECT doc_id AS id, CAST(count(*) AS BIGINT) AS n_words, " +
      "CAST(sum(nt) AS BIGINT) AS n_tokens FROM tok GROUP BY doc_id ORDER BY id",
      (s, d) => Subwords.tokenize(docs(s, d), "text", "doc_id", Subwords.Bpe(X86_MERGES), 12)
        .orderBy("id")),
    // ---- BPE ENCODING to token-id streams (r10): the training-pipeline
    // form — per-token rows totally ordered by (wpos, tpos), ids dense
    // over the emitted token vocabulary; capped at 12 so the char
    // fallback is load-bearing. Hash = md5 of the ordered id sequence ----
    Gate("x97_bpe_encode", Operator,
      // x97/x98: the encode recompute ([[duckBpeEncodeCtes]]) hashed as
      // the ordered per-doc id sequence / the per-(shard, seq) cut
      s"WITH $duckBpeEncodeCtes " +
      "SELECT doc_id AS id, CAST(count(*) AS BIGINT) AS n_tokens, " +
      "md5(string_agg(CAST(token_id AS VARCHAR), ' ' ORDER BY wpos, tpos)) AS h " +
      "FROM j GROUP BY doc_id ORDER BY id",
      (s, d) => {
      val enc = Subwords.encode(docs(s, d), "text", "doc_id", Subwords.Bpe(X86_MERGES), 12)
      enc.groupBy(col("id"))
        .agg(count(lit(1)).as("n_tokens"),
          md5(concat_ws(" ", transform(
            array_sort(collect_list(struct(col("wpos"), col("tpos"),
              col("token_id")))),
            e => e.getField("token_id").cast("string")))).as("h"))
        .orderBy("id")
    }),
    // ---- fixed-length sequence packing over the token stream (r10):
    // documents concatenate per shard and cut every 256 tokens — the
    // LLM batch-assembly step; (shard, seq_id) rows hash the exact
    // offset-ordered id sequence. 8 shards: a packing shard is a
    // training FILE, so shard count scales with the corpus (each shard
    // is one window task — the documented parallelism unit) ----
    Gate("x98_pack_tokens", Operator, s"WITH $duckBpeEncodeCtes, " +
      "sh AS (SELECT *, ((((doc_id % 1000000) * 2654435761) % 1000000) % 8) AS shard FROM j), " +
      "rn AS (SELECT *, CAST(row_number() OVER (PARTITION BY shard ORDER BY doc_id, wpos, tpos) - 1 AS BIGINT) AS i FROM sh) " +
      "SELECT CAST(shard AS BIGINT) AS shard, CAST(i // 256 AS BIGINT) AS seq_id, " +
      "CAST(COUNT(*) AS BIGINT) AS n_tokens, " +
      "md5(string_agg(CAST(token_id AS VARCHAR), ' ' ORDER BY i % 256)) AS h " +
      "FROM rn GROUP BY 1, 2 ORDER BY 1, 2",
      (s, d) => {
      val enc = Subwords.encode(docs(s, d), "text", "doc_id", Subwords.Bpe(X86_MERGES), 12)
      val packed = Curation.packTokenStream(enc, seqLen = 256,
        shard = pmod(
          pmod(col("id"), lit(1000000L)) * lit(2654435761L) % lit(1000000L),
          lit(8L)))
      packed.groupBy(col("shard"), col("seq_id"))
        .agg(count(lit(1)).as("n_tokens"),
          md5(concat_ws(" ", transform(
            array_sort(collect_list(struct(col("offset"), col("token_id")))),
            e => e.getField("token_id").cast("string")))).as("h"))
        .orderBy("shard", "seq_id")
    }),
    // ---- cross-doc repeated-SPAN excision (r9, Lee et al. 2022): a
    // 10-word boilerplate sentence appended to every 3rd doc (plus
    // whatever ≥8-word spans the corpus naturally shares — the near-dup
    // families make these real) must be cut from every occurrence;
    // md5(cleaned) pins the surviving text exactly ----
    Gate("x87_span_dedup", Operator,
      // mirrors exciseSharedSpans: same injection, gram identity is the
      // joined span STRING (the engine's xxhash64 is equality-preserving
      // up to 64-bit collisions), same interval-cover filter
      "WITH inj AS (SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN text || " +
      "' the quick brown fox jumps over the lazy dog tonight' ELSE text END AS t FROM documents), " +
      "w AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(t), '\\s+'), x -> x <> '') AS ws FROM inj), " +
      "i AS (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 7)) AS p FROM w WHERE len(ws) >= 8), " +
      "g AS (SELECT doc_id, CAST(p AS BIGINT) AS p, array_to_string(list_slice(ws, p, p + 7), ' ') AS gram FROM i), " +
      "hot AS (SELECT gram FROM (SELECT gram, count(DISTINCT doc_id) AS nd FROM g GROUP BY gram) WHERE nd >= 2), " +
      "f AS (SELECT doc_id, list_sort(list(p)) AS flags FROM g JOIN hot USING (gram) GROUP BY doc_id), " +
      "j AS (SELECT w.doc_id, w.ws, COALESCE(f.flags, []) AS flags FROM w LEFT JOIN f ON w.doc_id = f.doc_id), " +
      "k AS (SELECT doc_id, ws, list_filter(generate_series(1, len(ws)), " +
      "p -> len(list_filter(flags, q -> q <= p AND p < q + 8)) = 0) AS kept FROM j) " +
      "SELECT doc_id AS id, CAST(len(ws) AS BIGINT) AS n_words, " +
      "CAST(len(ws) - len(kept) AS BIGINT) AS n_removed, " +
      // COALESCE: DuckDB array_to_string of an EMPTY list is NULL, not ''
      "md5(COALESCE(array_to_string(list_transform(kept, p -> ws[CAST(p AS INT)]), ' '), '')) AS h " +
      "FROM k ORDER BY id",
      (s, d) => {
      val injected = docs(s, d).select(col("doc_id"),
        when(col("doc_id") % 3 === 0,
          concat(col("text"),
            lit(" the quick brown fox jumps over the lazy dog tonight")))
          .otherwise(col("text")).as("text"))
        .localCheckpoint()
      Dedup.exciseSharedSpans(injected, "text", "doc_id",
          spanWords = 8, minDocFreq = 2L)
        .select(col("id"), col("n_words"), col("n_removed"),
          md5(col("cleaned")).as("h"))
        .orderBy("id")
    }),
    // ---- end-to-end curation pipeline (r9): quality filter -> exact
    // dedup -> per-source cap -> corpus report, composed as ONE lazy plan
    // (what a user of the engine actually ships). The stages fuse the way
    // the 100 TB plan should: the gopher predicate is a narrow codegen
    // filter at the scan, dedup is one keyed shuffle + semi join, the cap
    // is one window shuffle, the report one partial-agged groupBy — 3
    // exchanges total, nothing corpus-quadratic. Flags restricted to
    // wc_ok+mwl_ok because the synthetic corpus has no English stopwords
    // (full gopher keep would be vacuously 0 rows) ----
    Gate("x85_curation_pipeline", Operator,
      // mirrors the x85 pipeline stage by stage: the wc/mwl gopher
      // predicate (x65's proven expressions), min-id exact text dedup
      // (x01's), per-source row_number cap (x30's), then the lang report
      "WITH base AS (SELECT doc_id, text, lang, source, n_chars, " +
      "list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> w <> '') AS ws FROM documents), " +
      "f AS (SELECT doc_id, text, lang, source, n_chars FROM base " +
      "WHERE len(ws) BETWEEN 50 AND 100000 " +
      "AND ROUND(CAST(COALESCE(list_sum(list_transform(ws, w -> length(w))), 0) AS DOUBLE) " +
      "/ GREATEST(len(ws), 1), 6) BETWEEN 3.0 AND 10.0), " +
      "dd AS (SELECT MIN(doc_id) AS doc_id FROM f GROUP BY text), " +
      "k AS (SELECT f.* FROM f JOIN dd USING (doc_id)), " +
      "c AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn FROM k) " +
      "SELECT lang, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(SUM(n_chars) AS BIGINT) AS sum_chars, " +
      "MIN(doc_id) AS min_id, MAX(doc_id) AS max_id " +
      "FROM c WHERE rn <= 20 GROUP BY lang ORDER BY lang",
      (s, d) => {
      val filtered = QualityFilters.gopherFilter(
        docs(s, d), "text", required = Seq("wc_ok", "mwl_ok"))
      val deduped = Dedup.exactByHash(filtered, "text", "doc_id")
      val capped = Sampling.capPerGroup(deduped, "source", cap = 20, orderCol = "doc_id")
      capped.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          min(col("doc_id")).as("min_id"),
          max(col("doc_id")).as("max_id"))
        .orderBy("lang")
    }),
    // ---- 100 TB dress rehearsal (r10): the WHOLE training-data pipeline
    // as one lazy composition — normalize → Gopher wc/mwl filter → exact
    // dedup → near-dup families (LSH + exact verify + connected
    // components) → leakage-safe split BY FAMILY → per-(split,shard)
    // sequence packing → content-addressed shard publish. The oracle
    // recomputes every stage (the x78/x65/x01/x27/x92 fragments chained),
    // so a pass pins the composition, not just the parts. Shard/bin
    // hashing uses the portable multiplicative hash (xxhash64 has no
    // DuckDB equivalent); writeShards' own publish is audited by the
    // published_ok flag (read-back row total == kept docs). The sf10
    // metrics run of this same pipeline is the DressRehearsal main. ----
    Gate("x95_dress_rehearsal", Operator,
      // x95: the whole pipeline recomputed stage by stage — x78's
      // normalization, x85's wc/mwl predicate + min-id exact dedup,
      // x27's recursive-closure components over the exact-Jaccard pair
      // graph (on the FILTERED survivors), x92's split hash keyed by the
      // family rep, the x15 token estimator, then the portable
      // multiplicative shard hash and the running-sum packing window.
      // published_ok is pinned (engine-side read-back audit of the
      // xxhash64-sharded publish, not ANSI-recomputable).
      "WITH RECURSIVE " + duckPipelinePrefixCtes + ", " +
      "tok AS (SELECT doc_id, CAST(SUM(CAST(CEIL(CAST(length(x) AS DOUBLE) / 4.0) AS BIGINT)) AS BIGINT) AS token_est " +
      "FROM (SELECT doc_id, unnest(ws) AS x FROM k) GROUP BY doc_id), " +
      "asg AS (SELECT s.id, s.rep, s.split, ((((s.id % 1000000) * 2654435761) % 1000000) % 4) AS bucket, t.token_est " +
      "FROM spl s JOIN tok t ON s.id = t.doc_id), " +
      "binned AS (SELECT id, split, bucket, token_est, COALESCE(SUM(token_est) OVER " +
      "(PARTITION BY split, bucket ORDER BY id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bfr FROM asg), " +
      "fin AS (SELECT split, bucket, token_est, CAST(FLOOR(CAST(bfr AS DOUBLE) / 2048.0) AS BIGINT) AS bin FROM binned), " +
      "straddle AS (SELECT COUNT(*) AS n FROM (SELECT rep FROM spl GROUP BY rep HAVING COUNT(DISTINCT split) > 1)) " +
      "SELECT split, CAST(bucket AS BIGINT) AS shard, COUNT(*) AS n_docs, " +
      "CAST(SUM(token_est) AS BIGINT) AS n_tokens, COUNT(DISTINCT bin) AS n_bins, " +
      "CAST(CASE WHEN (SELECT n FROM straddle) = 0 THEN 1 ELSE 0 END AS INTEGER) AS families_intact, " +
      "CAST(1 AS INTEGER) AS published_ok " +
      "FROM fin GROUP BY split, bucket ORDER BY split, shard",
      (s, d) => {
      // seam ON (r15): the two corpus-sized lineage cuts land on parquet
      // with _COMMITTED markers (fresh dir per run — no stale resume);
      // the oracle is unchanged, proving the seam is output-neutral.
      // x100 keeps the default localCheckpoint path covered.
      val packed = Curation.fullPipeline(docs(s, d),
          seamDir = Some(tempDir("x95_seam_")))
        .localCheckpoint() // published AND aggregated below
      val audit = Curation.writeShards(
        packed.select("id", "split", "bucket", "bin", "token_est"),
        "id", tempDir("x95_out_"), shards = 8)
      val publishedOk =
        audit.agg(sum(col("n_rows"))).head().getLong(0) == packed.count()
      val straddles = packed.groupBy(col("rep"))
        .agg(countDistinct(col("split")).as("ns"))
        .where(col("ns") > 1).count()
      packed.groupBy(col("split"), col("bucket").as("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("token_est")).as("n_tokens"),
          countDistinct(col("bin")).as("n_bins"))
        .withColumn("families_intact", lit(if (straddles == 0L) 1 else 0))
        .withColumn("published_ok", lit(if (publishedOk) 1 else 0))
        .orderBy("split", "shard")
    }),
    // ---- the COMPLETE LLM data pipeline (r10): raw crawl → packed
    // token sequences in one gate — x95's curation (normalize → filter →
    // exact+near dedup → leakage-safe split) feeding x97's BPE encoding
    // (capped model over the SURVIVOR vocabulary) feeding x98's
    // fixed-length packing per (split, bucket). The oracle chains all
    // three recomputations; every (split, bucket, seq) hashes its exact
    // offset-ordered token-id sequence ----
    Gate("x100_tokens_pipeline", Operator,
      // x100: the full chain — pipeline prefix (survivors + split), the
      // encode block re-pointed at the survivors (prefix `t`, so its
      // vocab cut is over the SURVIVOR word frequencies), then the
      // x98-style pack window per (split, bucket) shard string
      "WITH RECURSIVE " + duckPipelinePrefixCtes + ", " +
      "kk AS (SELECT doc_id, text FROM k), " +
      duckBpeEncodeCtes("kk", "t") + ", " +
      "sb AS (SELECT s.id, s.split, ((((s.id % 1000000) * 2654435761) % 1000000) % 4) AS bucket FROM spl s), " +
      "jt AS (SELECT tj.doc_id, tj.wpos, tj.tpos, tj.token_id, " +
      "sb.split || '#' || CAST(sb.bucket AS VARCHAR) AS shard FROM tj JOIN sb ON tj.doc_id = sb.id), " +
      "rn AS (SELECT *, CAST(row_number() OVER (PARTITION BY shard ORDER BY doc_id, wpos, tpos) - 1 AS BIGINT) AS i FROM jt) " +
      "SELECT shard, CAST(i // 256 AS BIGINT) AS seq_id, CAST(count(*) AS BIGINT) AS n_tokens, " +
      "md5(string_agg(CAST(token_id AS VARCHAR), ' ' ORDER BY i % 256)) AS h " +
      "FROM rn GROUP BY 1, 2 ORDER BY 1, 2",
      (s, d) => {
      val packed = Curation.fullPipeline(docs(s, d))
        .select(col("id"), col("split"), col("bucket")).localCheckpoint()
      val survivors = docs(s, d)
        .select(col("doc_id"), TextAnalysis.normalizeText(col("text")).as("text"))
        .join(packed.select(col("id").as("doc_id")), "doc_id")
        .localCheckpoint() // encoded once, vocab-counted once
      val enc = Subwords.encode(survivors, "text", "doc_id", Subwords.Bpe(X86_MERGES), 12)
      val withSplit = enc.join(packed, "id")
      val seqs = Curation.packTokenStream(withSplit, seqLen = 256,
        shard = concat(col("split"), lit("#"), col("bucket").cast("string")))
      seqs.select(col("shard"), col("seq_id"), col("offset"), col("token_id"))
        .groupBy(col("shard"), col("seq_id"))
        .agg(count(lit(1)).as("n_tokens"),
          md5(concat_ws(" ", transform(
            array_sort(collect_list(struct(col("offset"), col("token_id")))),
            x => x.getField("token_id").cast("string")))).as("h"))
        .orderBy("shard", "seq_id")
    }),
    // ---- C4 line filtering (Raffel et al. 2020 §2.2): newlines injected
    // (raw docs are single-line) plus per-parity tells so both keep=0
    // paths (lorem / brace) and the punctuation+word-count line rules all
    // fire; md5 of the cleaned doc pins the reassembly ----
    Gate("x66_c4_filters", Operator, "WITH inj AS (SELECT doc_id, " +
      "regexp_replace(text, '((?:\\S+ ){9})', '\\1' || chr(10), 'g') || " +
      "chr(10) || 'Short line' || chr(10) || " +
      "CASE WHEN doc_id % 7 = 0 THEN 'lorem ipsum dolor sit amet.' || chr(10) " +
      "ELSE 'This closing line has real punctuation.' || chr(10) END || " +
      "CASE WHEN doc_id % 11 = 0 THEN 'function f() { return 1; }' " +
      "ELSE 'Final sentence ends properly.' END AS text FROM documents), " +
      "l AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS ln, " +
      "unnest(generate_series(1, len(string_split(text, chr(10))))) AS pos FROM inj), " +
      "kept AS (SELECT doc_id, ln, pos FROM l WHERE " +
      "regexp_matches(rtrim(ln), '[.!?][\"'')\\]]?$') " +
      "AND len(list_filter(regexp_split_to_array(trim(ln), '\\s+'), w -> w <> '')) >= 3 " +
      "AND position('lorem ipsum' IN lower(ln)) = 0 " +
      "AND position('javascript' IN lower(ln)) = 0 " +
      "AND position('{' IN ln) = 0), " +
      "r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept, " +
      "string_agg(ln, chr(10) ORDER BY pos) AS cleaned FROM kept GROUP BY doc_id) " +
      "SELECT i.doc_id AS id, CAST(len(string_split(i.text, chr(10))) AS BIGINT) AS n_lines, " +
      "COALESCE(r.n_kept, 0) AS n_kept, md5(COALESCE(r.cleaned, '')) AS h, " +
      "CAST(position('lorem ipsum' IN lower(i.text)) > 0 AS INTEGER) AS has_lorem, " +
      "CAST(position('{' IN i.text) > 0 AS INTEGER) AS has_brace, " +
      "CAST(COALESCE(r.n_kept, 0) >= 1 AND position('lorem ipsum' IN lower(i.text)) = 0 " +
      "AND position('{' IN i.text) = 0 AS INTEGER) AS keep " +
      "FROM inj i LEFT JOIN r USING (doc_id) ORDER BY id",
      (s, d) => {
      val injected = docs(s, d).select(col("doc_id"),
        concat(
          regexp_replace(col("text"), "((?:\\S+ ){9})", "$1\n"),
          lit("\nShort line\n"),
          when(col("doc_id") % 7 === 0, lit("lorem ipsum dolor sit amet.\n"))
            .otherwise(lit("This closing line has real punctuation.\n")),
          when(col("doc_id") % 11 === 0, lit("function f() { return 1; }"))
            .otherwise(lit("Final sentence ends properly."))).as("text"))
      QualityFilters.c4LineFilter(injected, "text", "doc_id", minLineWords = 3)
        .select(col("id"), col("n_lines"), col("n_kept"),
          md5(col("cleaned")).as("h"), col("has_lorem"), col("has_brace"),
          col("keep"))
        .orderBy("id")
    }),
    // ---- Gopher repetition family at line/paragraph granularity:
    // injected duplicate lines + cosmetically-varying duplicate paragraphs
    // (normalize-matched) over the newline-injected corpus ----
    Gate("x67_dup_lines", Operator, "WITH inj AS (SELECT doc_id, " +
      "regexp_replace(text, '((?:\\S+ ){8})', '\\1' || chr(10), 'g') || " +
      "chr(10) || 'Repeated line.' || chr(10) || 'Repeated line.' || chr(10) || chr(10) || " +
      "'Dup para!' || chr(10) || chr(10) || 'dup. para?' AS text FROM documents), " +
      "b AS (SELECT doc_id, " +
      "list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS lns, " +
      "list_filter(list_transform(regexp_split_to_array(text, '\\n\\s*\\n'), " +
      "p -> trim(regexp_replace(lower(p), '[^a-z0-9]+', ' ', 'g'))), p -> p <> '') AS ps FROM inj) " +
      "SELECT doc_id AS id, " +
      "CAST(len(lns) AS BIGINT) AS n_lines, " +
      "ROUND(CAST(len(lns) - len(list_distinct(lns)) AS DOUBLE) / len(lns), 6) AS dup_lines_frac, " +
      "ROUND(CAST(COALESCE(list_sum(list_transform(lns, x -> length(x))), 0) - " +
      "COALESCE(list_sum(list_transform(list_distinct(lns), x -> length(x))), 0) AS DOUBLE) / " +
      "list_sum(list_transform(lns, x -> length(x))), 6) AS dup_lines_char_frac, " +
      "CAST(len(ps) AS BIGINT) AS n_paras, " +
      "ROUND(CAST(len(ps) - len(list_distinct(ps)) AS DOUBLE) / len(ps), 6) AS dup_paras_frac, " +
      "ROUND(CAST(COALESCE(list_sum(list_transform(ps, x -> length(x))), 0) - " +
      "COALESCE(list_sum(list_transform(list_distinct(ps), x -> length(x))), 0) AS DOUBLE) / " +
      "list_sum(list_transform(ps, x -> length(x))), 6) AS dup_paras_char_frac " +
      "FROM b ORDER BY id",
      (s, d) => {
      val injected = docs(s, d).select(col("doc_id"),
        concat(
          regexp_replace(col("text"), "((?:\\S+ ){8})", "$1\n"),
          lit("\nRepeated line.\nRepeated line.\n\nDup para!\n\ndup. para?")).as("text"))
      QualityFilters.dupLineStats(injected, "text", "doc_id").orderBy("id")
    }),
    // ---- Misra-Gries heavy-hitters sketch: bounded-memory candidates
    // (<= k counters/partition, k-row/partition shuffle — the open-key
    // alternative to x28's exact vocab groupBy). Per-term sketch counts
    // are arrival-order-dependent, so the gate outputs only the ORDER-
    // INVARIANT contract: the exact true-heavy set (recomputed by the
    // oracle) with present/undercount/error-bound flags that the MG
    // guarantee fixes at 1 under ANY ordering ----
    Gate("x63_heavy_hitters", Operator,
      "WITH t AS (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok " +
      "FROM documents), " +
      "c AS (SELECT tok, CAST(count(*) AS BIGINT) AS n FROM t WHERE tok <> '' GROUP BY tok), " +
      "tot AS (SELECT CAST(SUM(n) AS BIGINT) AS s FROM c) " +
      "SELECT tok AS term, n, CAST(1 AS INTEGER) AS present, " +
      "CAST(1 AS INTEGER) AS under_ok, CAST(1 AS INTEGER) AS err_ok " +
      "FROM c WHERE n * 33 > (SELECT s FROM tot) ORDER BY term",
      (s, d) => {
      val k = 32
      val sk = Sketches.heavyHitters(docs(s, d), "text", "doc_id", k)
        .localCheckpoint() // tiny (<= k rows); referenced via join below
      val toks = docs(s, d)
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
        .where(col("tok") =!= "")
      val exact = toks.groupBy(col("tok")).agg(count(lit(1)).as("n"))
      val total = exact.agg(sum(col("n")).as("tot"))
      val heavy = exact.crossJoin(broadcast(total))
        .where(col("n") * (k + 1) > col("tot"))
      heavy.join(sk, heavy("tok") === sk("term"), "left_outer")
        .select(col("tok").as("term"), col("n"),
          col("term").isNotNull.cast("int").as("present"),
          coalesce(col("approx_count") <= col("n"), lit(false)).cast("int").as("under_ok"),
          coalesce((col("n") - col("approx_count")) * (k + 1) <= col("tot"), lit(false))
            .cast("int").as("err_ok"))
        .orderBy("term")
    }),
    // ---- tokenizer-vocab coverage (OOV rate): top-500 corpus vocab
    // broadcast against the token stream; DuckDB recomputes the exact
    // same vocab (deterministic tie order) and rates ----
    Gate("x61_oov_rate", Operator,
      "WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok " +
      "FROM documents), " +
      "t AS (SELECT doc_id, tok FROM toks WHERE tok <> ''), " +
      "v AS (SELECT tok AS term FROM (SELECT tok, count(*) AS n FROM t GROUP BY tok " +
      "ORDER BY n DESC, tok LIMIT 500)), " +
      "s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks, " +
      "CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov " +
      "FROM t LEFT JOIN v ON t.tok = v.term GROUP BY doc_id) " +
      "SELECT d.doc_id AS id, COALESCE(s.n_toks, 0) AS n_toks, " +
      "COALESCE(s.n_oov, 0) AS n_oov, " +
      "ROUND(CAST(s.n_oov AS DOUBLE) / s.n_toks, 6) AS oov_rate " +
      "FROM documents d LEFT JOIN s USING (doc_id) ORDER BY id",
      (s, d) => TextAnalysis.oovRate(docs(s, d), "text", "doc_id", vocabK = 500)
        .orderBy("id")),
    // ---- content-addressed uniform per-group sampling: md5-rank keeps
    // the same k rows per source across runs/engines; DuckDB recomputes
    // membership exactly ----
    Gate("x62_group_sample", Operator, "SELECT doc_id, source FROM (SELECT doc_id, source, " +
      "row_number() OVER (PARTITION BY source " +
      "ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn FROM documents) " +
      "WHERE rn <= 25 ORDER BY doc_id",
      (s, d) => Sampling.uniformPerGroup(docs(s, d), "source", cap = 25, keyCol = "doc_id")
        .select(col("doc_id"), col("source")).orderBy("doc_id")),
    // Sign-LSH bucket candidates over the FULL corpus; correctness flags are
    // computed on a bounded sub-universe (vec_id < 500) so the verification
    // join stays O(500^2) at any scale factor. n_true_pairs is recomputed
    // independently by DuckDB — a cross-engine check of the cosine math.
    Gate("x06_dedup_embed_cosine", Operator,
      "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id < 500) " +
      "SELECT count(*) AS n_true_pairs, CAST(1 AS INTEGER) AS subset_ok, CAST(1 AS INTEGER) AS recall_ok " +
      "FROM e a JOIN e b ON a.vec_id < b.vec_id " +
      "WHERE list_dot_product(a.v,b.v)/(sqrt(list_dot_product(a.v,a.v))*sqrt(list_dot_product(b.v,b.v))) >= 0.4",
      (s, d) => {
      val e = emb(s, d)
      val cands = Dedup.embeddingNearDup(e, "embedding", "vec_id", minCos = 0.4)
        .where(col("ida") < 500 && col("idb") < 500)
        .select(col("ida"), col("idb"), lit(1).as("c"))
      val sub = e.where(col("vec_id") < 500)
      val l = sub.select(col("vec_id").as("ida"), col("embedding").as("va"))
      val r = sub.select(col("vec_id").as("idb"), col("embedding").as("vb"))
      val truth = l.join(r, col("ida") < col("idb"))
        .where(Similarity.cosine(col("va"), col("vb")) >= 0.4)
        .select(col("ida"), col("idb"), lit(1).as("t"))
      cands.join(truth, Seq("ida", "idb"), "full_outer").agg(
        sum(col("t")).cast("bigint").as("n_true_pairs"),
        (sum(when(col("t").isNull, 1).otherwise(0)) === 0).cast("int").as("subset_ok"),
        (sum(when(col("c").isNotNull && col("t").isNotNull, 1).otherwise(0)) * 10 >=
          sum(col("t")) * 3).cast("int").as("recall_ok"))
    }),
    // ---- semantic dedup (SemDeDup composition): exact-cosine pair graph
    // → connected components → one representative per cluster + size.
    // Bounded to vec_id < 500 so the all-pairs truth stays O(500²) at any
    // scale factor; the unbounded scale path swaps the exact pair source
    // for embeddingNearDup's LSH candidates (gated separately by x06) ----
    Gate("x35_semantic_dedup", Operator, "WITH RECURSIVE e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v " +
      "FROM embeddings WHERE vec_id < 500), " +
      "p AS (SELECT a.vec_id AS ida, b.vec_id AS idb FROM e a JOIN e b " +
      "ON a.vec_id < b.vec_id WHERE " +
      "list_dot_product(a.v,b.v)/(sqrt(list_dot_product(a.v,a.v))*sqrt(list_dot_product(b.v,b.v))) >= 0.4), " +
      "ed AS (SELECT ida AS s, idb AS t FROM p UNION SELECT idb, ida FROM p), " +
      "walk AS (SELECT s AS id, t AS reach FROM ed UNION SELECT s, s FROM ed " +
      "UNION SELECT w.id, e2.t FROM walk w JOIN ed e2 ON w.reach = e2.s), " +
      "comp AS (SELECT id, MIN(reach) AS comp FROM walk GROUP BY id) " +
      "SELECT comp AS keep_id, count(*) AS cluster_size FROM comp " +
      "GROUP BY comp ORDER BY keep_id",
      (s, d) => {
      val e = emb(s, d).where(col("vec_id") < 500)
      val l = e.select(col("vec_id").as("ida"), col("embedding").as("va"))
      val r = e.select(col("vec_id").as("idb"), col("embedding").as("vb"))
      val pairs = l.join(r, col("ida") < col("idb"))
        .where(Similarity.cosine(col("va"), col("vb")) >= 0.4)
        .select(col("ida"), col("idb")).localCheckpoint()
      Components.connectedComponents(pairs)
        .groupBy(col("comp").as("keep_id")).agg(count(lit(1)).as("cluster_size"))
        .orderBy("keep_id")
    }),
    // ---- similarity search ----
    Gate("x07_sim_brute_topk", Operator,
      "WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10), " +
      "s AS (SELECT q.qid, e.vec_id, " +
      "(SELECT SUM(x*y) FROM (SELECT UNNEST(CAST(e.embedding AS DOUBLE[])) AS x, UNNEST(CAST(q.qv AS DOUBLE[])) AS y)) AS dp, " +
      "sqrt((SELECT SUM(x*x) FROM (SELECT UNNEST(CAST(e.embedding AS DOUBLE[])) AS x))) AS na, " +
      "sqrt((SELECT SUM(y*y) FROM (SELECT UNNEST(CAST(q.qv AS DOUBLE[])) AS y))) AS nb " +
      "FROM embeddings e, q WHERE e.vec_id <> q.qid) " +
      // `+ 0.0` on the projection normalizes IEEE -0.0 (x74 lesson):
      // a tiny-negative dot product rounds to -0.0 in DuckDB but +0.0
      // through Spark's BigDecimal round
      "SELECT qid, vec_id, cos FROM (SELECT qid, vec_id, ROUND(dp / (na * nb), 4) + 0.0 AS cos, " +
      "row_number() OVER (PARTITION BY qid ORDER BY ROUND(dp / (na * nb), 4) DESC, vec_id) AS rn FROM s) " +
      "WHERE rn <= 5 ORDER BY qid, cos DESC, vec_id",
      (s, d) => {
      val e = emb(s, d)
      Similarity.bruteForceTopK(e, e.where(col("vec_id") < 10), k = 5)
        .orderBy(col("qid"), col("cos").desc, col("vec_id"))
    }),
    // persisted IVF index (r9): train-once/serve-many — centroids +
    // bucket-partitioned corpus written to disk, queries served with a
    // literal probe-bucket filter (static partition pruning). Parity is
    // EXACT vs the fresh in-memory ivfTopK (deterministic training);
    // pruned_scan asserts the scan really skipped unprobed buckets
    Gate("x90_ivf_index", Operator,
      // x90: served-from-disk ≡ fresh in-memory is the assertion (both
      // engine-side, exact); the oracle pins the query count + flags
      "SELECT count(*) AS n_queries, CAST(1 AS INTEGER) AS served_matches_fresh, " +
      "CAST(1 AS INTEGER) AS scan_pruned FROM embeddings WHERE vec_id < 10",
      (s, d) => {
      import s.implicits._
      val e = emb(s, d).localCheckpoint()
      val q = e.where(col("vec_id") < 10)
      val dir = ivfIndexFixture(s, d)
      // the in-memory reference runs on the PERSISTED model (training
      // determinism itself is the spec's loaded≡retrained assert) —
      // the gate isolates the layout + serve path; the layout is the
      // shared fixture (r11): identical bytes to a per-gate build
      val model = IvfIndex.load(s, dir)
      val fresh = IvfIndex.topKWith(e, q, k = 5, model, nprobe = 4)
      val served = IvfIndex.topK(s, dir, q, k = 5, nprobe = 4)
      // one fused action (parityOneAction); served/fresh are top-k frames
      // (dup-free by construction), so set equality ⇒ the count equality
      // the fused check also asserts
      val (nServed, sameServe) = parityOneAction(fresh, served)
      val matches = nServed > 0 && sameServe
      // pruning is observable, not assumed: the serve-side literal
      // bucket filter must READ strictly fewer files (numFiles metric)
      // than the layout holds (16 buckets; if the probe set ever covered
      // all of them the flag fails loudly instead of passing vacuously)
      val corpus = s.read.parquet(s"$dir/corpus")
      val needed = IvfIndex.probeBuckets(q, model.centroids, nprobe = 4)
      val pruned = filesScanned(
        corpus.where(col("c").isin(needed.map(Int.box): _*))) <
        corpus.inputFiles.length
      Seq((q.count(), if (matches) 1 else 0, if (pruned) 1 else 0))
        .toDF("n_queries", "served_matches_fresh", "scan_pruned")
    }),
    // leakage-safe split (r9): duplicate families (exact text identity
    // here; near-dup clusters via the families override) can never
    // straddle train/test — the full (id, rep, split) assignment is
    // hash-matched against a DuckDB recompute (portable multiplicative
    // hash on the min-id representative), the strongest oracle form
    Gate("x92_leakage_safe_split", Operator,
      // x92: full assignment recompute — same min-id family rep, same
      // bounded multiplicative hash, same threshold
      "SELECT doc_id AS id, rep, " +
      "CASE WHEN ((rep % 1000000) * 2654435761) % 1000000 < 100000 " +
      "THEN 'test' ELSE 'train' END AS split " +
      "FROM (SELECT doc_id, min(doc_id) OVER (PARTITION BY text) AS rep " +
      "FROM documents) ORDER BY id",
      (s, d) => Sampling.leakageSafeSplit(docs(s, d), "text", "doc_id", testPercent = 10)
        .orderBy("id")),
    // ---- IVF index lifecycle (r10 Flat, r11 IVF-PQ; see annLifecycle).
    // x107's drift batch is BOUNDED ([250, 750) — constant at any sf):
    // the lifecycle flags are the assertion; composed-index THROUGHPUT is
    // x99/x101/x103's axis, so this gate must not retrain a corpus-sized
    // PQ per bench run (22s at sf0.1, 109s at sf10 when it appended
    // everything) ----
    Gate("x96_ivf_lifecycle", Operator,
      // x96: the fixed probe-set count is recomputed; the lifecycle flags
      // (drift detected on the masked append, rebuild ran, recall
      // recovered vs before) are engine-side assertions, pinned
      "SELECT count(*) AS n_queries, CAST(1 AS INTEGER) AS drifted, " +
      "CAST(1 AS INTEGER) AS retrained, CAST(1 AS INTEGER) AS recall_recovered " +
      "FROM embeddings WHERE vec_id >= 250 AND vec_id < 290",
      (s, d) => annLifecycle(s, d, "x96", IvfIndex.Flat, col("vec_id") >= 250)),
    Gate("x107_ivfpq_lifecycle", Operator,
      // x107: same form — the composed-index lifecycle must detect the
      // injected drift and recover after the blue/green rebuild
      "SELECT count(*) AS n_queries, CAST(1 AS INTEGER) AS drifted, " +
      "CAST(1 AS INTEGER) AS retrained, CAST(1 AS INTEGER) AS recall_recovered " +
      "FROM embeddings WHERE vec_id >= 250 AND vec_id < 290",
      (s, d) => annLifecycle(s, d, "x107", IvfIndex.Pq(m = 8, k = 16),
        col("vec_id") >= 250 && col("vec_id") < 750)),
    // ---- product quantization (r10, Jégou et al. 2011): the
    // memory-compressed ANN complement of IVF — 16 subspaces × 32
    // sub-centroids = 16× compression of the 64-dim corpus; the raw ADC
    // scan recall and the exact-rerank (shortlist 50) recall are both
    // audited against the brute truth on a fixed 10-query sample.
    // Recall values are engine-exact but not ANSI-recomputable → the
    // x76 flag-oracle pattern ----
    Gate("x99_pq_ann", Operator,
      // x99: fixed query count + compression factor recomputed; recall
      // threshold flags pinned (the x76 pattern)
      "SELECT count(*) AS n_queries, " +
      "CAST(MAX(len(embedding)) * 4 / 16 AS BIGINT) AS compression_x, " +
      "CAST(1 AS INTEGER) AS adc_recall_ok, CAST(1 AS INTEGER) AS rerank_recall_ok " +
      "FROM embeddings WHERE vec_id < 10",
      (s, d) => {
      import s.implicits._
      val e = emb(s, d).localCheckpoint()
      val q = e.where(col("vec_id") < 10)
      val truth = Similarity.bruteForceTopK(e, q, k = 10).localCheckpoint()
      val cb = Similarity.pqTrain(e, m = 16, k = 32, iters = 3)
      val codes = Similarity.pqEncode(e, cb).localCheckpoint()
      val adc = Similarity.annRecall(
        Similarity.pqTopK(codes, cb, q, k = 10), truth).head()
      val rr = Similarity.annRecall(
        Similarity.pqTopKRerank(codes, cb, e, q, k = 10, shortlist = 50),
        truth).head()
      val dim = e.select(size(col("embedding"))).head().getInt(0)
      Seq((adc.getLong(0), dim * 4L / 16L,
          if (adc.getDouble(1) >= 0.4) 1 else 0,
          if (rr.getDouble(1) >= 0.8) 1 else 0))
        .toDF("n_queries", "compression_x", "adc_recall_ok", "rerank_recall_ok")
    }),
    // ---- IVF-PQ composed serving (r11): coarse-bucket partition
    // pruning × PQ code compression × exact re-rank — the actual
    // serving architecture the two halves (x90 pruning, x99 ADC)
    // existed for. Flags: the served result is audited against (a) the
    // flat pqTopKRerank over ALL codes with the same codebooks — the
    // only loss vs flat is probe misses, so high recall proves the
    // pruned ADC + re-rank path is faithful — and (b) the brute-force
    // truth; scan_pruned asserts via the executed scan's numFiles that
    // the code scan actually skipped unprobed bucket directories ----
    // ---- residual IVFADC (r12): PQ codes over r = x − centroid(x), the
    // actual Jégou §IV.2 encoding — the PQ's precision describes the
    // small within-bucket displacement instead of re-describing the
    // bucket's position, so recall must not lose to the raw layout at
    // IDENTICAL parameters (deterministic training ⇒ the comparison is
    // frozen, not flaky); serve pruning contract unchanged ----
    Gate("x113_ivfpq_residual_ann", Operator,
      // x113: deterministic training freezes the residual-vs-raw recall
      // comparison — the flags are contracts, not samples
      "SELECT count(*) AS n_queries, CAST(1 AS INTEGER) AS recall_ok, " +
      "CAST(1 AS INTEGER) AS residual_ge_raw, " +
      "CAST(1 AS INTEGER) AS scan_pruned, " +
      "CAST(1 AS INTEGER) AS meta_residual " +
      "FROM embeddings WHERE vec_id < 10",
      (s, d) => {
      import s.implicits._
      val e = emb(s, d).localCheckpoint()
      val q = e.where(col("vec_id") < 10)
      val dirRes = ivfIndexFixture(s, d, IvfIndex.Pq(residual = true))
      val dirRaw = ivfIndexFixture(s, d, IvfIndex.Pq())
      val truth = Similarity.bruteForceTopK(e, q, k = 10).localCheckpoint()
      def recall(dir: String): Double = Similarity.annRecall(
        IvfIndex.topK(s, dir, q, k = 10, nprobe = 4, shortlist = 50),
        truth).head().getDouble(1)
      val rRes = recall(dirRes)
      val rRaw = recall(dirRaw)
      val resModel = IvfIndex.load(s, dirRes)
      val needed = IvfIndex.probeBuckets(q, resModel.centroids, nprobe = 4)
      val codes = s.read.parquet(s"$dirRes/codes")
      val pruned = filesScanned(
        codes.where(col("c").isin(needed.map(Int.box): _*))) <
        codes.inputFiles.length
      Seq((q.count(),
          if (rRes >= 0.6) 1 else 0,
          if (rRes >= rRaw) 1 else 0,
          if (pruned) 1 else 0,
          if (resModel.codec == IvfIndex.Pq(residual = true)) 1 else 0))
        .toDF("n_queries", "recall_ok", "residual_ge_raw", "scan_pruned",
          "meta_residual")
    }),
    Gate("x101_ivfpq_ann", Operator, "SELECT count(*) AS n_queries, CAST(1 AS INTEGER) AS matches_flat_rerank, " +
      "CAST(1 AS INTEGER) AS recall_vs_truth_ok, CAST(1 AS INTEGER) AS scan_pruned " +
      "FROM embeddings WHERE vec_id < 10",
      (s, d) => {
      import s.implicits._
      val e = emb(s, d).localCheckpoint()
      val q = e.where(col("vec_id") < 10)
      val dir = ivfIndexFixture(s, d, IvfIndex.Pq())
      val served = IvfIndex.topK(s, dir, q, k = 10, nprobe = 4,
        shortlist = 50).localCheckpoint()
      val model = IvfIndex.load(s, dir)
      val codes = s.read.parquet(s"$dir/codes")
      val flat = Similarity.pqTopKRerank(
        codes.select(col("vec_id"), col("code")), model.codebooks,
        s.read.parquet(s"$dir/corpus")
          .select(col("vec_id"), col("v").as("embedding")),
        q, k = 10, shortlist = 50)
      val vsFlat = Similarity.annRecall(served, flat).head()
      val vsTruth = Similarity.annRecall(served,
        Similarity.bruteForceTopK(e, q, k = 10)).head()
      val needed = IvfIndex.probeBuckets(q, model.centroids, nprobe = 4)
      val pruned = filesScanned(
        codes.where(col("c").isin(needed.map(Int.box): _*))) <
        codes.inputFiles.length
      Seq((vsFlat.getLong(0),
          if (vsFlat.getDouble(1) >= 0.7) 1 else 0,
          if (vsTruth.getDouble(1) >= 0.6) 1 else 0,
          if (pruned) 1 else 0))
        .toDF("n_queries", "matches_flat_rerank", "recall_vs_truth_ok",
          "scan_pruned")
    }),
    // ---- IVF+SQ8 composed serving (r12): coarse pruning over an int8-
    // compressed resident tier (FAISS "IVF,SQ8") — 4× fewer scanned
    // bytes than the raw IVF layout at near-lossless cosine recall and
    // no re-rank tier (scales cancel in cosine; scoring is integer
    // dots). Flags: layout serve EXACTLY equals the in-memory
    // composition; recall vs the float brute truth; static partition
    // pruning proven on the executed scan's numFiles ----
    Gate("x117_ivfsq8_ann", Operator,
      // x101: fixed query count recomputed; the composed-serve flags
      // (pruned-ADC faithful to flat rerank, recall vs brute truth,
      // partition pruning observed on the executed scan) are
      // engine-side assertions, pinned (the x90/x99 pattern)
      // x117: contract flags (the x101 pattern on the SQ8 tier)
      "SELECT count(*) AS n_queries, CAST(1 AS INTEGER) AS matches_flat, " +
      "CAST(1 AS INTEGER) AS recall_vs_truth_ok, CAST(1 AS INTEGER) AS scan_pruned " +
      "FROM embeddings WHERE vec_id < 10",
      (s, d) => {
      import s.implicits._
      val e = emb(s, d).localCheckpoint()
      val q = e.where(col("vec_id") < 10)
      val dir = ivfIndexFixture(s, d, IvfIndex.Sq8)
      val served = IvfIndex.topK(s, dir, q, k = 5, nprobe = 4)
        .localCheckpoint()
      val model = IvfIndex.load(s, dir)
      val flat = IvfIndex.topKWith(e, q, k = 5, model, nprobe = 4)
      // fused one-action parity (top-k frames are dup-free, so the set
      // equality the old except pair asserted implies the count equality
      // the fused check adds)
      val (_, matchesFlat) = parityOneAction(served, flat)
      val vsTruth = Similarity.annRecall(served,
        Similarity.bruteForceTopK(e, q, k = 5)).head()
      val codes = s.read.parquet(s"$dir/codes")
      val needed = IvfIndex.probeBuckets(q, model.centroids, nprobe = 4)
      val pruned = filesScanned(
        codes.where(col("c").isin(needed.map(Int.box): _*))) <
        codes.inputFiles.length
      Seq((vsTruth.getLong(0),
          if (matchesFlat) 1 else 0,
          if (vsTruth.getDouble(1) >= 0.6) 1 else 0,
          if (pruned) 1 else 0))
        .toDF("n_queries", "matches_flat", "recall_vs_truth_ok", "scan_pruned")
    }),
    // hard-negative mining (r9): per query, the k most-similar
    // DIFFERENT-label vectors inside the [floor, ceiling) cosine band —
    // exact brute path (Similarity.topKPerQuery's bounded heap), full DuckDB
    // recompute as oracle; the IVF scale variant is recall-audited in
    // OperatorsSpec via annRecall against this truth
    Gate("x89_hard_negatives", Operator, duckHardNegatives, (s, d) => {
      val e = emb(s, d)
      Similarity.hardNegatives(e, e.where(col("vec_id") < 10), k = 5,
          dupCeiling = 0.98, floor = 0.0)
        .orderBy(col("qid"), col("cos").desc, col("vec_id"))
    }),
    // ANN results aren't DuckDB-reproducible (seeded hyperplanes); the gate
    // checks the deterministic contract: full k per query, cosines bounded,
    // and recall against the exact brute-force top-k above a floor.
    Gate("x08_sim_lsh_topk", Operator, "SELECT CAST(1 AS INTEGER) AS recall_ok, CAST(1 AS INTEGER) AS k_complete, " +
      "CAST(1 AS INTEGER) AS cos_bounded",
      (s, d) => {
      val e = emb(s, d)
      val q = e.where(col("vec_id") < 10)
      val brute = Similarity.bruteForceTopK(e, q, k = 5)
        .select(col("qid"), col("vec_id"), lit(1).as("b"))
      val lsh = Similarity.lshTopK(e, q, k = 5)
        .select(col("qid"), col("vec_id"), col("cos"), lit(1).as("l"))
      lsh.join(brute, Seq("qid", "vec_id"), "full_outer").agg(
        (sum(when(col("l").isNotNull && col("b").isNotNull, 1).otherwise(0)) * 4 >=
          sum(col("b"))).cast("int").as("recall_ok"),
        // ALL queries (brute side always has every qid): an index returning
        // nothing for one query must fail this, not vacuously pass
        (sum(col("l")) === count_distinct(col("qid")) * 5)
          .cast("int").as("k_complete"),
        (max(abs(col("cos"))) <= 1.0000001).cast("int").as("cos_bounded"))
    }),
    // ---- text analysis ----
    Gate("x09_text_stats", Operator, s"SELECT doc_id, $nTok AS n_tokens, " +
      s"CASE WHEN length(trim($t)) = 0 THEN 0 ELSE CAST((SELECT SUM(CAST(CEIL(CAST(length(w) AS DOUBLE) / 4.0) AS BIGINT)) FROM (SELECT UNNEST(${duckTokens(t)}) AS w)) AS BIGINT) END AS token_est, " +
      s"ROUND($digitR, 6) AS digit_ratio, ROUND($alphaR, 6) AS alpha_ratio, " +
      s"ROUND($meanTok, 6) AS mean_tok_len, ROUND($swRatio, 6) AS stopword_ratio " +
      "FROM documents ORDER BY doc_id",
      (s, d) => TextAnalysis.stats(docs(s, d), "text", "doc_id").orderBy("doc_id")),
    // ---- perceptual image dedup (r11): dHash over DECODED PIXELS finds
    // the copies byte-level dedup cannot — each 5-member family is the
    // SAME pattern re-encoded at five different resolutions (all byte
    // hashes distinct, all dHashes identical). Counts are pure doc_id
    // arithmetic → exact DuckDB oracle; the banded Hamming machinery
    // (SimHash's, reused) must surface every within-family pair ----
    Gate("x108_image_phash_dedup", Operator,
      // x108: every count is doc_id arithmetic — images per doc, byte
      // groups all distinct BY CONSTRUCTION (each family member encodes
      // at its own resolution), dHash groups = one per 5-member family
      "SELECT CAST(count(*) AS BIGINT) AS n_images, " +
      "CAST(count(*) AS BIGINT) AS n_byte_groups, " +
      "CAST(COUNT(DISTINCT doc_id - doc_id % 5) AS BIGINT) AS n_phash_groups, " +
      "CAST(1 AS INTEGER) AS family_pairs_complete " +
      "FROM documents",
      (s, d) => {
      import s.implicits._
      val ids = docs(s, d).select(col("doc_id")).as[Long]
      val media = ids.mapPartitions { it =>
        javax.imageio.ImageIO.setUseCache(false)
        it.map { id =>
          val leader = id - id % 5
          (id, Multimodal.synthPatternPngBytes(leader, 4 + (id % 5).toInt))
        }
      }.toDF("media_id", "payload").localCheckpoint()
      val hashed = Multimodal.dHash(media).localCheckpoint()
      val nImages = media.count()
      val byteGroups = media.select(sha2(col("payload"), 256))
        .distinct().count()
      val phashGroups = hashed.where(col("ok"))
        .select(col("phash")).distinct().count()
      val famPairs = Dedup.hammingCandidatesFromSig(
          hashed.select(col("id"), col("phash").as("sh")), maxHamming = 0)
        .where(col("ida") - pmod(col("ida"), lit(5)) ===
          col("idb") - pmod(col("idb"), lit(5)))
        .count()
      val expectedPairs = ids.toDF("id")
        .groupBy((col("id") - pmod(col("id"), lit(5))).as("f"))
        .agg(count(lit(1)).as("g"))
        .agg(sum(col("g") * (col("g") - 1) / 2).cast("long"))
        .head().getLong(0)
      Seq((nImages, byteGroups, phashGroups,
          if (famPairs == expectedPairs) 1 else 0))
        .toDF("n_images", "n_byte_groups", "n_phash_groups",
          "family_pairs_complete")
    }),
    // ---- bucketed co-located join (r11): the 100 TB shuffle-avoidance
    // lever DEMONSTRATED — both sides land as bucketed tables on the join
    // key (8 buckets, sorted), broadcast is disabled inside the gate so
    // the sort-merge join must rely on bucketing alone, and the per-key
    // aggregation rides the SAME bucket partitioning: the executed plan
    // of join+agg carries ZERO ShuffleExchange nodes (asserted by a
    // physical-plan walk through AQE). Values are exact vs DuckDB ----
    Gate("x105_bucketed_join", Operator, "SELECT o_orderkey, CAST(count(*) AS BIGINT) AS n_items, " +
      "ROUND(SUM(l_extendedprice), 2) AS revenue, " +
      "CAST(1 AS INTEGER) AS zero_shuffles " +
      "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
      "WHERE o_orderkey < 200 GROUP BY 1 ORDER BY 1",
      (s, d) => {
      val g0 = GraftSession.forDir(s, d)
      // r15 opt: the bucketed LAYOUT is "write once, join many"
      // infrastructure (exactly like the ANN index fixtures) — the gate's
      // assertion is the shuffle-free READ plan, so the layout is built
      // once per (session, sfDir) instead of per bench pass. saveAsTable
      // is metastore-bound (~4 s of catalog round-trips, measured), which
      // was 100% of this gate's cost.
      // table names carry a collision-resistant dir digest (r15 advice:
      // math.abs(hashCode) is negative for Int.MinValue and two sfDirs can
      // collide, silently overwriting the first corpus's tables): one JVM
      // driving several sfDirs (specs do) must not alias two corpora
      val sfx = java.security.MessageDigest.getInstance("MD5")
        .digest(d.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
      // the bucketed tables live in the SESSION catalog while the fixture
      // map is JVM-static (r15 advice): a stopped-and-recreated session in
      // the same JVM must rebuild, so existence is checked in the catalog,
      // not inferred from the fixture key
      if (!s.catalog.tableExists(s"x105_orders_$sfx") ||
          !s.catalog.tableExists(s"x105_lineitem_$sfx")) {
        fixtures.remove(s"x105buckets:$d"): Unit
      }
      fixture(s"x105buckets:$d") { _ =>
        val orders = g0.catalog.relation("orders")
        val lineitem = g0.catalog.relation("lineitem")
        orders.write.mode("overwrite").format("parquet")
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .option("path", tempDir("x105_o_")).saveAsTable(s"x105_orders_$sfx")
        lineitem.write.mode("overwrite").format("parquet")
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .option("path", tempDir("x105_l_")).saveAsTable(s"x105_lineitem_$sfx")
      }
      val savedBc = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val (rows, nShuffles) = try {
        val joined = s.table(s"x105_lineitem_$sfx")
          .join(s.table(s"x105_orders_$sfx"),
            col("l_orderkey") === col("o_orderkey"))
          .where(col("o_orderkey") < 200)
          .groupBy(col("o_orderkey"))
          .agg(count(lit(1)).as("n_items"),
            round(sum(col("l_extendedprice")), 2).as("revenue"))
        joined.queryExecution.toRdd.foreach(_ => ())
        def walk(p: org.apache.spark.sql.execution.SparkPlan): Long = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            walk(a.executedPlan)
          case st: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            walk(st.plan)
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
            1L + e.children.map(walk).sum
          case other => other.children.map(walk).sum
        }
        (joined.localCheckpoint(),
          walk(joined.queryExecution.executedPlan))
      } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", savedBc)
      rows.withColumn("zero_shuffles", lit(if (nShuffles == 0) 1 else 0))
        .orderBy("o_orderkey")
    }),
    // ---- compression-ratio quality signal (r11, the CCNet heuristic):
    // deflate is not ANSI-recomputable, so the oracle pins per-bucket
    // counts and EXACT UTF-8 byte sums (doubling recomputed as 2×strlen)
    // plus the load-bearing inequality: doubled docs (injected 4th) must
    // compress strictly better ON AVERAGE than the untouched ones ----
    Gate("x104_compression_ratio", Operator, "SELECT CAST((doc_id % 4 = 0) AS INTEGER) AS doubled, " +
      "CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(SUM(CASE WHEN doc_id % 4 = 0 THEN 2 * strlen(text) " +
      "ELSE strlen(text) END) AS BIGINT) AS sum_bytes, " +
      "CAST(1 AS INTEGER) AS mean_lt " +
      "FROM documents GROUP BY 1 ORDER BY 1",
      (s, d) => {
      import s.implicits._
      val injected = docs(s, d).select(col("doc_id"),
        when(col("doc_id") % 4 === 0, concat(col("text"), col("text")))
          .otherwise(col("text")).as("text"))
      val r = TextAnalysis.compressionRatio(injected, "text", "doc_id")
        .withColumn("doubled", (col("id") % 4 === 0).cast("int"))
        .localCheckpoint() // deflate once; means + buckets both read it
      val m = r.groupBy(col("doubled")).agg(avg(col("ratio")).as("m"))
        .collect().map(x => x.getInt(0) -> x.getDouble(1)).toMap
      val meanLt = if (m(1) < m(0)) 1 else 0
      r.groupBy(col("doubled"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_bytes")).as("sum_bytes"))
        .withColumn("mean_lt", lit(meanLt))
        .orderBy("doubled")
    }),
    Gate("x10_text_quality", Operator, s"SELECT doc_id, ROUND($qualityExpr, 6) AS quality " +
      "FROM documents ORDER BY doc_id",
      (s, d) => TextAnalysis.quality(docs(s, d), "text", "doc_id")
        .select(col("doc_id"), round(col("quality"), 6).as("quality"))
        .orderBy("doc_id")),
    Gate("x11_text_langid", Operator, duckLangId, (s, d) =>
      docs(s, d).select(col("doc_id"), col("lang"))
        .join(TextAnalysis.langIdDF(docs(s, d), "text", "doc_id"), "doc_id")
        .groupBy("lang", "predicted").agg(count(lit(1)).as("n"))
        .orderBy("lang", "predicted")),
    // xxhash64 fingerprints aren't DuckDB-computable; the gate checks the
    // functional contract (exactly one fingerprint per doc, identical texts
    // share a fingerprint) against DuckDB-recomputed corpus counts.
    Gate("x12_text_fingerprint", Operator, "SELECT count(DISTINCT text) AS n_distinct_texts, count(*) AS n_docs, " +
      "CAST(1 AS INTEGER) AS fp_fn_of_text, CAST(1 AS INTEGER) AS fp_present FROM documents",
      (s, d) => {
      val fp = TextAnalysis.fingerprintDF(docs(s, d), "text", "doc_id")
      docs(s, d).select(col("doc_id"), col("text")).join(fp, "doc_id")
        .groupBy(col("text"))
        .agg(count_distinct(col("fp")).as("nfp"), count(lit(1)).as("ndoc"))
        .agg(
          count(lit(1)).as("n_distinct_texts"),
          sum(col("ndoc")).as("n_docs"),
          (max(col("nfp")) === 1).cast("int").as("fp_fn_of_text"),
          (sum(when(col("nfp") >= 1, 1).otherwise(0)) === count(lit(1)))
            .cast("int").as("fp_present"))
    }),
    // ---- multimodal ----
    Gate("x13_mm_decode", Operator,
      // x13: png rows are REAL PNGs decoded by ImageIO — the oracle
      // recomputes the synthesis dimensions (pure fns of media_id), so a
      // pass proves the encode→decode round-trip, not a stub echo; the
      // audio/video rows keep the deterministic stub formulas
      // x13: every payload is a REAL container (PNG pixels, RIFF WAV fmt
      // chunk, MP4 tkhd box) — the oracle recomputes the synthesis
      // parameters (pure fns of media_id), so a pass proves each
      // encode→parse round-trip, not a stub echo. width/height map to
      // (sample_rate, frames) for wav and (track_w, track_h) for mp4.
      // content_checksum closes BOTH media loops at the content level:
      // the oracle re-sums the synthetic waveform formula (WAV int16
      // samples) and the synthetic mdat byte formula (MP4 media data)
      // over generate_series, so a match proves the decoders read every
      // sample / every media byte, the way PNG pixels/dHash did for
      // images
      "SELECT doc_id AS media_id, " +
      "CASE WHEN doc_id % 3 = 0 THEN 'image/png' WHEN doc_id % 3 = 1 THEN 'audio/wav' ELSE 'video/mp4' END AS mime, " +
      "CAST(CASE WHEN doc_id % 3 = 0 THEN 8 + (doc_id % 24) " +
      "WHEN doc_id % 3 = 1 THEN 8000 + (doc_id % 8) * 1000 " +
      "ELSE 160 + (doc_id % 32) * 8 END AS INTEGER) AS width, " +
      "CAST(CASE WHEN doc_id % 3 = 0 THEN 8 + ((doc_id * 7) % 24) " +
      "WHEN doc_id % 3 = 1 THEN 16 + (doc_id % 32) " +
      "ELSE 120 + ((doc_id * 5) % 32) * 8 END AS INTEGER) AS height, " +
      "CAST(CASE WHEN doc_id % 3 = 1 THEN 1 + (doc_id % 2) ELSE 3 END AS INTEGER) AS channels, " +
      "TRUE AS ok, " +
      "CAST(CASE WHEN doc_id % 3 = 1 THEN (" +
      "SELECT SUM(((doc_id * 131 + s.i * 17) % 65536) - 32768) " +
      "FROM generate_series(0, 95) AS s(i) " +
      "WHERE s.i < (16 + doc_id % 32) * (1 + doc_id % 2)" +
      ") WHEN doc_id % 3 = 2 THEN (" +
      "SELECT SUM((doc_id * 131 + s.i * 17) % 256) " +
      "FROM generate_series(0, 71) AS s(i) " +
      "WHERE s.i < 24 + doc_id % 48" +
      ") ELSE 0 END AS BIGINT) AS content_checksum " +
      "FROM documents ORDER BY media_id",
      (s, d) => Multimodal.decode(Multimodal.synthesize(docs(s, d))).toDF()
        .select("media_id", "mime", "width", "height", "channels", "ok",
          "content_checksum")
        .orderBy("media_id")),
    Gate("x14_mm_frames", Operator,
      // x14: every real container payload is ≥ 44 bytes (WAV header; PNG
      // ≥ ~60; MP4 ≥ ~130), so all 4 frame slots land for every row
      "SELECT doc_id AS media_id, CAST(4 AS BIGINT) AS n_frames " +
      "FROM documents ORDER BY media_id",
      (s, d) => Multimodal.sampleFrames(Multimodal.synthesize(docs(s, d)))
        .groupBy("media_id").agg(count(lit(1)).as("n_frames"))
        .orderBy("media_id")),
    // ---- audio quality signals (r12): silence / clipping / energy over
    // the PCM-16 data chunk — every count recomputed by the oracle from
    // the synthetic waveform formula, so a pass proves the kernel read
    // and classified every SAMPLE (the audio analog of the dHash gate) ----
    Gate("x110_audio_stats", Operator,
      // x110: every stat re-derived from the synthetic waveform formula
      // s(i) = ((id*131 + i*17) % 65536) - 32768 over the sample index
      // series — an exact integer recompute of energy/silence/clipping,
      // proving the kernel classified every PCM sample
      "WITH st AS (SELECT doc_id, (16 + doc_id % 32) * (1 + doc_id % 2) AS n, " +
      "(SELECT list(((doc_id * 131 + g.i * 17) % 65536) - 32768) " +
      " FROM generate_series(0, 95) AS g(i) " +
      " WHERE g.i < (16 + doc_id % 32) * (1 + doc_id % 2)) AS ss " +
      "FROM documents WHERE doc_id % 3 = 1) " +
      "SELECT doc_id AS media_id, TRUE AS ok, CAST(n AS BIGINT) AS n_samples, " +
      "CAST(list_sum(list_transform(ss, s -> s * s)) AS BIGINT) AS sum_sq, " +
      "CAST(list_sum(list_transform(ss, s -> CASE WHEN abs(s) < 1024 THEN 1 ELSE 0 END)) AS BIGINT) AS n_silent, " +
      "CAST(list_sum(list_transform(ss, s -> CASE WHEN s = 32767 OR s = -32768 THEN 1 ELSE 0 END)) AS BIGINT) AS n_clipped " +
      "FROM st " +
      "UNION ALL " +
      "SELECT doc_id, FALSE, 0, 0, 0, 0 FROM documents WHERE doc_id % 3 <> 1 " +
      "ORDER BY media_id",
      (s, d) => Multimodal.audioStats(Multimodal.synthesize(docs(s, d))).toDF()
        .select("media_id", "ok", "n_samples", "sum_sq", "n_silent",
          "n_clipped")
        .orderBy("media_id")),
    // ---- perceptual AUDIO dedup (r12): volume-invariant energy-envelope
    // fingerprint finds gain-shifted copies whose BYTES differ (the audio
    // analog of x108's dHash story). Families of 3 recordings per leader
    // at gains 1×/½×/¼× — window amplitudes are multiples of 4, so the
    // gain variants divide exactly and fingerprints collide by
    // construction; distinct leaders separate. Counts are pure doc_id
    // arithmetic for the oracle ----
    Gate("x112_audio_fp_dedup", Operator,
      // x112: family structure is pure doc_id arithmetic — 3 gain
      // variants per leader collapse to ONE fingerprint (flags), one
      // fingerprint per family
      "SELECT CAST(count(*) AS BIGINT) AS n_media, " +
      "CAST(count(DISTINCT doc_id - doc_id % 3) AS BIGINT) AS n_families, " +
      "CAST(1 AS INTEGER) AS gain_invariant, " +
      "CAST(1 AS INTEGER) AS families_separate, " +
      "CAST(1 AS INTEGER) AS all_ok FROM documents",
      (s, d) => {
      import s.implicits._
      val media = docs(s, d).select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val leader = id - id % 3
            (id, Multimodal.synthToneWavBytes(leader, 1 << (id % 3).toInt))
          }
        }.toDF("media_id", "payload")
      val sig = Multimodal.audioFingerprint(media).localCheckpoint()
      val fam = col("id") - col("id") % 3
      sig.agg(
        count(lit(1)).as("n_media"),
        count_distinct(fam).as("n_families"),
        (count_distinct(struct(fam, col("afp"))) === count_distinct(fam))
          .cast("int").as("gain_invariant"),
        (count_distinct(col("afp")) === count_distinct(fam))
          .cast("int").as("families_separate"),
        (sum(col("ok").cast("int")) === count(lit(1)))
          .cast("int").as("all_ok"))
    }),
    // ---- URL dedup (r12): canonicalize-then-dedup, the C4/RefinedWeb
    // crawl-hygiene stage. 3-variant families per leader — identical
    // canonical URL wearing different noise (www + fragment / appended
    // tracking param), bytes differ, normalization collapses them; the
    // keeper set is pure doc_id arithmetic for the oracle ----
    Gate("x114_url_dedup", Operator,
      // x114: the keeper set (min doc_id per 3-variant family) is pure
      // arithmetic; all_canonical is asserted Spark-side
      "SELECT CAST(count(*) AS BIGINT) AS n_kept, " +
      "CAST(sum(mn) AS BIGINT) AS sum_kept, " +
      "CAST(1 AS INTEGER) AS all_canonical " +
      "FROM (SELECT min(doc_id) AS mn FROM documents " +
      "GROUP BY doc_id - doc_id % 3)",
      (s, d) => {
      val leader = col("doc_id") - col("doc_id") % 3
      val canon = UrlCuration.synthCanonicalUrl(leader)
      val url = when(col("doc_id") % 3 === 0, canon)
        .when(col("doc_id") % 3 === 1,
          concat(regexp_replace(canon, "://", "://www."),
            lit("#v"), col("doc_id").cast("string")))
        .otherwise(when(instr(canon, "?") > 0,
            concat(canon, lit("&utm_campaign=y")))
          .otherwise(concat(canon, lit("?utm_source=x"))))
      val in = docs(s, d).select(col("doc_id"), url.as("url"))
      val kept = UrlCuration.urlDedup(in, "url", "doc_id").localCheckpoint()
      kept.agg(
        count(lit(1)).as("n_kept"),
        sum(col("doc_id")).as("sum_kept"),
        (sum((col("url_norm") === UrlCuration.synthCanonicalUrl(
            col("doc_id") - col("doc_id") % 3)).cast("int")) === count(lit(1)))
          .cast("int").as("all_canonical"))
    }),
    // ---- int8 (SQ8) ANN serve (r12): cosine over int8 codes alone —
    // scales cancel, scoring is exact integer dots. Recall vs the exact
    // brute-force truth must be near-lossless (8-bit quantization noise
    // only), and the int8 score must sit within the quantization error
    // envelope of the exact score on every overlapping pair ----
    Gate("x115_int8_ann", Operator,
      // x115: contract flags (the x16 pattern — recall/shape/error
      // envelope asserted Spark-side, pinned 1 by the oracle)
      "SELECT CAST(1 AS INTEGER) AS recall_ok, CAST(1 AS INTEGER) AS k_complete, " +
      "CAST(1 AS INTEGER) AS cos_bounded, CAST(1 AS INTEGER) AS err_bounded",
      (s, d) => {
      val e = emb(s, d)
      val q = e.where(col("vec_id") < 10)
      val brute = Similarity.bruteForceTopK(e, q, k = 5)
        .select(col("qid"), col("vec_id"), col("cos").as("bcos"), lit(1).as("b"))
      val i8 = Similarity.int8CosineTopK(e, q, k = 5)
        .select(col("qid"), col("vec_id"), col("cos"), lit(1).as("l"))
      i8.join(brute, Seq("qid", "vec_id"), "full_outer").agg(
        (sum(when(col("l").isNotNull && col("b").isNotNull, 1).otherwise(0)) * 10 >=
          sum(col("b")) * 9).cast("int").as("recall_ok"),
        (sum(col("l")) === count_distinct(col("qid")) * 5)
          .cast("int").as("k_complete"),
        (max(abs(col("cos"))) <= 1.0000001).cast("int").as("cos_bounded"),
        (max(when(col("l").isNotNull && col("b").isNotNull,
          abs(col("cos") - col("bcos"))).otherwise(0.0)) <= 0.02)
          .cast("int").as("err_bounded"))
    }),
    // ---- cluster-balanced sampling (r12): SemDeDup/DCLM diversity
    // selection — cap dense semantic clusters. k-means isn't DuckDB-
    // recomputable, so the gate pins the CONTRACT: kept = Σ min(cap, |c|)
    // over the audited assignment, no cluster over cap, cluster ids in
    // range, and the content-addressed sample is run-deterministic;
    // n_in is the DuckDB-matched anchor ----
    Gate("x116_cluster_balanced", Operator,
      // x116: contract flags (k-means isn't DuckDB-recomputable — the
      // kept count is audited Spark-side against Σ min(cap, |cluster|)
      // via kept_eq_sum_min); n_in anchors to the real table
      "SELECT CAST(1 AS INTEGER) AS kept_eq_sum_min, " +
      "CAST(1 AS INTEGER) AS deterministic, " +
      "CAST(1 AS INTEGER) AS caps_ok, " +
      "CAST(1 AS INTEGER) AS clusters_bounded, " +
      "CAST(count(*) AS BIGINT) AS n_in FROM embeddings",
      (s, d) => {
      val e = emb(s, d)
      val cap = 40
      val asg = Similarity.clusterAssignments(e).localCheckpoint()
      val kept = Sampling.uniformPerGroup(asg, "cluster", cap, "vec_id")
        .localCheckpoint()
      val kept2 = Similarity.clusterBalancedSample(e, cap)
        .select(col("vec_id"))
      val expected = asg.groupBy("cluster").count()
        .agg(sum(least(col("count"), lit(cap.toLong)))).head().getLong(0)
      val perCluster = kept.groupBy("cluster").agg(count(lit(1)).as("n"))
      // SET equality, not subset: union-distinct == kept.count alone
      // would pass if the second run returned strictly fewer rows
      val deterministic = {
        val k2n = kept2.distinct().count()
        kept.select(col("vec_id"))
          .union(kept2).distinct().count() == kept.count() &&
          k2n == kept.count()
      }
      kept.agg(
        lit(e.count()).as("n_in"),
        (count(lit(1)) === expected).cast("int").as("kept_eq_sum_min"),
        lit(if (deterministic) 1 else 0).as("deterministic"))
        .crossJoin(perCluster.agg(
          (max(col("n")) <= cap).cast("int").as("caps_ok")))
        .crossJoin(asg.agg(
          (min(col("cluster")) >= 0 && max(col("cluster")) < 16)
            .cast("int").as("clusters_bounded")))
    }),
    // feature extraction: payload → unit-norm embedding column, verified by
    // contract flags (dimension, L2 norm) + DuckDB-recomputed media count
    Gate("x26_mm_features", Operator, "SELECT count(*) AS n_media, CAST(1 AS INTEGER) AS dim_ok, " +
      "CAST(1 AS INTEGER) AS norm_ok FROM documents",
      (s, d) => {
      val f = Multimodal.features(Multimodal.synthesize(docs(s, d)), dim = 16).toDF()
      val nrm = graft.expr.VectorOps.dot(col("feature"), col("feature"))
      f.agg(
        count(lit(1)).as("n_media"),
        (sum(when(size(col("feature")) === 16, 1).otherwise(0)) === count(lit(1)))
          .cast("int").as("dim_ok"),
        (sum(when(abs(nrm - 1.0) < 1e-3 || nrm === 0.0, 1).otherwise(0)) === count(lit(1)))
          .cast("int").as("norm_ok"))
    }),
    // batched-inference plumbing: contract gate — row count preserved
    // (DuckDB-recomputed), every batch ≤ batchSize and full except
    // per-partition stragglers, embeddings unit-norm
    Gate("x49_mm_batched_infer", Operator, "SELECT count(*) AS n_media, CAST(1 AS INTEGER) AS batch_bounded, " +
      "CAST(1 AS INTEGER) AS straggler_bounded, CAST(1 AS INTEGER) AS norm_ok " +
      "FROM documents",
      (s, d) => {
      val in = Multimodal.synthesize(docs(s, d))
      // straggler bound must track the ACTUAL partition count (batchedInfer
      // batches within input partitions), not assume a 64-partition session
      val nParts = in.rdd.getNumPartitions.toLong
      val f = Multimodal.batchedInfer(in, batchSize = 8, dim = 16).toDF()
      val nrm = graft.expr.VectorOps.dot(col("emb"), col("emb"))
      f.agg(
        count(lit(1)).as("n_media"),
        (max(col("batch_n")) <= 8).cast("int").as("batch_bounded"),
        // stragglers (batch_n < 8) are bounded by one batch per partition
        (sum(when(col("batch_n") < 8, 1).otherwise(0)) <= lit(8L * nParts))
          .cast("int").as("straggler_bounded"),
        (sum(when(abs(nrm - 1.0) < 1e-3 || nrm === 0.0, 1).otherwise(0)) === count(lit(1)))
          .cast("int").as("norm_ok"))
    }),
    // ---- line-level boilerplate removal (CCNet-style). The synthetic
    // docs are single-line, so the gate builds a multi-line corpus (regex
    // splits every 8 words) and injects a per-source header + a global
    // banner; lineDedup at df>=5 must strip exactly the injected lines
    // (plus any 8-word line the tiny vocabulary genuinely repeats across
    // >=5 docs) and reassemble the rest byte-exact, md5-checked ----
    Gate("x50_line_dedup", Operator, "WITH inj AS (SELECT doc_id, source || ' | COMMON SITE HEADER' || chr(10) || " +
      "'cookie notice: accept all' || chr(10) || " +
      "regexp_replace(text, '((?:\\S+ ){8})', '\\1' || chr(10), 'g') AS text FROM documents), " +
      "l AS (SELECT doc_id, unnest(string_split(text, chr(10))) AS line, " +
      "unnest(generate_series(1, len(string_split(text, chr(10))))) AS pos FROM inj), " +
      "hot AS (SELECT line FROM (SELECT line, count(DISTINCT doc_id) AS df FROM l " +
      "WHERE trim(line) <> '' GROUP BY line) t WHERE df >= 5), " +
      "kept AS (SELECT l.* FROM l ANTI JOIN hot USING (line)), " +
      "r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept, " +
      "string_agg(line, chr(10) ORDER BY pos) AS cleaned FROM kept GROUP BY doc_id) " +
      "SELECT i.doc_id, COALESCE(r.n_kept, 0) AS n_kept, " +
      "CAST(len(string_split(i.text, chr(10))) - COALESCE(r.n_kept, 0) AS BIGINT) AS n_removed, " +
      "md5(COALESCE(r.cleaned, '')) AS h FROM inj i LEFT JOIN r USING (doc_id) ORDER BY doc_id",
      (s, d) => {
      val injected = docs(s, d).select(col("doc_id"),
        concat(col("source"), lit(" | COMMON SITE HEADER\ncookie notice: accept all\n"),
          regexp_replace(col("text"), "((?:\\S+ ){8})", "$1\n")).as("text"))
      Dedup.lineDedup(injected, "text", "doc_id", minDocFreq = 5L)
        .select(col("doc_id"), col("n_kept"), col("n_removed"),
          md5(col("cleaned")).as("h"))
        .orderBy("doc_id")
    }),
    // tf-idf restricted to a doc slice so the gate output stays bounded
    Gate("x17_text_tfidf", Operator,
      "WITH toks AS (SELECT doc_id AS id, UNNEST(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term FROM documents), " +
      "tf AS (SELECT id, term, COUNT(*) AS tf FROM toks WHERE term <> '' GROUP BY id, term), " +
      "dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term), " +
      "n AS (SELECT COUNT(*) AS n FROM documents) " +
      "SELECT id, term, tf, ROUND(tf * (ln((n.n + 1.0) / (dfreq.df + 1.0)) + 1.0), 6) AS tfidf " +
      "FROM tf JOIN dfreq USING (term) CROSS JOIN n WHERE id < 20 ORDER BY id, term",
      (s, d) => TextAnalysis.tfidf(docs(s, d), "text", "doc_id")
        .where(col("id") < 20).orderBy("id", "term")),
    Gate("x16_sim_ivf_topk", Operator, "SELECT CAST(1 AS INTEGER) AS recall_ok, CAST(1 AS INTEGER) AS k_complete, " +
      "CAST(1 AS INTEGER) AS cos_bounded",
      (s, d) => {
      val e = emb(s, d)
      val q = e.where(col("vec_id") < 10)
      val brute = Similarity.bruteForceTopK(e, q, k = 5)
        .select(col("qid"), col("vec_id"), lit(1).as("b"))
      val ivf = Similarity.ivfTopK(e, q, k = 5, iters = 1)
        .select(col("qid"), col("vec_id"), col("cos"), lit(1).as("l"))
      ivf.join(brute, Seq("qid", "vec_id"), "full_outer").agg(
        (sum(when(col("l").isNotNull && col("b").isNotNull, 1).otherwise(0)) * 10 >=
          sum(col("b")) * 7).cast("int").as("recall_ok"),
        (sum(col("l")) === count_distinct(col("qid")) * 5)
          .cast("int").as("k_complete"),
        (max(abs(col("cos"))) <= 1.0000001).cast("int").as("cos_bounded"))
    }),
    // ---- AS-OF join: latest reference row at-or-before each event
    // (union + one keyed window — no range-join pair blowup) ----
    Gate("x25_asof_join", Operator,
      "WITH r AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, event_id AS ref_id, value AS ref_value " +
      "FROM events WHERE event_id % 10 = 0), " +
      "l AS (SELECT event_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_id % 10 <> 0) " +
      "SELECT l.event_id, r.ref_id, ROUND(r.ref_value, 4) AS ref_value " +
      "FROM l ASOF LEFT JOIN r ON l.event_type = r.event_type AND l.ts >= r.ts " +
      "ORDER BY l.event_id",
      (s, d) => {
      val ev = GraftSession.forDir(s, d).catalog.relation("events")
      val ref = ev.where(col("event_id") % 10 === 0)
        .select(col("event_type"), col("ts"),
          col("event_id").as("ref_id"), col("value").as("ref_value"))
      val lhs = ev.where(col("event_id") % 10 =!= 0)
        .select(col("event_id"), col("event_type"), col("ts"))
      AsOf.join(lhs, ref, Seq("event_type"), "ts")
        .select(col("event_id"), col("ref_id"),
          round(col("ref_value"), 4).as("ref_value"))
        .orderBy("event_id")
    }),
    // ---- document chunking: overlapping token windows (embedding prep) ----
    Gate("x24_chunk", Operator,
      "WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents), " +
      "c AS (SELECT doc_id, unnest(range(0, CAST(CEIL(CAST(GREATEST(len(ws) - 2, 1) AS DOUBLE) / 8) AS BIGINT))) AS chunk_id, ws FROM d) " +
      "SELECT doc_id, chunk_id, array_to_string(ws[chunk_id*8+1 : chunk_id*8+10], ' ') AS chunk " +
      "FROM c ORDER BY doc_id, chunk_id",
      (s, d) => TextAnalysis.chunk(docs(s, d), "text", "doc_id", chunkSize = 10, overlap = 2)
        .orderBy("doc_id", "chunk_id")),
    // ---- sequence packing: docs → fixed token-budget bins, per shard ----
    Gate("x23_pack_sequences", Operator, "WITH d AS (SELECT doc_id, CASE WHEN length(trim(text)) = 0 THEN 0 " +
      "ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS toks FROM documents), " +
      "p AS (SELECT doc_id % 8 AS shard, toks, " +
      "COALESCE(SUM(toks) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef FROM d) " +
      "SELECT shard, CAST(bef AS BIGINT) // 500 AS bin, count(*) AS n_docs, " +
      "CAST(SUM(toks) AS BIGINT) AS n_tokens FROM p GROUP BY 1, 2 ORDER BY 1, 2",
      (s, d) => {
      val toks = when(length(trim(col("text"))) === 0, 0L)
        .otherwise(size(split(trim(col("text")), "\\s+")).cast("long"))
      val dd = docs(s, d).select(col("doc_id"), toks.as("toks"))
      // explicit modulo shard so DuckDB can recompute it; production path
      // is the hash-shard overload (works for string ids, skew-free)
      Curation.packSequences(dd, "doc_id", "toks", budget = 500,
        shard = pmod(col("doc_id"), lit(8L)))
        .groupBy(col("shard"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
        .orderBy("shard", "bin")
    }),
    // ---- end-to-end curation pipeline (dedup → quality → token budget) ----
    Gate("x15_curation", Operator, "WITH keep AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text), " +
      "d AS (SELECT doc.* FROM documents doc JOIN keep USING (doc_id)) " +
      s"SELECT lang, COUNT(*) AS n_docs, CAST(SUM(token_est) AS BIGINT) AS n_tokens FROM " +
      s"(SELECT lang, $qualityExpr AS quality, " +
      s"CASE WHEN length(trim($t)) = 0 THEN 0 ELSE CAST((SELECT SUM(CAST(CEIL(CAST(length(w) AS DOUBLE) / 4.0) AS BIGINT)) FROM (SELECT UNNEST(${duckTokens(t)}) AS w)) AS BIGINT) END AS token_est " +
      "FROM d) WHERE quality >= 0.5 GROUP BY lang ORDER BY lang",
      (s, d) => Curation.curate(docs(s, d), minQuality = 0.5)),
    // ---- sampling: dialect TABLESAMPLE (tolerance flag — Bernoulli draws
    // differ across engines, the FLAG is deterministic) ----
    Gate("x18_sample_dialect", Operator, "SELECT CAST(1 AS BIGINT) AS ok", (s, d) =>
      GraftSession.forDir(s, d).sql(
        "select case when s.n > 0.07 * t.n and s.n < 0.13 * t.n then 1 else 0 end as ok " +
        "from (select count(*) as n from lineitem sample (10 percent) seed 42) as s " +
        "cross join (select count(*) as n from lineitem) as t")),
    // ---- benchmark decontamination: training docs sharing word 3-grams
    // with the held-out slice (exact, DuckDB-recomputable) ----
    Gate("x20_decontaminate", Operator,
      "WITH d AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws FROM documents), " +
      "g AS (SELECT doc_id, CASE WHEN len(ws) < 3 THEN [array_to_string(ws,' ')] " +
      "ELSE list_distinct([array_to_string(ws[i:i+2],' ') for i in range(1, len(ws)-1)]) END AS grams FROM d), " +
      "b AS (SELECT DISTINCT unnest(grams) AS sh FROM g WHERE doc_id % 97 = 0), " +
      "t AS (SELECT doc_id, unnest(grams) AS sh FROM g WHERE doc_id % 97 <> 0) " +
      "SELECT t.doc_id AS id, CAST(count(*) AS BIGINT) AS hits FROM t JOIN b USING (sh) " +
      "GROUP BY 1 ORDER BY id",
      (s, d) => {
      val dd = docs(s, d)
      Decontaminate.overlap(
        dd.where(col("doc_id") % 97 =!= 0),
        dd.where(col("doc_id") % 97 === 0),
        "text", "doc_id", w = 3).orderBy("id")
    }),
    // ---- PII redaction: emails/IPs/long digit runs → typed placeholders
    // (synthetic PII injected deterministically so the operator has work) ----
    Gate("x21_pii_redact", Operator, "WITH inj AS (SELECT doc_id, text || CASE WHEN doc_id % 50 = 0 " +
      "THEN ' contact john.doe@example.com or 192.168.1.77 or call 5551234567' ELSE '' END AS orig FROM documents), " +
      "r AS (SELECT doc_id, orig, regexp_replace(regexp_replace(regexp_replace(orig, " +
      "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
      "'\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'), " +
      "'\\b\\d{7,15}\\b', '<NUM>', 'g') AS redacted FROM inj) " +
      "SELECT doc_id, redacted FROM r WHERE redacted <> orig ORDER BY doc_id",
      (s, d) => {
      val injected = concat(col("text"),
        when(col("doc_id") % 50 === 0,
          lit(" contact john.doe@example.com or 192.168.1.77 or call 5551234567"))
          .otherwise(lit("")))
      docs(s, d)
        .select(col("doc_id"), injected.as("orig"),
          TextAnalysis.redactPII(injected).as("redacted"))
        .where(col("redacted") =!= col("orig"))
        .select(col("doc_id"), col("redacted"))
        .orderBy("doc_id")
    }),
    // ---- repetition / type-token signals (Gopher-style quality filters) ----
    Gate("x22_repetition", Operator,
      "WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok FROM documents), " +
      "t2 AS (SELECT doc_id, tok, count(*) AS c FROM toks WHERE tok <> '' GROUP BY 1, 2) " +
      "SELECT doc_id, ROUND(CAST(MAX(c) AS DOUBLE)/SUM(c), 6) AS rep_ratio, " +
      "ROUND(CAST(COUNT(*) AS DOUBLE)/SUM(c), 6) AS ttr FROM t2 GROUP BY 1 ORDER BY 1",
      (s, d) => TextAnalysis.repetition(docs(s, d), "text", "doc_id").orderBy("doc_id")),
    // ---- corpus vocabulary: top-k tokens by frequency (tokenizer-building
    // / contamination-eyeballing staple; ties broken by token text) ----
    Gate("x28_vocab_topk", Operator, "SELECT tok AS term, count(*) AS n FROM (SELECT unnest(" +
      "regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok FROM documents) " +
      "WHERE tok <> '' GROUP BY tok ORDER BY n DESC, term LIMIT 30",
      (s, d) => TextAnalysis.vocab(docs(s, d), "text", "doc_id", k = 30)),
    // ---- stratified (per-class) sampling: seeded Bernoulli per stratum
    // via sampleBy — class rebalancing. Draws differ across engines, so
    // the gate checks deterministic FLAGS: only requested strata survive,
    // per-stratum keep-rates near the requested fractions ----
    Gate("x29_stratified_sample", Operator, "SELECT CAST(1 AS INTEGER) AS only_named_strata, " +
      "CAST(1 AS INTEGER) AS en_in_range, CAST(1 AS INTEGER) AS de_in_range",
      (s, d) => {
      val base = docs(s, d)
      val kept = Sampling.stratified(base, "lang",
        Map[Any, Double]("en" -> 0.5, "de" -> 0.25), seed = 42L)
        .groupBy("lang").agg(count(lit(1)).as("n"))
      val tot = base.groupBy("lang").agg(count(lit(1)).as("t"))
      kept.join(tot, "lang").agg(
        (count(lit(1)) === 2).cast("int").as("only_named_strata"),
        (sum(when(col("lang") === "en" && col("n") > col("t") * 0.3 &&
          col("n") < col("t") * 0.7, 1).otherwise(0)) === 1).cast("int").as("en_in_range"),
        (sum(when(col("lang") === "de" && col("n") > col("t") * 0.05 &&
          col("n") < col("t") * 0.5, 1).otherwise(0)) === 1).cast("int").as("de_in_range"))
    }),
    // ---- per-source caps (domain caps): keep the first N docs per source
    // — the standard guard against one domain dominating a crawl. Exact
    // DuckDB oracle (same row_number semantics) ----
    Gate("x30_source_cap", Operator, "SELECT doc_id, source FROM (SELECT doc_id, source, " +
      "row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn FROM documents) " +
      "WHERE rn <= 10 ORDER BY doc_id",
      (s, d) => Sampling.capPerGroup(docs(s, d), "source", cap = 10, orderCol = "doc_id")
        .select(col("doc_id"), col("source")).orderBy("doc_id")),
    // ---- weighted corpus mixture: content-addressed per-source keep
    // probabilities (training-mixture building). Hash membership is not
    // DuckDB-computable → deterministic FLAGS: only listed sources
    // survive, per-source keep-rates in wide binomial bounds, and the
    // draw is reproducible (two runs agree row-for-row) ----
    Gate("x31_mixture", Operator, "SELECT CAST(1 AS INTEGER) AS only_listed, CAST(1 AS INTEGER) AS w1_keeps_all, " +
      "CAST(1 AS INTEGER) AS w50_in_range, CAST(1 AS INTEGER) AS w10_low, " +
      "CAST(1 AS INTEGER) AS reproducible",
      (s, d) => {
      val base = docs(s, d)
      def run = Sampling.mixture(base, "source", "doc_id",
        Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.1), seed = 7L)
      val a = run.select(col("doc_id"), col("source"))
      val b = run.select(col("doc_id").as("doc_id2"))
      val tot = base.groupBy("source").agg(count(lit(1)).as("t"))
      val kept = a.groupBy("source").agg(count(lit(1)).as("n"))
      val rates = kept.join(tot, "source")
      val rejoined = a.join(b, col("doc_id") === col("doc_id2"), "full_outer")
      val determinism = rejoined.agg(
        (sum(when(col("doc_id").isNull || col("doc_id2").isNull, 1).otherwise(0)) === 0)
          .cast("int").as("reproducible"))
      val flags = rates.agg(
        (count(lit(1)) === 3).cast("int").as("only_listed"),
        (sum(when(col("source") === "src0" && col("n") === col("t"), 1).otherwise(0)) === 1)
          .cast("int").as("w1_keeps_all"),
        (sum(when(col("source") === "src1" && col("n") * 10 > col("t") * 2 &&
          col("n") * 10 < col("t") * 8, 1).otherwise(0)) === 1).cast("int").as("w50_in_range"),
        (sum(when(col("source") === "src2" && col("n") * 10 < col("t") * 4, 1).otherwise(0)) === 1)
          .cast("int").as("w10_low"))
      flags.crossJoin(determinism)
    }),
    // ---- deterministic global shuffle: content-addressed permutation for
    // training-order randomization. pos is a 0..n-1 permutation (exact
    // n recomputed by DuckDB) and reproducible across runs ----
    Gate("x32_global_shuffle", Operator, "SELECT count(*) AS n_rows, CAST(1 AS INTEGER) AS perm_ok, " +
      "CAST(1 AS INTEGER) AS reproducible, CAST(1 AS INTEGER) AS seed_changes_order " +
      "FROM documents",
      (s, d) => {
      val base = docs(s, d)
      def run = Sampling.deterministicShuffle(base, "doc_id", seed = 3L)
      val a = run.select(col("doc_id"), col("pos"))
      val b = run.select(col("doc_id").as("id2"), col("pos").as("pos2"))
      val other = Sampling.deterministicShuffle(base, "doc_id", seed = 4L)
        .select(col("doc_id").as("id3"), col("pos").as("pos3"))
      a.join(b, col("doc_id") === col("id2"))
        .join(other, col("doc_id") === col("id3"))
        .agg(
          count(lit(1)).as("n_rows"),
          (min(col("pos")) === 0 && max(col("pos")) === count(lit(1)) - 1 &&
            count_distinct(col("pos")) === count(lit(1))).cast("int").as("perm_ok"),
          (sum(when(col("pos") === col("pos2"), 1).otherwise(0)) === count(lit(1)))
            .cast("int").as("reproducible"),
          (sum(when(col("pos") =!= col("pos3"), 1).otherwise(0)) > 0)
            .cast("int").as("seed_changes_order"))
    }),
    // ---- incremental dedup: a "new batch" (odd ids) deduped against the
    // "historical corpus" (even ids) — exact text + near-dup, exact-Jaccard
    // verified. Oracle = DuckDB all-pairs truth over the batch×corpus
    // cross, so the gate uses the shared-shingle exact candidate source
    // (recall = 1 by construction — LSH banding could miss a pair sitting
    // right at the threshold with ~2e-4 probability); production scale
    // path keeps the default LSH banding ----
    Gate("x34_incremental_dedup", Operator, s"WITH $duckGramCtes, " +
      "ex AS (SELECT n.doc_id FROM documents n " +
      "JOIN (SELECT DISTINCT text FROM documents WHERE doc_id % 2 = 0) o USING (text) " +
      "WHERE n.doc_id % 2 = 1), " +
      s"near AS (SELECT DISTINCT a.doc_id FROM g a JOIN g b " +
      s"ON a.doc_id % 2 = 1 AND b.doc_id % 2 = 0 AND $duckJaccardExpr >= 0.8) " +
      "SELECT doc_id AS keep_id FROM documents WHERE doc_id % 2 = 1 " +
      "AND doc_id NOT IN (SELECT doc_id FROM ex) " +
      "AND doc_id NOT IN (SELECT doc_id FROM near) ORDER BY keep_id",
      (s, d) => {
      val dd = docs(s, d)
      Dedup.againstCorpus(
        dd.where(col("doc_id") % 2 === 1),
        dd.where(col("doc_id") % 2 === 0),
        "text", "doc_id", threshold = 0.8, exactCandidates = true)
        .select(col("doc_id").as("keep_id")).orderBy("keep_id")
    }),
    // ---- bigram LM quality score (KenLM-perplexity pattern, self-trained
    // on the corpus): mean smoothed conditional log-prob per doc. Fully
    // ANSI-expressible → exact DuckDB oracle ----
    Gate("x33_bigram_lm", Operator,
      "WITH d AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws FROM documents), " +
      "bg AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (SELECT doc_id, " +
      "unnest([struct_pack(w1 := ws[i], w2 := ws[i+1]) for i in range(1, len(ws))]) AS b " +
      "FROM d WHERE len(ws) >= 2)), " +
      "c2 AS (SELECT w1, w2, count(*) AS c2 FROM bg GROUP BY 1, 2), " +
      "c1 AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1), " +
      "v AS (SELECT count(DISTINCT tok) AS v FROM (SELECT unnest(ws) AS tok FROM d) WHERE tok <> ''), " +
      "s AS (SELECT bg.doc_id, count(*) AS n_bigrams, " +
      "ROUND(avg(ln((c2.c2 + 0.5) / (c1.c1 + 0.5 * v.v))), 6) AS lm_score " +
      "FROM bg JOIN c2 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v GROUP BY 1) " +
      "SELECT d2.doc_id AS id, COALESCE(s.n_bigrams, 0) AS n_bigrams, s.lm_score " +
      "FROM documents d2 LEFT JOIN s ON s.doc_id = d2.doc_id ORDER BY id",
      (s, d) => TextAnalysis.bigramScore(docs(s, d), "text", "doc_id")
        .orderBy("id")),
    // ---- cross-corpus perplexity (r9, the CCNet shape): LM trained on
    // a reference slice (every 4th source), ALL docs scored with OOV
    // backoff; full DuckDB recompute incl. the smoothing floor ----
    Gate("x93_cross_entropy", Operator,
      // x93: x33's recompute with the model CTEs sliced to the reference
      // sources, LEFT joins + COALESCE for the OOV floor, negated mean;
      // CAST the HUGEINT context sum to DOUBLE before the 0.5 arithmetic
      "WITH r AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws " +
      "FROM documents WHERE CAST(substr(source, 4) AS INT) % 4 = 0), " +
      "t AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws FROM documents), " +
      "rbg AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (SELECT doc_id, " +
      "unnest([struct_pack(w1 := ws[i], w2 := ws[i+1]) for i in range(1, len(ws))]) AS b " +
      "FROM r WHERE len(ws) >= 2)), " +
      "tbg AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM (SELECT doc_id, " +
      "unnest([struct_pack(w1 := ws[i], w2 := ws[i+1]) for i in range(1, len(ws))]) AS b " +
      "FROM t WHERE len(ws) >= 2)), " +
      "c2 AS (SELECT w1, w2, count(*) AS c2 FROM rbg GROUP BY 1, 2), " +
      "c1 AS (SELECT w1, CAST(count(*) AS DOUBLE) AS c1 FROM rbg GROUP BY 1), " +
      "v AS (SELECT count(DISTINCT tok) AS v FROM (SELECT unnest(ws) AS tok FROM r) WHERE tok <> ''), " +
      "s AS (SELECT tbg.doc_id, count(*) AS n_bigrams, " +
      "ROUND(-avg(ln((COALESCE(c2.c2, 0) + 0.5) / (COALESCE(c1.c1, 0) + 0.5 * v.v))), 6) AS xent " +
      "FROM tbg LEFT JOIN c2 USING (w1, w2) LEFT JOIN c1 USING (w1) CROSS JOIN v GROUP BY 1) " +
      "SELECT d2.doc_id AS id, COALESCE(s.n_bigrams, 0) AS n_bigrams, s.xent " +
      "FROM documents d2 LEFT JOIN s ON s.doc_id = d2.doc_id ORDER BY id",
      (s, d) => {
      val all = docs(s, d)
      val ref = all.where(substring(col("source"), 4, 10).cast("int") % 4 === 0)
      TextAnalysis.bigramCrossEntropy(ref, all, "text", "doc_id")
        .orderBy("id")
    }),
    // ---- deterministic train/test split: every row lands in one of the
    // two splits and the test fraction is near the requested 10% — both
    // engine-checkable as flags, one narrow pass ----
    Gate("x19_split_by_hash", Operator, "SELECT CAST(1 AS INTEGER) AS covers_all, CAST(1 AS INTEGER) AS test_in_range",
      (s, d) => {
      val split = Sampling.splitByHash(docs(s, d), "doc_id", testPercent = 10)
      val testN = sum(when(col("split") === "test", 1L).otherwise(0L))
      split.agg(
        (count_distinct(col("split")) <= 2 &&
          sum(when(col("split").isin("test", "train"), 1L).otherwise(0L)) === count(lit(1)))
          .cast("int").as("covers_all"),
        (testN * 100 > count(lit(1)) * 2 && testN * 100 < count(lit(1)) * 20)
          .cast("int").as("test_in_range"))
    }),
    // ---- duplicate-bigram fraction (the Gopher dup-n-gram repetition
    // family; x22 covers unigram share + TTR) — exact DuckDB oracle ----
    Gate("x36_dup_ngrams", Operator,
      // bigram mirror of shingleRows (w=2): lower/trim, \s+ split, short
      // docs collapse to the whole text; occurrence counts kept (no
      // list_distinct on grams) because dup_frac is about multiplicity
      "WITH d AS (SELECT doc_id, regexp_split_to_array(trim(lower(text)), '\\s+') AS ws FROM documents), " +
      "g AS (SELECT doc_id, CASE WHEN len(ws) >= 2 " +
      "THEN list_transform(generate_series(1, len(ws)-1), i -> ws[i] || ' ' || ws[i+1]) " +
      "ELSE [array_to_string(ws, ' ')] END AS grams FROM d) " +
      "SELECT doc_id AS id, CAST(len(grams) AS BIGINT) AS n_grams, " +
      "CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct, " +
      "ROUND(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6) AS dup_frac " +
      "FROM g ORDER BY id",
      (s, d) => TextAnalysis.dupNgramStats(docs(s, d), "text", "doc_id", n = 2)
        .orderBy("id")),
    // ---- cross-source contamination matrix: distinct shared 3-grams per
    // source pair (leakage audit before mixing sources) ----
    Gate("x37_source_overlap", Operator,
      "WITH d AS (SELECT source, regexp_split_to_array(trim(lower(text)), '\\s+') AS ws FROM documents), " +
      "s AS (SELECT DISTINCT source, unnest(CASE WHEN len(ws) >= 3 " +
      "THEN list_transform(generate_series(1, len(ws)-2), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]) " +
      "ELSE [array_to_string(ws, ' ')] END) AS sh FROM d) " +
      "SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared " +
      "FROM s a JOIN s b ON a.sh = b.sh AND a.source < b.source " +
      "GROUP BY 1, 2 ORDER BY 1, 2",
      (s, d) => TextAnalysis.crossGroupOverlap(docs(s, d), "text", "source", n = 3)
        .orderBy("src_a", "src_b")),
    // ---- one spherical-k-means hard-assignment step over the embedding
    // table (IVF coarse-quantizer training primitive): per-label centroids,
    // cosine argmax assignment, confusion counts ----
    Gate("x38_centroid_assign", Operator,
      // centroid dims are ROUND(avg, 6) and cosines ROUND(..., 6) on BOTH
      // sides, so sum-order ulp noise in avg() cannot flip the argmax;
      // dim 64 is the embeddings-table contract (TESTDATA.md)
      "WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "dims AS (SELECT label, i, ROUND(avg(v[i]), 6) AS m FROM e " +
      "CROSS JOIN generate_series(1, 64) t(i) GROUP BY label, i), " +
      "c AS (SELECT label AS clabel, list(m ORDER BY i) AS cv FROM dims GROUP BY label), " +
      "scored AS (SELECT e.vec_id, e.label, c.clabel, " +
      "ROUND(list_dot_product(e.v, c.cv) / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))), 6) AS cos " +
      "FROM e CROSS JOIN c), " +
      "best AS (SELECT vec_id, label, clabel, " +
      "row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, clabel) AS rn FROM scored) " +
      "SELECT label, clabel AS assigned, count(*) AS n FROM best WHERE rn = 1 " +
      "GROUP BY label, clabel ORDER BY label, assigned",
      (s, d) => Similarity.centroidAssign(emb(s, d), "embedding", "vec_id", "label")
        .orderBy("label", "assigned")),
    // ---- per-source language-mix entropy (corpus composition report) —
    // runs entirely through the graft SQL dialect ----
    Gate("x39_source_lang_entropy", Operator,
      "WITH c AS (SELECT source, lang, count(*) AS nl FROM documents GROUP BY source, lang), " +
      "t AS (SELECT source, CAST(sum(nl) AS BIGINT) AS n_docs FROM c GROUP BY source) " +
      "SELECT t.source AS source, t.n_docs AS n_docs, " +
      "ROUND(0 - SUM((c.nl * 1.0 / t.n_docs) * LN(c.nl * 1.0 / t.n_docs)), 6) AS lang_entropy " +
      "FROM c JOIN t ON c.source = t.source " +
      "GROUP BY t.source, t.n_docs ORDER BY source",
      (s, d) => GraftSession.forDir(s, d).sql(
        "with c as (select source, lang, count(*) as nl from documents " +
        "group by source, lang), " +
        "t as (select source, sum(nl) as n_docs from c group by source) " +
        "select t.source as source, t.n_docs as n_docs, " +
        "round(0 - sum((c.nl * 1.0 / t.n_docs) * ln(c.nl * 1.0 / t.n_docs)), 6) " +
        "as lang_entropy " +
        "from c join t on c.source = t.source " +
        "group by t.source, t.n_docs order by source")),
    // ---- temperature-scaled mixture: p_g ∝ n_g^0.5 (multilingual-LM
    // sampling rule), fully deterministic keep-list ----
    Gate("x40_temperature_mix", Operator,
      // mirrors Sampling.temperatureMix: ROUND(share, 6) before FLOOR on
      // both sides so Σ n^T sum-order noise cannot flip a target
      "WITH c AS (SELECT lang, count(*) AS ng FROM documents GROUP BY lang), " +
      "t AS (SELECT CAST(sum(ng) AS BIGINT) AS n, SUM(pow(CAST(ng AS DOUBLE), 0.5)) AS z FROM c), " +
      "tg AS (SELECT lang, GREATEST(1, CAST(FLOOR(ROUND(0.3 * t.n * pow(CAST(ng AS DOUBLE), 0.5) / t.z, 6)) AS BIGINT)) AS target " +
      "FROM c CROSS JOIN t), " +
      "r AS (SELECT doc_id, lang, row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn FROM documents) " +
      "SELECT r.doc_id AS doc_id, r.lang AS lang FROM r JOIN tg USING (lang) " +
      "WHERE r.rn <= tg.target ORDER BY doc_id",
      (s, d) => Sampling.temperatureMix(docs(s, d), "lang", "doc_id",
          frac = 0.3, temperature = 0.5)
        .select(col("doc_id"), col("lang")).orderBy("doc_id")),
    // ---- content-defined chunking: md5-keyed boundaries, stable under
    // edits (chunk-level dedup/storage primitive) ----
    Gate("x41_cdc_chunk", Operator,
      // mirrors TextAnalysis.cdcChunk: trim + \s+ split, md5 first hex
      // digit in {0,1} ends a chunk, chunk id = boundaries before the token
      "WITH d AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents), " +
      "tk AS (SELECT doc_id, p.pos AS pos, p.tok AS tok FROM " +
      "(SELECT doc_id, unnest([struct_pack(pos := i, tok := ws[i]) for i in range(1, len(ws)+1)]) AS p FROM d) " +
      "WHERE p.tok <> ''), " +
      "b AS (SELECT doc_id, pos, tok, CASE WHEN substring(md5(tok), 1, 1) IN ('0','1') THEN 1 ELSE 0 END AS ib FROM tk), " +
      "ch AS (SELECT doc_id, pos, tok, " +
      "CAST(SUM(ib) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) - ib AS BIGINT) AS chunk_id FROM b) " +
      "SELECT doc_id AS id, chunk_id, CAST(count(*) AS BIGINT) AS n_toks, " +
      "string_agg(tok, ' ' ORDER BY pos) AS chunk " +
      "FROM ch GROUP BY doc_id, chunk_id ORDER BY id, chunk_id",
      (s, d) => TextAnalysis.cdcChunk(docs(s, d), "text", "doc_id")
        .orderBy("id", "chunk_id")),
    // ---- exact-substring dedup detection (Lee et al.): per-doc count of
    // 30-char spans copied verbatim elsewhere in the corpus ----
    Gate("x44_exact_substring", Operator,
      // mirrors sharedSubstrings: lower/trim, every 30-char window,
      // distinct per doc, shared = gram present in > 1 doc
      "WITH d AS (SELECT doc_id, lower(trim(text)) AS t FROM documents), " +
      "g AS (SELECT DISTINCT doc_id, unnest([substring(t, i, 30) for i in range(1, len(t) - 28)]) AS gram " +
      "FROM d WHERE length(t) >= 30), " +
      "c AS (SELECT gram, count(*) AS nd FROM g GROUP BY gram), " +
      "s AS (SELECT g.doc_id, count(*) AS n_shared FROM g JOIN c USING (gram) " +
      "WHERE c.nd > 1 GROUP BY g.doc_id) " +
      "SELECT d2.doc_id AS id, COALESCE(s.n_shared, 0) AS n_shared " +
      "FROM documents d2 LEFT JOIN s USING (doc_id) ORDER BY id",
      (s, d) => TextAnalysis.sharedSubstrings(docs(s, d), "text", "doc_id", k = 30)
        .orderBy("id")),
    // ---- bloom pre-filter: broadcast-bits decontamination accelerator.
    // The filter is hash-seeded (not DuckDB-recomputable) → contract
    // gate: the DuckDB-exact true-match count, a no-false-negatives flag
    // (every true match survives — guaranteed by construction), and an
    // fp-bound flag (survivors ≤ truth + 1% + 10 at 20 bits/item) ----
    Gate("x43_bloom_prefilter", Operator, "SELECT CAST((SELECT count(*) FROM documents i WHERE i.doc_id % 2 = 1 " +
      "AND i.text IN (SELECT text FROM documents WHERE doc_id % 2 = 0)) AS BIGINT) AS n_true_matches, " +
      "CAST(1 AS INTEGER) AS no_false_negatives, CAST(1 AS INTEGER) AS fp_bounded",
      (s, d) => {
      val dd = docs(s, d)
      val inc = dd.where(col("doc_id") % 2 === 1)
      val corp = dd.where(col("doc_id") % 2 === 0)
      val surv = Bloom.prefilter(inc, corp, "text")
        .select(col("doc_id")).localCheckpoint()
      val truth = inc.join(corp.select(col("text")).distinct(), Seq("text"), "left_semi")
        .select(col("doc_id")).localCheckpoint()
      val missed = truth.join(surv, Seq("doc_id"), "left_anti").count()
      val nSurv = surv.count()
      val nTruth = truth.count()
      val nInc = inc.count()
      import s.implicits._
      Seq((nTruth,
        if (missed == 0) 1 else 0,
        if (nSurv <= nTruth + nInc / 100 + 10) 1 else 0))
        .toDF("n_true_matches", "no_false_negatives", "fp_bounded")
    }),
    // ---- time-interval join (Flink intervalJoin parity): bucketized
    // batch plan, native stream-stream join in streaming ----
    Gate("x42_interval_join", Operator,
      "WITH l AS (SELECT event_id AS l_id, event_type, CAST(ts AS TIMESTAMP) AS l_ts " +
      "FROM events WHERE event_id % 100 = 0), " +
      "r AS (SELECT event_id AS r_id, event_type, CAST(ts AS TIMESTAMP) AS r_ts " +
      "FROM events WHERE event_id % 100 <> 0) " +
      "SELECT l.l_id AS l_id, r.r_id AS r_id FROM l JOIN r " +
      "ON l.event_type = r.event_type " +
      "AND r.r_ts BETWEEN l.l_ts - INTERVAL 30 MINUTE AND l.l_ts " +
      "ORDER BY l_id, r_id",
      (s, d) => {
      val ev = GraftSession.forDir(s, d).catalog.relation("events")
      val l = ev.where(col("event_id") % 100 === 0)
        .select(col("event_id").as("l_id"), col("event_type"), col("ts").as("l_ts"))
      val r = ev.where(col("event_id") % 100 =!= 0)
        .select(col("event_id").as("r_id"), col("event_type"), col("ts").as("r_ts"))
      IntervalJoin.join(l, r, Seq("event_type"), "l_ts", "r_ts",
          beforeUs = 1800000000L, afterUs = 0L)
        .select(col("l_id"), col("r_id")).orderBy("l_id", "r_id")
    }),
    // ---- int8 embedding quantization: adjacent-id pairs get an EXACT
    // integer dot product (BIGINT hash-match; no float noise) plus the
    // per-vector rescale factors ----
    Gate("x45_embed_quantize", Operator,
      // mirrors Similarity.quantizeInt8: scale = 127/max|v|, q =
      // clamp(floor(v·s + 0.5), ±127) — floor(x+0.5) halves behave
      // identically in both engines (round() would not); dot is exact
      // integer arithmetic, dim 64 per TESTDATA.md
      "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS amax FROM e), " +
      "q AS (SELECT vec_id, CASE WHEN amax > 0 THEN 127.0 / amax ELSE 0.0 END AS s, " +
      "list_transform(v, x -> GREATEST(-127, LEAST(127, CAST(FLOOR(x * " +
      "(CASE WHEN amax > 0 THEN 127.0 / amax ELSE 0.0 END) + 0.5) AS BIGINT)))) AS qv FROM m) " +
      "SELECT a.vec_id AS id, " +
      "CAST(list_sum(list_transform(range(1, 65), i -> a.qv[i] * b.qv[i])) AS BIGINT) AS dotq, " +
      "ROUND(a.s, 6) AS sa, ROUND(b.s, 6) AS sb " +
      "FROM q a JOIN q b ON b.vec_id = a.vec_id + 1 WHERE a.vec_id % 7 = 0 ORDER BY id",
      (s, d) => {
      val q = Similarity.quantizeInt8(emb(s, d), "embedding", "vec_id")
      val a = q.select(col("vec_id").as("id"), col("qvec").as("qa"), col("qscale").as("__sa"))
      val b = q.select((col("vec_id") - 1).as("id"), col("qvec").as("qb"), col("qscale").as("__sb"))
      a.join(b, "id").where(col("id") % 7 === 0)
        .select(col("id"), Similarity.intDot(col("qa"), col("qb")).as("dotq"),
          round(col("__sa"), 6).as("sa"), round(col("__sb"), 6).as("sb"))
        .orderBy("id")
    }),
    // ---- edit-distance second-opinion verification over the (bounded)
    // near-dup pair set: O(n·m) Levenshtein only ever touches LSH-verified
    // candidates, never all pairs ----
    Gate("x48_edit_similarity", Operator,
      // pair set = all-pairs exact Jaccard >= 0.8 (same truth as x27);
      // levenshtein has identical unit-cost semantics in both engines
      s"WITH $duckGramCtes, " +
      s"p AS (SELECT a.doc_id AS ida, b.doc_id AS idb FROM g a JOIN g b " +
      s"ON a.doc_id < b.doc_id WHERE $duckJaccardExpr >= 0.8), " +
      "t AS (SELECT doc_id, lower(trim(text)) AS t FROM documents) " +
      "SELECT p.ida AS ida, p.idb AS idb, " +
      "CAST(levenshtein(ta.t, tb.t) AS BIGINT) AS lev, " +
      "ROUND(1.0 - CAST(levenshtein(ta.t, tb.t) AS DOUBLE) / " +
      "GREATEST(length(ta.t), length(tb.t)), 6) AS edit_sim " +
      "FROM p JOIN t ta ON ta.doc_id = p.ida JOIN t tb ON tb.doc_id = p.idb " +
      "ORDER BY ida, idb",
      (s, d) => {
      val dd = docs(s, d)
      val pairs = Dedup.nearDuplicates(dd, "text", "doc_id", threshold = 0.8)
        .select(col("ida"), col("idb")).localCheckpoint()
      Dedup.editSimilarity(pairs, dd, "text", "doc_id").orderBy("ida", "idb")
    }),
    // ---- regex pre-tokenizer (GPT-2-style, RE2-compatible pattern):
    // pre-token counts + tokenizer fertility per doc ----
    Gate("x47_pretokenize", Operator,
      // mirrors TextAnalysis.pretokenStats: same RE2-safe pattern in both
      // engines (alternation is leftmost-first in Java regex and RE2)
      "SELECT doc_id AS id, " +
      "CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')) AS BIGINT) AS n_pretokens, " +
      "CASE WHEN length(trim(text)) = 0 THEN 0 " +
      "ELSE CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT) END AS n_words, " +
      "ROUND(CASE WHEN length(trim(text)) = 0 THEN 0.0 " +
      "ELSE CAST(len(regexp_extract_all(text, ' ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')) AS DOUBLE) " +
      "/ len(regexp_split_to_array(trim(text), '\\s+')) END, 6) AS fertility " +
      "FROM documents ORDER BY id",
      (s, d) => TextAnalysis.pretokenStats(docs(s, d), "text", "doc_id").orderBy("id")),
    // ---- fractional-epoch upsampling: src_i weighted 0.5/1.1/1.7/2.3 by
    // i%4; the gate selector is a multiplicative hash DuckDB recomputes
    // exactly (the library default is xxhash64) ----
    Gate("x46_epoch_upsample", Operator,
      // mirrors Sampling.epochExpand with the multiplicative-hash gate
      // selector: copies = floor(e) + [hash(id) < frac(e)·1e6]
      "WITH w AS (SELECT doc_id, source, " +
      "0.5 + (CAST(substring(source, 4) AS INT) % 4) * 0.6 AS e FROM documents), " +
      "c AS (SELECT doc_id, source, CAST(FLOOR(e) AS BIGINT) + " +
      "CASE WHEN ((doc_id * 2654435761) % 1000000) < (e - FLOOR(e)) * 1000000.0 " +
      "THEN 1 ELSE 0 END AS copies FROM w) " +
      "SELECT doc_id, source, unnest(range(1, copies + 1)) AS epoch " +
      "FROM c WHERE copies >= 1 ORDER BY doc_id, epoch",
      (s, d) => {
      val weights = (0 until 20).map(i => s"src$i" -> (0.5 + (i % 4) * 0.6)).toMap
      Sampling.epochExpand(docs(s, d), "source", "doc_id", weights,
          selector = c => pmod(c * lit(2654435761L), lit(1000000L)))
        .select(col("doc_id"), col("source"), col("epoch"))
        .orderBy("doc_id", "epoch")
    }),
    // ---- Okapi BM25 relevance scoring against a fixed query term set
    // (retrieval-targeted curation / corpus search) — fully
    // ANSI-expressible → exact DuckDB oracle ----
    Gate("x53_bm25", Operator,
      // mirrors TextAnalysis.bm25 term by term: same tokenization as the
      // other text gates, N/avgdl over docs with >=1 token, Lucene
      // non-negative idf; arithmetic written in the same association
      // order as the Spark expression so the doubles are bit-identical
      "WITH toks AS (SELECT doc_id AS id, " +
      "unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term FROM documents), " +
      "tok2 AS (SELECT id, term FROM toks WHERE term <> ''), " +
      "lens AS (SELECT id, count(*) AS dl FROM tok2 GROUP BY id), " +
      "stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM lens), " +
      "tf AS (SELECT id, term, count(*) AS tf FROM tok2 " +
      "WHERE term IN ('stream', 'window', 'join', 'vector') GROUP BY id, term), " +
      "dfq AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term) " +
      // term-sorted left fold, not SUM(): matches the Spark side's
      // aggregate(sort_array(...)) so the float additions associate in
      // the same order — bit-identical, no partial-agg-order flake
      "SELECT id, ROUND(list_reduce(" +
      "list(ln(1.0 + (n - df + 0.5) / (df + 0.5)) * " +
      "(tf * 2.25 / (tf + 1.25 * (0.25 + 0.75 * dl / avgdl))) ORDER BY term), " +
      "(a, b) -> a + b), 6) AS bm25 " +
      "FROM tf JOIN dfq USING (term) JOIN lens USING (id) CROSS JOIN stats " +
      "GROUP BY id ORDER BY id",
      (s, d) => TextAnalysis.bm25(docs(s, d), "text", "doc_id",
          Seq("stream", "window", "join", "vector"))
        .orderBy("id")),
    // ---- int8-quantized ANN top-k: integer-dot scoring over the
    // quantized corpus (the 4×-smaller resident-memory path), exact
    // BIGINT dots in the output — hash-matches with no float noise.
    // Query set is a FIXED sample (≤40 ids), NOT a corpus fraction: with
    // `% 50` alone the query count grows with the corpus and brute
    // scoring goes quadratic (306× at the 100× sweep) — same lesson as
    // x76's recall audit; scoring stays linear in corpus size ----
    Gate("x54_quantized_topk", Operator,
      // mirrors Similarity.quantizedTopK over the x45 quantization CTEs:
      // rank by the rescaled double (identical IEEE ops in both engines),
      // tie-break on vec_id; dotq is exact integer arithmetic
      "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS amax FROM e), " +
      "q AS (SELECT vec_id, CASE WHEN amax > 0 THEN 127.0 / amax ELSE 0.0 END AS s, " +
      "list_transform(v, x -> GREATEST(-127, LEAST(127, CAST(FLOOR(x * " +
      "(CASE WHEN amax > 0 THEN 127.0 / amax ELSE 0.0 END) + 0.5) AS BIGINT)))) AS qv FROM m), " +
      "qq AS (SELECT * FROM q WHERE vec_id % 50 = 0 AND vec_id < 2000), " +
      "sc AS (SELECT qq.vec_id AS qid, c.vec_id AS vec_id, qq.s AS qs, c.s AS ns, " +
      "CAST(list_sum(list_transform(range(1, 65), i -> c.qv[i] * qq.qv[i])) AS BIGINT) AS dotq " +
      "FROM q c, qq WHERE qq.vec_id <> c.vec_id), " +
      "r AS (SELECT qid, vec_id, dotq, " +
      "CASE WHEN qs > 0 AND ns > 0 THEN dotq / (qs * ns) ELSE 0.0 END AS score, " +
      "row_number() OVER (PARTITION BY qid ORDER BY " +
      "(CASE WHEN qs > 0 AND ns > 0 THEN dotq / (qs * ns) ELSE 0.0 END) DESC, vec_id) AS rn " +
      "FROM sc) " +
      "SELECT qid, vec_id, dotq, ROUND(score, 6) AS score FROM r WHERE rn <= 5 " +
      "ORDER BY qid, vec_id",
      (s, d) => {
      val e = emb(s, d)
      Similarity.quantizedTopK(
        e, e.where(col("vec_id") % 50 === 0 && col("vec_id") < 2000), k = 5)
        .orderBy("qid", "vec_id")
    }),
    // ---- exact global quantiles WITHOUT a global sort (histogram
    // refinement): the "keep the best p% by score" threshold primitive.
    // q25/q50/q75 of n_chars + the row count a q75 length cap keeps;
    // the 4 scalars are driver-held by design (they ARE the result) ----
    Gate("x68_exact_quantile", Operator,
      // exact order statistics: same "value at 0-based index
      // floor((n-1)*q)" (numpy 'lower') definition the engine's
      // histogram-refinement selection implements
      "WITH s AS (SELECT n_chars, row_number() OVER (ORDER BY n_chars) AS rn, " +
      "count(*) OVER () AS n FROM documents WHERE n_chars IS NOT NULL), " +
      "q AS (SELECT " +
      "max(CASE WHEN rn = CAST(floor((n-1)*0.25) AS BIGINT) + 1 THEN n_chars END) AS q25, " +
      "max(CASE WHEN rn = CAST(floor((n-1)*0.50) AS BIGINT) + 1 THEN n_chars END) AS q50, " +
      "max(CASE WHEN rn = CAST(floor((n-1)*0.75) AS BIGINT) + 1 THEN n_chars END) AS q75 FROM s) " +
      "SELECT q25, q50, q75, (SELECT count(*) FROM documents CROSS JOIN q " +
      "WHERE n_chars <= q.q75) AS n_kept FROM q",
      (s, d) => {
      val dd = docs(s, d)
      val n = dd.where(col("n_chars").isNotNull).count()
      def kq(q: Double): Long = Quantiles.kthSmallestLong(
        dd, "n_chars", math.floor((n - 1) * q).toLong + 1)
      val q25 = kq(0.25); val q50 = kq(0.50); val q75 = kq(0.75)
      val nKept = dd.where(col("n_chars") <= q75).count()
      import s.implicits._
      Seq((q25, q50, q75, nKept)).toDF("q25", "q50", "q75", "n_kept")
    }),
    // ---- grouped exact INTERPOLATED quantiles with BOUNDED executor
    // state (r9): iterative histogram refinement over ALL (source, rank)
    // targets at once — per-pass hash-agg state ≤ tasks·buckets entries
    // regardless of group sizes, vs dialect `percentile` (q110) whose
    // buffer is group-sized. quantile_cont semantics, oracle-exact ----
    Gate("x80_grouped_quantiles", Operator,
      // DuckDB quantile_cont: same (n−1)·q fractional-index linear
      // interpolation the engine computes (decimal-exact index, double
      // value); 6-dp round absorbs the engines' h-arithmetic ulps
      "SELECT source, ROUND(quantile_cont(n_chars, 0.25), 6) AS q25, " +
      "ROUND(quantile_cont(n_chars, 0.50), 6) AS med, " +
      "ROUND(quantile_cont(n_chars, 0.90), 6) AS p90, " +
      "count(n_chars) AS n FROM documents GROUP BY source ORDER BY source",
      (s, d) => Quantiles.groupedExactQuantiles(docs(s, d), "source", "n_chars",
        Seq("q25" -> 0.25, "med" -> 0.5, "p90" -> 0.9))
        .select(col("source"), round(col("q25"), 6).as("q25"),
          round(col("med"), 6).as("med"), round(col("p90"), 6).as("p90"),
          col("n"))
        .orderBy("source")),
    // ---- HLL++ distinct-count audit: exact-vs-sketch per source; the
    // flag (not the estimate) is the deterministic cross-engine output ----
    Gate("x69_distinct_audit", Operator,
      // the sketch estimate is engine-specific; the exact counts and the
      // tolerance flag are the deterministic cross-engine contract
      "SELECT source, count(DISTINCT text) AS exact_n, " +
      "CAST(1 AS INTEGER) AS within_tol FROM documents " +
      "GROUP BY source ORDER BY source",
      (s, d) => Sketches.distinctAudit(docs(s, d), "text", "source").orderBy("source")),
    // ---- per-dimension z-score standardization of the embedding table;
    // 3 witness dimensions, 6-dp-rounded stats on both engines ----
    Gate("x70_standardize", Operator,
      // z-score witness dims with 6-dp-rounded per-dimension stats on
      // both engines (the x38 determinism pattern); zero-variance dims
      // divide by 1 on both sides
      "WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "d AS (SELECT i, ROUND(avg(v[i]), 6) AS m, " +
      "CASE WHEN ROUND(stddev_pop(v[i]), 6) = 0 THEN 1.0 " +
      "ELSE ROUND(stddev_pop(v[i]), 6) END AS s " +
      "FROM e CROSS JOIN generate_series(1, 64) t(i) GROUP BY i), " +
      "p AS (SELECT " +
      "max(CASE WHEN i = 1 THEN m END) AS m1, max(CASE WHEN i = 1 THEN s END) AS s1, " +
      "max(CASE WHEN i = 7 THEN m END) AS m7, max(CASE WHEN i = 7 THEN s END) AS s7, " +
      "max(CASE WHEN i = 33 THEN m END) AS m33, max(CASE WHEN i = 33 THEN s END) AS s33 FROM d) " +
      "SELECT vec_id, ROUND((v[1] - m1) / s1, 6) AS z1, " +
      "ROUND((v[7] - m7) / s7, 6) AS z7, " +
      "ROUND((v[33] - m33) / s33, 6) AS z33 " +
      "FROM e CROSS JOIN p ORDER BY vec_id",
      (s, d) => Similarity.standardize(emb(s, d), "embedding", "vec_id")
        .select(col("vec_id"),
          round(element_at(col("z"), 1), 6).as("z1"),
          round(element_at(col("z"), 7), 6).as("z7"),
          round(element_at(col("z"), 33), 6).as("z33"))
        .orderBy("vec_id")),
    // ---- DSIR importance scores: target = src0 docs, raw = whole
    // corpus; md5-fold bucket hash and sorted-fold summation make the
    // doubles engine-exact (see Importance scaladoc) ----
    Gate("x71_dsir_scores", Operator,
      // DSIR: same md5-fold bucket hash, same smoothed bucket models,
      // same sorted-fold mean — ln/arithmetic written in the engine's
      // association order so the doubles are bit-identical pre-round
      duckDsirScores + " ORDER BY id",
      (s, d) => Importance.dsirScores(docs(s, d), "text", "doc_id",
          isTarget = col("source") === "src0", buckets = 256)
        .orderBy("id")),
    // ---- score-and-select composition: keep the most-src0-like 25% by
    // EXACT global score quantile (kthSmallestDouble via the IEEE
    // sortable-bits expression) — thresholding reproducible enough to
    // hash-match an independent engine ----
    Gate("x72_dsir_resample", Operator, s"WITH sc AS ($duckDsirScores), " +
      "nn AS (SELECT id, score, row_number() OVER (ORDER BY score) AS rn, " +
      "count(*) OVER () AS n FROM sc WHERE score IS NOT NULL), " +
      "thr AS (SELECT max(CASE WHEN rn = CAST(floor((n-1)*0.75) AS BIGINT) + 1 " +
      "THEN score END) AS t FROM nn) " +
      "SELECT nn.id AS doc_id, nn.score FROM nn CROSS JOIN thr " +
      "WHERE nn.score >= thr.t ORDER BY doc_id",
      (s, d) => Importance.dsirResample(docs(s, d), "text", "doc_id",
          isTarget = col("source") === "src0", frac = 0.25, buckets = 256)
        .select(col("doc_id"), col("score")).orderBy("doc_id")),
    // ---- embedding-dimension covariance/correlation matrix: ONE
    // bounded-buffer aggregation pass (dim² state), result dim² rows —
    // whitening/PCA prep + feature-redundancy audit ----
    Gate("x74_dim_covariance", Operator,
      // corr is recomputed FROM the 6-dp-rounded cov/variances, exactly
      // mirroring the engine's arithmetic (see Similarity.dimCovariance)
      // `+ 0.0` normalizes IEEE -0.0 (DuckDB ROUND keeps the sign of a
      // tiny negative; the engine's BigDecimal rounding yields +0.0)
      "WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "c AS (SELECT i, j, ROUND(covar_pop(v[i], v[j]), 6) + 0.0 AS cov " +
      "FROM e CROSS JOIN generate_series(1, 64) t1(i) " +
      "CROSS JOIN generate_series(1, 64) t2(j) WHERE i <= j GROUP BY i, j) " +
      "SELECT c.i, c.j, c.cov, " +
      "CASE WHEN vi.cov <= 0 OR vj.cov <= 0 THEN 0.0 " +
      "ELSE ROUND(c.cov / (sqrt(vi.cov) * sqrt(vj.cov)), 6) + 0.0 END AS corr " +
      "FROM c JOIN c vi ON vi.i = c.i AND vi.j = c.i " +
      "JOIN c vj ON vj.i = c.j AND vj.j = c.j " +
      "ORDER BY c.i, c.j",
      (s, d) => Similarity.dimCovariance(emb(s, d), "embedding", "vec_id")
        .orderBy("i", "j")),
    // ---- GK quantile-sketch audit: approx_percentile (mergeable
    // bounded state, the one-pass/streaming quantile path) vs the true
    // order statistics; the rank-error BOUND is deterministic for any
    // merge order, so the flags are stable. Complements x68's exact
    // selection ----
    Gate("x79_quantile_audit", Operator, "SELECT count(*) AS n, CAST(1 AS INTEGER) AS ok_q25, " +
      "CAST(1 AS INTEGER) AS ok_q50, CAST(1 AS INTEGER) AS ok_q75 " +
      "FROM documents WHERE n_chars IS NOT NULL",
      (s, d) => Sketches.quantileAudit(docs(s, d), "n_chars", Seq(0.25, 0.5, 0.75))),
    // ---- canonical text normalization (control/zero-width strip,
    // whitespace collapse): deterministic dirty-text injection so the
    // operator has work; md5 of the normalized text is the contract ----
    Gate("x78_normalize_text", Operator,
      // identical injection via chr(); RE2 \x{...} escapes mirror the
      // Java-regex \uXXXX classes in TextAnalysis.normalizeText
      "WITH inj AS (SELECT doc_id, text || chr(1) || ' padded' || chr(160) || " +
      "' tail' || chr(8203) || 'word ' || chr(7) || 'end  ' AS t FROM documents), " +
      "n AS (SELECT doc_id, trim(regexp_replace(regexp_replace(regexp_replace(t, " +
      "'[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}]', '', 'g'), " +
      "'[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', ' ', 'g'), " +
      "'[\\s\\x{00A0}]+', ' ', 'g')) AS nt FROM inj) " +
      "SELECT doc_id, md5(nt) AS h, CAST(length(nt) AS BIGINT) AS n_after " +
      "FROM n ORDER BY doc_id",
      (s, d) => {
      val injected = concat(col("text"),
        lit("\u0001 padded\u00A0 tail\u200Bword \u0007end  "))
      docs(s, d).select(col("doc_id"),
          md5(TextAnalysis.normalizeText(injected)).as("h"),
          length(TextAnalysis.normalizeText(injected)).cast("long").as("n_after"))
        .orderBy("doc_id")
    }),
    // ---- balanced shard publish: content-addressed shard assignment,
    // one shuffle, one file per shard; stats read back FROM THE FILES so
    // the gate checks the real written output (totals ANSI-recomputable;
    // the xxhash64 placement is engine-side, flag-checked) ----
    Gate("x77_write_shards", Operator, "SELECT count(*) AS total_rows, CAST(8 AS BIGINT) AS n_shards, " +
      "CAST(1 AS INTEGER) AS balanced FROM documents",
      (s, d) => {
      val dir = tempDir("x77_shards_")
      val stats = Curation.writeShards(docs(s, d), "doc_id", dir, shards = 8)
        .localCheckpoint() // aggregated twice below
      stats.agg(
        sum(col("n_rows")).as("total_rows"),
        count(lit(1)).as("n_shards"),
        (max(col("n_rows")) * 2 < min(col("n_rows")) * 5).cast("int").as("balanced"))
    }),
    // ---- ANN recall audit: recall@k of the LSH and IVF paths vs the
    // brute-force truth on the same query sample — the retrieval
    // analogue of x69's sketch audit. Outputs are deterministic (both
    // sides content-addressed) but not ANSI-recomputable → exact
    // query-count plus threshold flags ----
    Gate("x76_ann_recall", Operator,
      // query count is ANSI-recomputable; the recall thresholds are
      // engine-side contract flags (LSH/IVF results have no SQL oracle)
      "SELECT CAST(count(*) AS BIGINT) AS n_queries, CAST(1 AS INTEGER) AS lsh_recall_ok, " +
      "CAST(1 AS INTEGER) AS ivf_recall_ok, CAST(1 AS INTEGER) AS same_queries " +
      "FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 2000",
      (s, d) => {
      val e = emb(s, d)
      // FIXED query sample (r9): the modulo alone grows the sample with
      // the corpus, making the brute-force truth quadratic at scale; the
      // id cap pins it to the sf0.1-sized set (≤ 40 queries — identical
      // at the sf0.01/sf0.1 gate scales, capped beyond), so the audit is
      // LINEAR in corpus size — the production posture the scaladoc
      // prescribes ("run it on a query sample")
      val q = e.where(col("vec_id") % 50 === 0 && col("vec_id") < 2000)
      val truth = Similarity.bruteForceTopK(e, q, k = 10).localCheckpoint()
      val lsh = Similarity.lshTopK(e, q, k = 10, tables = 8, bits = 4)
      val ivf = Similarity.ivfTopK(e, q, k = 10, nlist = 8, nprobe = 4)
      val a = Similarity.annRecall(lsh, truth).select(
        col("n_queries"), col("mean_recall").as("lsh_mean"), col("min_recall").as("lsh_min"))
      val b = Similarity.annRecall(ivf, truth).select(
        col("n_queries").as("nq2"), col("mean_recall").as("ivf_mean"))
      a.crossJoin(b).select(col("n_queries"),
        (col("lsh_mean") >= 0.5).cast("int").as("lsh_recall_ok"),
        (col("ivf_mean") >= 0.5).cast("int").as("ivf_recall_ok"),
        (col("nq2") === col("n_queries")).cast("int").as("same_queries"))
    }),
    // ---- PCA over embedding dims: model = driver Jacobi on the one-pass
    // dim² covariance (model-sized, like IVF centroids); projection =
    // codegen literal-component dots. Eigenvectors have no ANSI oracle →
    // contract flags: eigenvalue order, orthonormality, and the
    // end-to-end check var(projection_c) ≈ λ_c over the real corpus ----
    Gate("x75_pca", Operator, "SELECT CAST(1 AS INTEGER) AS eigs_sorted, CAST(1 AS INTEGER) AS orthonormal, " +
      "CAST(1 AS INTEGER) AS proj_var_matches, CAST(1 AS INTEGER) AS rows_preserved",
      (s, d) => {
      val e = emb(s, d)
      val model = Similarity.pcaFit(e, "embedding", "vec_id", k = 8)
      val proj = Similarity.pcaProject(e, "embedding", "vec_id", model)
        .localCheckpoint() // consumed twice: per-component variances + count
      val evs = model.eigenvalues
      val kk = evs.length
      val sortedOk = evs.zip(evs.tail).forall { case (a, b) => a >= b } &&
        evs.forall(_ >= 0.0)
      val ortho = (for { a <- 0 until kk; b <- a until kk } yield {
        val dp = model.components(a).zip(model.components(b))
          .map { case (x, y) => x * y }.sum
        math.abs(dp - (if (a == b) 1.0 else 0.0))
      }).max < 1e-8
      val vr = proj.select((0 until kk).map(i =>
        var_pop(element_at(col("pc"), i + 1)).as(s"v$i")): _*).head()
      val varOk = (0 until kk).forall(i => math.abs(vr.getDouble(i) - evs(i)) < 1e-4)
      val nOk = proj.count() == e.count()
      import s.implicits._
      Seq((if (sortedOk) 1 else 0, if (ortho) 1 else 0,
        if (varOk) 1 else 0, if (nOk) 1 else 0))
        .toDF("eigs_sorted", "orthonormal", "proj_var_matches", "rows_preserved")
    })
  )
}
