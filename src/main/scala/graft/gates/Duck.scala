package graft.gates

import graft.operators.{Importance, TextAnalysis}
import Harness.X86_MERGES

/** DuckDB SQL shared by several oracles. */
private[gates] object Duck {

  /** DuckDB lambda syntax for the stopword-hit count used twice below. */
  val swList =
    "['the','a','an','and','or','of','to','in','is','it','that','was','for','on','with','as','at','by','be','this']"
  def duckTokens(t: String) = s"regexp_split_to_array(trim($t), '\\s+')"
  def duckTokCount(t: String) =
    s"CASE WHEN length(trim($t)) = 0 THEN 0 ELSE len(${duckTokens(t)}) END"
  def duckStopHits(t: String) =
    s"len(list_filter(regexp_split_to_array(lower(trim($t)), '\\s+'), x -> list_contains($swList, x)))"

  /** Shared DuckDB recompute of [[Importance.dsirScores]] at the gate
    * parameters (target = src0, buckets = 256, smoothing = 0.5): the
    * md5-ascii-fold bucket hash, both smoothed bucket models, and the
    * sorted-fold mean, with explicit DOUBLE casts so DuckDB's
    * HUGEINT-sum arithmetic matches Spark's long+double exactly. */
  val duckDsirScores =
    "WITH tk AS (SELECT doc_id AS id, source = 'src0' AS is_t, " +
    "unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok FROM documents), " +
    "tk2 AS (SELECT id, is_t, " +
    "CAST(((ascii(substr(md5(tok),1,1))*31 + ascii(substr(md5(tok),2,1)))*31 + " +
    "ascii(substr(md5(tok),3,1)))*31 + ascii(substr(md5(tok),4,1)) AS BIGINT) % 256 AS b " +
    "FROM tk WHERE tok <> ''), " +
    "m AS (SELECT b, CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS DOUBLE) AS ct, " +
    "CAST(count(*) AS DOUBLE) AS cr FROM tk2 GROUP BY b), " +
    "tot AS (SELECT CAST(SUM(ct) AS DOUBLE) AS nt, CAST(SUM(cr) AS DOUBLE) AS nr FROM m), " +
    "lrs AS (SELECT b, ln((ct + 0.5) / (nt + 128.0)) - ln((cr + 0.5) / (nr + 128.0)) AS lr " +
    "FROM m CROSS JOIN tot), " +
    "s AS (SELECT id, CAST(count(*) AS BIGINT) AS n_toks, " +
    "list_reduce(list(lr ORDER BY lr), (a, x) -> a + x) AS sm " +
    "FROM tk2 JOIN lrs USING (b) GROUP BY id) " +
    "SELECT id, n_toks, ROUND(sm / n_toks, 6) AS score FROM s"

  /** Shared CTE prefix for the DuckDB all-pairs exact word-3-gram Jaccard
    * (list-comprehension shingles mirror [[Dedup.shingleRows]]: lower/trim,
    * split on \s+, short docs collapse to the whole text, set semantics). */
  val duckJaccardExpr =
    "CAST(len(list_intersect(a.grams,b.grams)) AS DOUBLE)/len(list_distinct(a.grams || b.grams))"
  val duckGramCtes =
    "d AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws FROM documents), " +
    "g AS (SELECT doc_id, CASE WHEN len(ws) < 3 THEN [array_to_string(ws,' ')] " +
    "ELSE list_distinct([array_to_string(ws[i:i+2],' ') for i in range(1, len(ws)-1)]) END AS grams FROM d)"

  def duckJaccardTruth(thr: Double): String =
    s"WITH $duckGramCtes " +
    s"SELECT a.doc_id AS ida, b.doc_id AS idb, ROUND($duckJaccardExpr, 4) AS jaccard " +
    s"FROM g a JOIN g b ON a.doc_id < b.doc_id WHERE $duckJaccardExpr >= $thr ORDER BY ida, idb"

  /** Connected components of the exact-Jaccard pair graph via recursive
    * transitive closure (small at the gate corpus; the engine side runs
    * the distributed min-label loop instead). */
  def duckComponentsTruth(thr: Double): String =
    s"WITH RECURSIVE $duckGramCtes, " +
    s"p AS (SELECT a.doc_id AS ida, b.doc_id AS idb FROM g a JOIN g b " +
    s"ON a.doc_id < b.doc_id WHERE $duckJaccardExpr >= $thr), " +
    "e AS (SELECT ida AS s, idb AS t FROM p UNION SELECT idb, ida FROM p), " +
    "walk AS (SELECT s AS id, t AS reach FROM e UNION SELECT s, s FROM e " +
    "UNION SELECT w.id, e2.t FROM walk w JOIN e e2 ON w.reach = e2.s) " +
    "SELECT id, MIN(reach) AS comp FROM walk GROUP BY id ORDER BY id"

  /** DuckDB reimplementation of the stopword-profile argmax language ID —
    * a full cross-engine oracle of [[TextAnalysis.langIdDF]]. */
  def duckLangId: String = {
    val ps = TextAnalysis.langProfiles
    val hits = ps.zipWithIndex.map { case ((_, ws), i) =>
      s"SUM(CASE WHEN lower(tok) IN (${ws.map(w => s"'$w'").mkString(",")}) THEN 1 ELSE 0 END) AS l$i"
    }.mkString(", ")
    val g = ps.indices.map(i => s"l$i").mkString("greatest(", ",", ")")
    val cases = ps.zipWithIndex.map { case ((l, _), i) => s"WHEN l$i = $g THEN '$l'" }.mkString(" ")
    "WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM documents), " +
    s"h AS (SELECT doc_id, $hits FROM toks GROUP BY doc_id), " +
    s"pred AS (SELECT doc_id, CASE WHEN $g = 0 THEN 'und' $cases END AS predicted FROM h) " +
    "SELECT d.lang, p.predicted, count(*) AS n FROM documents d JOIN pred p USING (doc_id) " +
    "GROUP BY 1, 2 ORDER BY 1, 2"
  }

  /** Tokenization of the word column `w` by X86_MERGES: spaced chars via
    * regexp_replace, then each merge as a double replace (DuckDB replace
    * is global left-to-right non-overlapping, same as Spark's). */
  def duckMergeChain(w: String): String =
    X86_MERGES.foldLeft("' ' || regexp_replace(" + w + ", '(.)', '\\1 ', 'g')") { case (e, (a, b)) =>
      s"replace(replace($e, ' $a $b ', ' $a$b '), ' $a $b ', ' $a$b ')"
    }

  /** Shared CTEs for the x97/x98 oracles: the full BPE ENCODE recompute —
    * positioned word explode (positions over the raw split array, empties
    * filtered AFTER, mirroring posexplode-then-filter), the top-12 vocab
    * cut, the X86 replace chain for in-vocab words / per-char lists for
    * OOV, positioned token explode, and dense ids by token-text order. */
  def duckBpeEncodeCtes: String = duckBpeEncodeCtes("documents", "")

  /** Parameterized form: `src` is the relation/CTE holding (doc_id,
    * text); `x` prefixes every CTE name so the block composes with other
    * CTE chains (x100 chains it after the x95 pipeline prefix). The
    * final CTE is `${x}j` (doc_id, wpos, tpos, token_id). */
  def duckBpeEncodeCtes(src: String, x: String): String = {
    val chain = duckMergeChain("word")
    s"${x}d AS (SELECT doc_id, regexp_split_to_array(lower(text), '[^a-z]+') AS ws FROM $src), " +
    s"${x}iw AS (SELECT doc_id, unnest(generate_series(1, len(ws))) AS p, ws FROM ${x}d), " +
    s"${x}w AS (SELECT doc_id, CAST(p - 1 AS BIGINT) AS wpos, ws[CAST(p AS INT)] AS word " +
    s"FROM ${x}iw WHERE ws[CAST(p AS INT)] <> ''), " +
    s"${x}v AS (SELECT word AS vw FROM (SELECT word, count(*) AS freq FROM ${x}w GROUP BY word) " +
    "ORDER BY freq DESC, word LIMIT 12), " +
    s"${x}sg AS (SELECT doc_id, wpos, CASE WHEN word IN (SELECT vw FROM ${x}v) " +
    s"THEN string_split(trim($chain), ' ') " +
    s"ELSE [word[i] for i in range(1, len(word)+1)] END AS toks FROM ${x}w), " +
    s"${x}it AS (SELECT doc_id, wpos, unnest(generate_series(1, len(toks))) AS tp, toks FROM ${x}sg), " +
    s"${x}tt AS (SELECT doc_id, wpos, CAST(tp - 1 AS BIGINT) AS tpos, toks[CAST(tp AS INT)] AS token FROM ${x}it), " +
    s"${x}ids AS (SELECT token, CAST(row_number() OVER (ORDER BY token) AS BIGINT) AS token_id " +
    s"FROM (SELECT DISTINCT token FROM ${x}tt)), " +
    s"${x}j AS (SELECT doc_id, wpos, tpos, token_id FROM ${x}tt JOIN ${x}ids USING (token))"
  }

  /** The x95 pipeline's CTE prefix — normalization (x78's regexes),
    * Gopher wc/mwl predicate (x85's), min-id exact dedup (x01's),
    * exact-Jaccard components over the SURVIVORS (x27's recursive
    * closure), family split hash (x92's) — ending at `spl` (id, rep,
    * split) with `k` holding the surviving (doc_id, text, ws). Chained
    * by x95 and x100 (must follow a `WITH RECURSIVE`). */
  val duckPipelinePrefixCtes: String =
    "nrm AS (SELECT doc_id, trim(regexp_replace(regexp_replace(regexp_replace(text, " +
    "'[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}]', '', 'g'), " +
    "'[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', ' ', 'g'), " +
    "'[\\s\\x{00A0}]+', ' ', 'g')) AS text FROM documents), " +
    "w AS (SELECT doc_id, text, list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> x <> '') AS ws FROM nrm), " +
    "f AS (SELECT doc_id, text, ws FROM w WHERE len(ws) BETWEEN 50 AND 100000 " +
    "AND ROUND(CAST(COALESCE(list_sum(list_transform(ws, x -> length(x))), 0) AS DOUBLE) / GREATEST(len(ws), 1), 6) BETWEEN 3.0 AND 10.0), " +
    "dd AS (SELECT MIN(doc_id) AS doc_id FROM f GROUP BY text), " +
    "k AS (SELECT f.* FROM f JOIN dd USING (doc_id)), " +
    "g AS (SELECT doc_id, CASE WHEN len(ws2) < 3 THEN [array_to_string(ws2,' ')] " +
    "ELSE list_distinct([array_to_string(ws2[i:i+2],' ') for i in range(1, len(ws2)-1)]) END AS grams " +
    "FROM (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws2 FROM k)), " +
    "p AS (SELECT a.doc_id AS ida, b.doc_id AS idb FROM g a JOIN g b ON a.doc_id < b.doc_id " +
    "WHERE CAST(len(list_intersect(a.grams,b.grams)) AS DOUBLE)/len(list_distinct(a.grams || b.grams)) >= 0.8), " +
    "e AS (SELECT ida AS s, idb AS t FROM p UNION SELECT idb, ida FROM p), " +
    "walk AS (SELECT s AS id, t AS reach FROM e UNION SELECT s, s FROM e " +
    "UNION SELECT wk.id, e2.t FROM walk wk JOIN e e2 ON wk.reach = e2.s), " +
    "comp AS (SELECT id, MIN(reach) AS comp FROM walk GROUP BY id), " +
    "fam AS (SELECT k.doc_id AS id, COALESCE(comp.comp, k.doc_id) AS rep FROM k LEFT JOIN comp ON k.doc_id = comp.id), " +
    "spl AS (SELECT id, rep, CASE WHEN ((rep % 1000000) * 2654435761) % 1000000 < 100000 THEN 'test' ELSE 'train' END AS split FROM fam)"

  // TextAnalysis.stats over `text`
  val t = "text"
  val nTok = duckTokCount(t)
  val digitR = s"CASE WHEN length($t) = 0 THEN 0.0 ELSE CAST(length(regexp_replace($t, '[^0-9]', '', 'g')) AS DOUBLE) / length($t) END"
  val alphaR = s"CASE WHEN length($t) = 0 THEN 0.0 ELSE CAST(length(regexp_replace($t, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length($t) END"
  val meanTok = s"CASE WHEN $nTok = 0 THEN 0.0 ELSE CAST(length(regexp_replace($t, '\\s', '', 'g')) AS DOUBLE) / $nTok END"
  val swRatio = s"CASE WHEN $nTok = 0 THEN 0.0 ELSE CAST(${duckStopHits(t)} AS DOUBLE) / $nTok END"
  // Mirrors TextAnalysis.quality exactly: the component ratios are the
  // ROUND(..., 6) values stats() emits, so threshold comparisons cannot
  // diverge between engines.
  val qualityExpr =
    s"(LEAST(CAST(length($t) AS DOUBLE) / 500.0, 1.0) * 0.25 + " +
    s"(CASE WHEN ROUND($meanTok, 6) BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.5 END) * 0.25 + " +
    s"LEAST(ROUND($swRatio, 6) * 4.0, 1.0) * 0.25 + " +
    s"(1.0 - LEAST(ROUND($digitR, 6) * 2.0, 1.0)) * 0.25)"

  /** Epoch-µs floor-bucket arithmetic, same semantics as Translator.applyWindow. */
  def bucketUs(col: String, us: Long): String =
    s"make_timestamp((epoch_us(CAST($col AS TIMESTAMP)) // $us) * $us)"

  /** The canonical components of [[graft.operators.UrlCuration.synthUrl]]
    * as doc_id arithmetic — shared by the q129/q130 oracles. */
  val duckSynthUrlCte: String =
    "SELECT doc_id, " +
    "(CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END) AS scheme, " +
    "(CASE WHEN doc_id % 8 = 0 THEN 'blog.' ELSE '' END) AS sub, " +
    "'site' || CAST(doc_id % 37 AS VARCHAR) || '.' || " +
    "(CASE doc_id % 5 WHEN 0 THEN 'com' WHEN 1 THEN 'org' WHEN 2 THEN 'co.uk' " +
    "WHEN 3 THEN 'net' ELSE 'ac.jp' END) AS dom, " +
    "'/p/' || CAST(doc_id % 11 AS VARCHAR) AS pth, " +
    "(CASE WHEN doc_id % 6 <= 2 THEN '?q=' || CAST(doc_id % 13 AS VARCHAR) " +
    "ELSE '' END) AS qq FROM documents"

  /** The x89 oracle, which q113 shares: the x07 recompute plus the
    * different-label constraint and the [floor, ceiling) band — band
    * applied to the 4-dp ROUNDED cosine on both engines so boundary
    * membership is portable. */
  val duckHardNegatives: String =
    "WITH q AS (SELECT vec_id AS qid, embedding AS qv, label AS qlabel " +
    "FROM embeddings WHERE vec_id < 10), " +
    "s AS (SELECT q.qid, e.vec_id, " +
    "(SELECT SUM(x*y) FROM (SELECT UNNEST(CAST(e.embedding AS DOUBLE[])) AS x, UNNEST(CAST(q.qv AS DOUBLE[])) AS y)) AS dp, " +
    "sqrt((SELECT SUM(x*x) FROM (SELECT UNNEST(CAST(e.embedding AS DOUBLE[])) AS x))) AS na, " +
    "sqrt((SELECT SUM(y*y) FROM (SELECT UNNEST(CAST(q.qv AS DOUBLE[])) AS y))) AS nb " +
    "FROM embeddings e, q WHERE e.vec_id <> q.qid AND e.label IS DISTINCT FROM q.qlabel) " +
    // `+ 0.0` on the projection normalizes IEEE -0.0 (x74 lesson);
    // the band/order comparisons don't need it (-0.0 >= 0.0 is true)
    "SELECT qid, vec_id, cos FROM (SELECT qid, vec_id, ROUND(dp / (na * nb), 4) + 0.0 AS cos, " +
    "row_number() OVER (PARTITION BY qid ORDER BY ROUND(dp / (na * nb), 4) DESC, vec_id) AS rn FROM s " +
    "WHERE ROUND(dp / (na * nb), 4) >= 0.0 AND ROUND(dp / (na * nb), 4) < 0.98) " +
    "WHERE rn <= 5 ORDER BY qid, cos DESC, vec_id"

  /** The x86 oracle, which q112 filters: Subwords.tokenize with the SAME
    * X86_MERGES chain; token count = split of the trimmed result. */
  val duckBpeTokenize: String =
    "WITH words AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w " +
    "FROM documents), nz AS (SELECT doc_id, w FROM words WHERE w <> ''), " +
    s"tok AS (SELECT doc_id, len(string_split(trim(${duckMergeChain("w")}), ' ')) AS nt FROM nz) " +
    "SELECT doc_id AS id, CAST(count(*) AS BIGINT) AS n_words, " +
    "CAST(sum(nt) AS BIGINT) AS n_tokens FROM tok GROUP BY doc_id ORDER BY id"
}
