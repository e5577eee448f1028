package graft

import graft.ast._
import graft.catalog.Catalog
import graft.parser.SqlParser
import graft.translate.{GraftAnalysisException, Params, Translator}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.from_csv
import org.apache.spark.sql.types.StructType
import scala.jdk.CollectionConverters._

final class GraftParseException(msg: String) extends RuntimeException(msg)

/** The user-facing engine facade — the role the reference's empty
  * `SQLContext` stub was meant to play (fsql/SQLContext.scala:4-41, whose
  * comments are pasted Spark `createDataFrame` code: the reference author
  * explicitly looked to Spark SQL's architecture; we simply *are* Spark).
  *
  * `sql(text, args*)` runs any statement of the unified dialect:
  *   - queries return the planned DataFrame (lazy, Catalyst-optimized);
  *   - CREATE SCHEMA / CREATE STREAM mutate the catalog;
  *   - INSERT INTO appends to a catalog-registered relation;
  *   - UPDATE/DELETE execute copy-on-write: the catalog registration is
  *     replaced with a derived lazy plan (underlying files never change —
  *     SURVEY §7.4 risk 5 resolved via view semantics rather than
  *     rejection).
  */
final class GraftSession(val spark: SparkSession, streaming: Boolean = false) {

  val catalog = new Catalog

  // Parquet TIMESTAMP(NANOS) columns (pandas-written testdata) aren't
  // natively readable; read them as epoch-nanos longs and convert. The
  // legacy conf is per-session and runtime-settable.
  spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  // Naive parquet timestamps (isAdjustedToUTC=false — pandas/pyarrow
  // defaults) read as TIMESTAMP at the SCAN, not TIMESTAMP_NTZ: the stored
  // micros become the instant directly (≡ interpreting the naive value as
  // UTC; the driver contract pins spark.sql.session.timeZone=UTC, so this
  // agrees with the catalog's session-tz cast convention). Doing it at the
  // reader — rather than only via Catalog.normalizeNtz's cast — keeps
  // time-range predicates eligible for parquet filter pushdown and
  // partition pruning: a cast-wrapped column would hide `ts > X` from the
  // scan, and a time filter is THE canonical pruning predicate at 100 TB.
  // normalizeNtz remains the catch-all for relations registered from
  // non-parquet sources or pre-built NTZ DataFrames.
  spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")

  // Pin the session time zone: the scan path above yields naive micros as
  // instants (≡ naive-as-UTC), while Catalog.normalizeNtz casts NTZ in the
  // SESSION time zone — under a non-UTC zone the same naive wall-clock
  // value would land hours apart depending on which path ingested it.
  // UTC makes the two paths value-identical (and matches the driver
  // contract in Bench/Verify). GraftSession already owns two other session
  // confs; a user needing local-time display can convert explicitly.
  spark.conf.set("spark.sql.session.timeZone", "UTC")

  // local streaming checkpoints without a forked readlink/chmod per file
  graft.streaming.LocalCheckpointFileManager.install(spark)

  // native vector expressions usable from the dialect (vec_dot/vec_cosine)
  graft.expr.VectorOps.register(spark)
  graft.expr.Int8Ops.register(spark)

  // --- relation-valued table functions: the SQL surface for the M4
  // pipeline operators (`select * from gopher_flags(documents) where
  // keep = 1`). Convention: document-corpus functions expect `text` +
  // `doc_id` columns (the corpus contract every M4 gate uses); numeric
  // parameters are literal args with defaults. Composable like any FROM
  // source — joins, CTEs, derived tables, set ops all apply.
  locally {
    import graft.catalog.TfArg
    import graft.operators.{Dedup, QualityFilters, Sketches, TextAnalysis}
    def rel(fn: String, args: Seq[TfArg], i: Int): org.apache.spark.sql.DataFrame =
      args.lift(i) match {
        case Some(TfArg.Rel(_, df)) => df
        case other => throw new graft.translate.GraftAnalysisException(
          s"$fn: argument ${i + 1} must be a relation name" +
            other.fold("")(a => s", got $a"))
      }
    def num(fn: String, args: Seq[TfArg], i: Int, default: Long): Long =
      args.lift(i) match {
        case None                       => default
        case Some(TfArg.Lit(v: Long))   => v
        case Some(other) => throw new graft.translate.GraftAnalysisException(
          s"$fn: argument ${i + 1} must be an integer literal, got $other")
      }
    // a literal merge list, 'e r,i n,m er': comma-separated symbol pairs
    def bpeMerges(fn: String, list: String): Seq[(String, String)] =
      list.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map { p =>
        p.split("\\s+") match {
          case Array(a, b) => (a, b)
          case _ => throw new graft.translate.GraftAnalysisException(
            s"$fn: each merge must be two space-separated symbols, got " +
              s"`$p` (format: 'e r,i n,m er', or a registered model name)")
        }
      }
    def arity(fn: String, args: Seq[TfArg], min: Int, max: Int): Unit =
      if (args.length < min || args.length > max)
        throw new graft.translate.GraftAnalysisException(
          s"$fn takes $min-$max arguments, got ${args.length}")
    catalog.registerTableFunction("gopher_flags", { args =>
      arity("gopher_flags", args, 1, 1)
      QualityFilters.gopherFlags(rel("gopher_flags", args, 0), "text", "doc_id")
    })
    catalog.registerTableFunction("c4_lines", { args =>
      arity("c4_lines", args, 1, 2)
      QualityFilters.c4LineFilter(rel("c4_lines", args, 0), "text", "doc_id",
        minLineWords = num("c4_lines", args, 1, 3L).toInt)
    })
    catalog.registerTableFunction("dup_line_stats", { args =>
      arity("dup_line_stats", args, 1, 1)
      QualityFilters.dupLineStats(rel("dup_line_stats", args, 0), "text", "doc_id")
    })
    // quality_classifier(rel[, 'model']) — hashed-bag-of-words linear
    // scoring; the one-arg form uses the deterministic built-in weight
    // arithmetic, the two-arg form serves a CREATE MODEL … KIND 'linear'
    // (bucket, weight) artifact through the same codegen plumbing
    catalog.registerTableFunction("quality_classifier", { args =>
      arity("quality_classifier", args, 1, 2)
      val r = rel("quality_classifier", args, 0)
      if (args.length == 1) TextAnalysis.hashedLinearScore(r, "text", "doc_id")
      else {
        val name = str("quality_classifier", args, 1)
        catalog.model(name) match {
          case Some(m) if m.kind == "linear" =>
            if (m.hash == "missing")
              throw new graft.translate.GraftAnalysisException(
                s"quality_classifier: model '$name' is degraded (its " +
                  "artifact was unavailable when the catalog sidecar " +
                  "replayed) — DROP MODEL and re-CREATE it")
            TextAnalysis.hashedLinearScoreModel(r, "text", "doc_id",
              TextAnalysis.loadLinearWeights(spark, m.path))
          case Some(m) => throw new graft.translate.GraftAnalysisException(
            s"quality_classifier: model '$name' has kind '${m.kind}', " +
              "expected 'linear'")
          case None =>
            // registered MODEL NAME first, literal artifact path second
            // (the ann_topk/bpe_tokenize convention); an unreadable path
            // is an eager dialect error
            val weights =
              try TextAnalysis.loadLinearWeights(spark, name)
              catch { case e: Exception =>
                throw new graft.translate.GraftAnalysisException(
                  s"quality_classifier: '$name' is neither a registered " +
                    s"linear model (known: ${catalog.modelNames.mkString(", ")}) " +
                    s"nor a (bucket, weight) parquet artifact (${e.getMessage})")
              }
            TextAnalysis.hashedLinearScoreModel(r, "text", "doc_id", weights)
        }
      }
    })
    catalog.registerTableFunction("compression_ratio", { args =>
      arity("compression_ratio", args, 1, 1)
      TextAnalysis.compressionRatio(rel("compression_ratio", args, 0), "text", "doc_id")
    })
    // image_phash(rel[, payloadCol[, idCol]]) — perceptual dHash over a
    // binary image column (media convention: media_id, payload)
    catalog.registerTableFunction("image_phash", { args =>
      arity("image_phash", args, 1, 3)
      val payloadCol = if (args.length > 1) str("image_phash", args, 1) else "payload"
      val idCol = if (args.length > 2) str("image_phash", args, 2) else "media_id"
      val media = rel("image_phash", args, 0)
      // eager convention-naming check (the r8 advisory the sibling
      // hamming_pairs/decontaminate registrations follow): a missing or
      // typoed payload/id column fails at ANALYSIS with the dialect's
      // message, not at action time with a raw unresolved-column error
      Seq(idCol, payloadCol).foreach(c => reqCol("image_phash", media, c,
        "media relation must have (media_id, payload) columns " +
          "(or pass payload/id column names as arguments 2 and 3)"))
      graft.operators.Multimodal.dHash(media, payloadCol, idCol)
    })
    // hamming_pairs(rel[, maxHamming]) — banded near-dup candidate pairs
    // over a precomputed 64-bit signature relation (id, sh)
    catalog.registerTableFunction("hamming_pairs", { args =>
      arity("hamming_pairs", args, 1, 2)
      val sig = rel("hamming_pairs", args, 0)
      Seq("id", "sh").foreach(c => reqCol("hamming_pairs", sig, c,
        "signature relation must have (id, sh) columns"))
      graft.operators.Dedup.hammingCandidatesFromSig(sig,
        maxHamming = num("hamming_pairs", args, 1, 3L).toInt)
    })
    // audio_fingerprint(rel[, payloadCol[, idCol]]) — volume-invariant
    // energy-envelope fingerprint over a binary WAV column (the audio
    // sibling of image_phash; output (id, afp, ok) feeds hamming_pairs
    // via afp AS sh)
    catalog.registerTableFunction("audio_fingerprint", { args =>
      arity("audio_fingerprint", args, 1, 3)
      val payloadCol = if (args.length > 1) str("audio_fingerprint", args, 1) else "payload"
      val idCol = if (args.length > 2) str("audio_fingerprint", args, 2) else "media_id"
      val media = rel("audio_fingerprint", args, 0)
      Seq(idCol, payloadCol).foreach(c => reqCol("audio_fingerprint", media, c,
        "media relation must have (media_id, payload) columns " +
          "(or pass payload/id column names as arguments 2 and 3)"))
      graft.operators.Multimodal.audioFingerprint(media, payloadCol, idCol)
    })
    // audio_stats(rel) — sample-level WAV quality signals (silence /
    // clipping / energy) over a media relation (media_id, payload, mime)
    catalog.registerTableFunction("audio_stats", { args =>
      arity("audio_stats", args, 1, 1)
      val media = rel("audio_stats", args, 0)
      Seq("media_id", "payload", "mime").foreach(c =>
        reqCol("audio_stats", media, c,
          "media relation must have (media_id, payload, mime) columns"))
      graft.operators.Multimodal.audioStats(media).toDF()
    })
    // pii_redact(rel) — per-document PII detection counts + redacted
    // text (the auditable form of the x21 hygiene pass) over the
    // documents convention (doc_id, text)
    catalog.registerTableFunction("pii_redact", { args =>
      arity("pii_redact", args, 1, 1)
      val docs = rel("pii_redact", args, 0)
      Seq("doc_id", "text").foreach(c => reqCol("pii_redact", docs, c,
        "input relation must follow the documents convention"))
      TextAnalysis.piiStats(docs, "text", "doc_id")
    })
    // warc_responses(rel) — parse WARC files ((warc_file, payload binary)
    // rows; gzip auto-detected) into well-formed HTTP response records:
    // (record_id, url, warc_date, status, mime, text, n_bytes). The crawl
    // entry point in front of url_dedup/domain_stats (r13).
    catalog.registerTableFunction("warc_responses", { args =>
      arity("warc_responses", args, 1, 1)
      val r = rel("warc_responses", args, 0)
      Seq("warc_file", "payload").foreach(c => reqCol("warc_responses", r, c,
        "input relation must have (warc_file, payload) columns"))
      graft.operators.WebArchive.responses(r)
    })
    // warc_scan(files[, targetBytes]) — the crawl entry point over file
    // PATHS: member-offset split parse (indexWarcMembers cuts each file
    // at record-aligned gzip member boundaries every ~targetBytes, so
    // one big .warc.gz becomes many tasks), well-formed response
    // records only. The index scan runs eagerly at translation (it
    // sizes the task spread).
    catalog.registerTableFunction("warc_scan", { args =>
      arity("warc_scan", args, 1, 2)
      val files = rel("warc_scan", args, 0)
      reqCol("warc_scan", files, "path",
        "input relation must list WARC file paths in a `path` column")
      graft.operators.WebArchive.responsesSplit(files,
        targetBytes = num("warc_scan", args, 1, 8L << 20))
    })
    // url_normalize(rel[, urlCol[, idCol]]) — canonical URL + host +
    // registered domain per row (C4/RefinedWeb web-hygiene stage);
    // output (id, url_norm, host, domain)
    catalog.registerTableFunction("url_normalize", { args =>
      arity("url_normalize", args, 1, 3)
      val urlCol = if (args.length > 1) str("url_normalize", args, 1) else "url"
      val idCol = if (args.length > 2) str("url_normalize", args, 2) else "doc_id"
      val r = rel("url_normalize", args, 0)
      Seq(idCol, urlCol).foreach(c => reqCol("url_normalize", r, c,
        "input relation must have (doc_id, url) columns " +
          "(or pass url/id column names as arguments 2 and 3)"))
      graft.operators.UrlCuration.normalize(r, urlCol, idCol)
    })
    // url_dedup(rel[, urlCol[, idCol]]) — keep the lowest-id row per
    // canonical URL (url-exact crawl dedup with canonicalization in front)
    catalog.registerTableFunction("url_dedup", { args =>
      arity("url_dedup", args, 1, 3)
      val urlCol = if (args.length > 1) str("url_dedup", args, 1) else "url"
      val idCol = if (args.length > 2) str("url_dedup", args, 2) else "doc_id"
      val r = rel("url_dedup", args, 0)
      Seq(idCol, urlCol).foreach(c => reqCol("url_dedup", r, c,
        "input relation must have (doc_id, url) columns " +
          "(or pass url/id column names as arguments 2 and 3)"))
      graft.operators.UrlCuration.urlDedup(r, urlCol, idCol)
    })
    // domain_stats(rel[, urlCol]) — per-registered-domain page count and
    // distinct canonical hosts (the domain scoreboard caps/blocklists key on)
    catalog.registerTableFunction("domain_stats", { args =>
      arity("domain_stats", args, 1, 2)
      val urlCol = if (args.length > 1) str("domain_stats", args, 1) else "url"
      val r = rel("domain_stats", args, 0)
      reqCol("domain_stats", r, urlCol,
        "input relation must have a url column (or pass its name as argument 2)")
      graft.operators.UrlCuration.domainStats(r, urlCol)
    })
    // domain_split(rel, testPercent[, urlCol]) — domain-disjoint
    // train/test split: pages of one registered domain never straddle
    // the eval boundary (provenance-level leakage guard)
    catalog.registerTableFunction("domain_split", { args =>
      arity("domain_split", args, 2, 3)
      val r = rel("domain_split", args, 0)
      val pct = num("domain_split", args, 1, 10L).toInt
      if (pct < 0 || pct > 100)
        throw new graft.translate.GraftAnalysisException(
          s"domain_split: test percent must be in [0,100], got $pct")
      val urlCol = if (args.length > 2) str("domain_split", args, 2) else "url"
      reqCol("domain_split", r, urlCol,
        "input relation must have a url column (or pass its name as argument 3)")
      graft.operators.UrlCuration.domainDisjointSplit(r, pct, urlCol)
    })
    // int8_quantize(rel[, vecCol[, idCol]]) — symmetric per-vector int8
    // scalar quantization (SQ8, the embedding storage tier): output
    // (id, scale, codes array<tinyint>), all via codegen loop expressions
    catalog.registerTableFunction("int8_quantize", { args =>
      arity("int8_quantize", args, 1, 3)
      val vecCol = if (args.length > 1) str("int8_quantize", args, 1) else "embedding"
      val idCol = if (args.length > 2) str("int8_quantize", args, 2) else "vec_id"
      val r = rel("int8_quantize", args, 0)
      Seq(idCol, vecCol).foreach(c => reqCol("int8_quantize", r, c,
        "input relation must have (vec_id, embedding) columns " +
          "(or pass vector/id column names as arguments 2 and 3)"))
      graft.operators.Similarity.quantizeInt8(r, vecCol, idCol)
    })
    // cluster_sample(rel, cap[, k]) — cluster-balanced diversity
    // sampling (SemDeDup/DCLM shape): k-means the embedding space, keep
    // a deterministic content-addressed sample of ≤ cap rows per cluster
    catalog.registerTableFunction("cluster_sample", { args =>
      arity("cluster_sample", args, 2, 3)
      val r = rel("cluster_sample", args, 0)
      Seq("vec_id", "embedding").foreach(c => reqCol("cluster_sample", r, c,
        "input relation must have (vec_id, embedding) columns"))
      val cap = num("cluster_sample", args, 1, 64L).toInt
      if (cap <= 0)
        throw new graft.translate.GraftAnalysisException(
          s"cluster_sample: cap must be positive, got $cap")
      val k = num("cluster_sample", args, 2, 16L).toInt
      graft.operators.Similarity.clusterBalancedSample(r, cap, nlist = k)
    })
    // script_stats(rel) — per-document Unicode-script counts + mojibake
    // signals (replacement/control chars) over the documents convention
    catalog.registerTableFunction("script_stats", { args =>
      arity("script_stats", args, 1, 1)
      val docs = rel("script_stats", args, 0)
      Seq("doc_id", "text").foreach(c => reqCol("script_stats", docs, c,
        "input relation must follow the documents convention"))
      TextAnalysis.scriptStats(docs, "text", "doc_id")
    })
    // decontaminate(train, bench[, w[, minHits]]) — training rows whose
    // w-shingles do NOT overlap the benchmark set (text/doc_id convention)
    catalog.registerTableFunction("decontaminate", { args =>
      arity("decontaminate", args, 2, 4)
      val train = rel("decontaminate", args, 0)
      val bench = rel("decontaminate", args, 1)
      Seq(train -> "argument 1", bench -> "argument 2").foreach { case (df, which) =>
        Seq("text", "doc_id").foreach(c => reqCol("decontaminate", df, c,
          s"$which must follow the text/doc_id corpus convention"))
      }
      graft.operators.Decontaminate.clean(train, bench, "text", "doc_id",
        w = num("decontaminate", args, 2, 8L).toInt,
        minHits = num("decontaminate", args, 3, 1L).toInt)
    })
    catalog.registerTableFunction("oov_rate", { args =>
      arity("oov_rate", args, 1, 2)
      TextAnalysis.oovRate(rel("oov_rate", args, 0), "text", "doc_id",
        vocabK = num("oov_rate", args, 1, 500L).toInt)
    })
    catalog.registerTableFunction("heavy_hitters", { args =>
      arity("heavy_hitters", args, 1, 2)
      // approx counts are arrival-order-dependent (MG contract) — the
      // guaranteed-exact composition is heavy_hitters_exact
      Sketches.heavyHitters(rel("heavy_hitters", args, 0), "text", "doc_id",
        k = num("heavy_hitters", args, 1, 128L).toInt)
    })
    catalog.registerTableFunction("heavy_hitters_exact", { args =>
      arity("heavy_hitters_exact", args, 1, 2)
      Sketches.heavyHittersExact(rel("heavy_hitters_exact", args, 0), "text", "doc_id",
        k = num("heavy_hitters_exact", args, 1, 128L).toInt)
    })
    catalog.registerTableFunction("exact_dedup", { args =>
      arity("exact_dedup", args, 1, 1)
      Dedup.exact(rel("exact_dedup", args, 0), Seq("text"), "doc_id")
    })
    catalog.registerTableFunction("keep_best", { args =>
      arity("keep_best", args, 2, 2)
      val r = rel("keep_best", args, 0)
      val scoreCol = args(1) match {
        case graft.catalog.TfArg.Lit(s: String) => s
        case other => throw new graft.translate.GraftAnalysisException(
          s"keep_best: argument 2 must be the score column name (string literal), got $other")
      }
      if (!r.columns.exists(_.equalsIgnoreCase(scoreCol)))
        throw new graft.translate.GraftAnalysisException(
          s"keep_best: input relation has no `$scoreCol` column; found: ${r.columns.mkString(", ")}")
      Dedup.exactKeepBest(r, Seq("text"), "doc_id", scoreCol)
    })
    catalog.registerTableFunction("line_dedup", { args =>
      arity("line_dedup", args, 1, 2)
      Dedup.lineDedup(rel("line_dedup", args, 0), "text", "doc_id",
        minDocFreq = num("line_dedup", args, 1, 5L))
    })
    catalog.registerTableFunction("paragraph_dedup", { args =>
      arity("paragraph_dedup", args, 1, 2)
      Dedup.paragraphDedup(rel("paragraph_dedup", args, 0), "text", "doc_id",
        minDocFreq = num("paragraph_dedup", args, 1, 5L))
    })
    def str(fn: String, args: Seq[TfArg], i: Int): String =
      args.lift(i) match {
        case Some(TfArg.Lit(v: String)) => v
        case other => throw new graft.translate.GraftAnalysisException(
          s"$fn: argument ${i + 1} must be a string literal" +
            other.fold("")(a => s", got $a"))
      }
    def dbl(fn: String, args: Seq[TfArg], i: Int): Double =
      args.lift(i) match {
        case Some(TfArg.Lit(v: Double)) => v
        case Some(TfArg.Lit(v: Long))   => v.toDouble
        case other => throw new graft.translate.GraftAnalysisException(
          s"$fn: argument ${i + 1} must be a numeric literal" +
            other.fold("")(a => s", got $a"))
      }
    // corpus convention: dsir/distinct_audit slice on a `source` column —
    // checked EAGERLY so the dialect error names the convention instead
    // of a raw Spark unresolved-column failure at action time (r8 advisory)
    def reqCol(fn: String, df: org.apache.spark.sql.DataFrame, c: String,
               why: String): org.apache.spark.sql.DataFrame = {
      if (!df.columns.exists(_.equalsIgnoreCase(c)))
        throw new graft.translate.GraftAnalysisException(
          s"$fn: input relation must have a `$c` column ($why); " +
            s"found columns: ${df.columns.mkString(", ")}")
      df
    }
    // a model registered DEGRADED during sidecar replay (artifact missing
    // at replay, hash 'missing' in SHOW MODELS) must fail SERVING with the
    // dialect's eager error — not whatever filesystem exception the stale
    // path produces downstream. Remedy is DROP MODEL + re-CREATE, which
    // re-validates the artifact and records a real hash.
    def servable(fn: String, name: String,
                 m: graft.catalog.Catalog#ModelEntry): String = {
      if (m.hash == "missing")
        throw new graft.translate.GraftAnalysisException(
          s"$fn: model '$name' is degraded (its artifact was unavailable " +
            "when the catalog sidecar replayed) — DROP MODEL and " +
            "re-CREATE it to re-validate the artifact")
      m.path
    }
    // resolve a model argument (the quality_classifier convention:
    // registered MODEL NAME first, literal artifact path second) and
    // load it kind-checked — a wrong-kind model is an eager error, not
    // a path fallback, and an unloadable literal path is an eager
    // dialect error naming the known models
    def loadArtifact[A](fn: String, ref: String, kind: String,
                        what: String)(load: String => A): A =
      catalog.model(ref) match {
        case Some(m) if m.kind == kind => load(servable(fn, ref, m))
        case Some(m) => throw new graft.translate.GraftAnalysisException(
          s"$fn: model '$ref' has kind '${m.kind}', expected '$kind'")
        case None =>
          try load(ref)
          catch { case e: Exception =>
            throw new graft.translate.GraftAnalysisException(
              s"$fn: '$ref' is neither a registered $kind model " +
                s"(known: ${catalog.modelNames.mkString(", ")}) nor " +
                s"$what (${e.getMessage})")
          }
      }
    catalog.registerTableFunction("dsir_scores", { args =>
      arity("dsir_scores", args, 2, 3)
      graft.operators.Importance.dsirScores(
        reqCol("dsir_scores", rel("dsir_scores", args, 0), "source",
          "the corpus slice the target-literal argument selects"),
        "text", "doc_id",
        isTarget = org.apache.spark.sql.functions.col("source") ===
          str("dsir_scores", args, 1),
        buckets = num("dsir_scores", args, 2, 1024L).toInt)
    })
    catalog.registerTableFunction("dsir_resample", { args =>
      arity("dsir_resample", args, 3, 4)
      graft.operators.Importance.dsirResample(
        reqCol("dsir_resample", rel("dsir_resample", args, 0), "source",
          "the corpus slice the target-literal argument selects"),
        "text", "doc_id",
        isTarget = org.apache.spark.sql.functions.col("source") ===
          str("dsir_resample", args, 1),
        frac = dbl("dsir_resample", args, 2),
        buckets = num("dsir_resample", args, 3, 1024L).toInt)
    })
    // dsir_apply(rel, 'model') — the ONLINE half of DSIR served from a
    // persisted CREATE MODEL … KIND 'dsir' artifact: stateless (batch or
    // streaming), scores bit-identical to dsir_scores on the model
    // corpus (the x73 parity contract survives the save/load cycle —
    // Double.toString round-trips exactly)
    catalog.registerTableFunction("dsir_apply", { args =>
      arity("dsir_apply", args, 2, 2)
      val r = rel("dsir_apply", args, 0)
      Seq("text", "doc_id").foreach(c => reqCol("dsir_apply", r, c,
        "the documents convention the curation appliers score"))
      val (model, buckets) = loadArtifact("dsir_apply",
        str("dsir_apply", args, 1), "dsir", "a DSIR log-ratio artifact")(
        p => graft.operators.Importance.loadDsirModel(spark, p))
      graft.operators.Importance.applyDsirScore(r, "text", "doc_id",
        model, buckets)
    })
    // span_excise(rel, 'model'[, spanWords]) — hot-span excision served
    // from a persisted 'spans' artifact (x88's stateless apply, by name;
    // spanWords must match the value the hot set was mined with)
    catalog.registerTableFunction("span_excise", { args =>
      arity("span_excise", args, 2, 3)
      val r = rel("span_excise", args, 0)
      Seq("text", "doc_id").foreach(c => reqCol("span_excise", r, c,
        "the documents convention the curation appliers excise"))
      graft.operators.Dedup.applySpanExcision(r, "text", "doc_id",
        loadArtifact("span_excise", str("span_excise", args, 1), "spans",
          "a (key BIGINT) hot-span artifact")(
          p => graft.operators.Dedup.loadHotSpans(spark, p)),
        spanWords = num("span_excise", args, 2, 8L).toInt)
    })
    // paragraph_apply(rel, 'model') — hot-paragraph dedup served from a
    // persisted 'paragraphs' artifact (the x64 stateless apply, by name)
    catalog.registerTableFunction("paragraph_apply", { args =>
      arity("paragraph_apply", args, 2, 2)
      val r = rel("paragraph_apply", args, 0)
      Seq("text", "doc_id").foreach(c => reqCol("paragraph_apply", r, c,
        "the documents convention the curation appliers dedup"))
      graft.operators.Dedup.applyParagraphDedup(r, "text", "doc_id",
        loadArtifact("paragraph_apply", str("paragraph_apply", args, 1),
          "paragraphs", "a (key STRING) hot-paragraph artifact")(
          p => graft.operators.Dedup.loadHotParagraphs(spark, p)))
    })
    // decontaminate_apply(rel, 'model'[, w[, minHits]]) — benchmark
    // removal served from a persisted 'shingles' artifact (the x109
    // stateless apply, by name; w must match the mined shingle width)
    catalog.registerTableFunction("decontaminate_apply", { args =>
      arity("decontaminate_apply", args, 2, 4)
      val r = rel("decontaminate_apply", args, 0)
      Seq("text", "doc_id").foreach(c => reqCol("decontaminate_apply", r, c,
        "the documents convention the curation appliers filter"))
      graft.operators.Decontaminate.applyClean(r, "text", "doc_id",
        loadArtifact("decontaminate_apply",
          str("decontaminate_apply", args, 1), "shingles",
          "an (h BIGINT) benchmark shingle artifact")(
          p => graft.operators.Decontaminate.loadBenchShingles(spark, p)),
        w = num("decontaminate_apply", args, 2, 8L).toInt,
        minHits = num("decontaminate_apply", args, 3, 1L).toInt)
    })
    // grouped quantile_cont with BOUNDED executor state (histogram
    // refinement) — the documented alternative to the dialect's exact
    // `percentile` aggregate when one group holds an unbounded corpus
    // slice (percentile buffers whole groups; this never does)
    catalog.registerTableFunction("grouped_quantiles", { args =>
      arity("grouped_quantiles", args, 4, 5)
      graft.operators.Quantiles.groupedExactQuantiles(
        rel("grouped_quantiles", args, 0),
        str("grouped_quantiles", args, 1), str("grouped_quantiles", args, 2),
        Seq("q" -> dbl("grouped_quantiles", args, 3)),
        buckets = num("grouped_quantiles", args, 4, 4096L).toInt)
    })
    // hard-negative mining surface (embeddings corpus convention:
    // vec_id/embedding/label — checked eagerly so the dialect error
    // names the convention): hard_negatives(corpus, queries, k
    // [, ceiling [, floor]]) — per query the k most-similar
    // DIFFERENT-label vectors with 4-dp cosine in [floor, ceiling)
    catalog.registerTableFunction("hard_negatives", { args =>
      arity("hard_negatives", args, 3, 5)
      val corpus = rel("hard_negatives", args, 0)
      val queries = rel("hard_negatives", args, 1)
      Seq(corpus -> "argument 1", queries -> "argument 2").foreach { case (df, which) =>
        Seq("vec_id", "embedding", "label").foreach { c =>
          reqCol("hard_negatives", df, c,
            s"$which must follow the embeddings corpus convention")
        }
      }
      graft.operators.Similarity.hardNegatives(corpus, queries,
        k = num("hard_negatives", args, 2, 8L).toInt,
        dupCeiling = if (args.length > 3) dbl("hard_negatives", args, 3) else 0.95,
        floor = if (args.length > 4) dbl("hard_negatives", args, 4) else -1.0)
    })
    // leakage-safe split surface (text/doc_id corpus convention):
    // duplicate families never straddle train/test
    catalog.registerTableFunction("leakage_safe_split", { args =>
      arity("leakage_safe_split", args, 2, 2)
      val r = rel("leakage_safe_split", args, 0)
      Seq("text", "doc_id").foreach(c =>
        reqCol("leakage_safe_split", r, c, "document corpus convention"))
      graft.operators.Sampling.leakageSafeSplit(r, "text", "doc_id",
        testPercent = num("leakage_safe_split", args, 1, 10L).toInt)
    })
    // ANN serving surface: <fn>(queries, 'model'|'dir', k[, …]) over a
    // persisted index layout (graft.operators.IvfIndex). The string
    // argument is a registered MODEL NAME first, a literal layout path
    // second; a wrong-kind model or a dir without the kind's layout is
    // an eager dialect error. Returns (queries, layout dir, k).
    def annIndexArgs(fn: String, kind: String, maxArgs: Int,
                     args: Seq[TfArg]): (DataFrame, String, Int) = {
      arity(fn, args, 3, maxArgs)
      val q = rel(fn, args, 0)
      Seq("vec_id", "embedding").foreach(c =>
        reqCol(fn, q, c, "query relation must follow the embeddings convention"))
      val dir = loadArtifact(fn, str(fn, args, 1), kind,
        s"a ${annLayout(kind).get.label} index layout") { d =>
        requireLayout(fn, "index layout", kind, d); d
      }
      (q, dir, num(fn, args, 2, 8L).toInt)
    }
    // ann_topk(queries, 'model'|'dir', k[, nprobe]) — IVF: float cosine
    // over the probed bucket directories only
    catalog.registerTableFunction("ann_topk", { args =>
      val (q, dir, k) = annIndexArgs("ann_topk", "ivf", 4, args)
      graft.operators.IvfIndex.topK(spark, dir, q, k,
        nprobe = num("ann_topk", args, 3, 4L).toInt)
    })
    // BPE tokenizer surface (text/doc_id corpus convention):
    // bpe_pairs(rel[, k]) — top-k frequency-weighted adjacent char pairs;
    // bpe_tokenize(rel, n[, cap]) — train n merges on the relation (model
    // vocabulary capped at `cap` words, default 65536 — the bound that
    // keeps the driver copy model-sized on an unbounded corpus; words
    // below the cut segment one-token-per-char), tokenize it;
    // bpe_tokenize(rel, 'e r,i n,m er') — apply an ALREADY-TRAINED merge
    // list (the production shape: the tokenizer is a model artifact)
    catalog.registerTableFunction("bpe_pairs", { args =>
      arity("bpe_pairs", args, 1, 2)
      TextAnalysis.bpePairCounts(
        TextAnalysis.bpeWordFrequencies(rel("bpe_pairs", args, 0), "text", "doc_id"),
        k = num("bpe_pairs", args, 1, 30L).toInt)
    })
    catalog.registerTableFunction("bpe_tokenize", { args =>
      arity("bpe_tokenize", args, 2, 3)
      val r = rel("bpe_tokenize", args, 0)
      args(1) match {
        case graft.catalog.TfArg.Lit(n: Long) =>
          val cap = num("bpe_tokenize", args, 2,
            TextAnalysis.DefaultBpeVocabCap.toLong).toInt
          if (cap <= 0) throw new graft.translate.GraftAnalysisException(
            s"bpe_tokenize: vocab cap must be positive, got $cap")
          TextAnalysis.tokenizeBpeTrained(r, "text", "doc_id", n.toInt, cap)
        case graft.catalog.TfArg.Lit(s: String) if catalog.hasModel(s) =>
          // registered model name: load the persisted merge list and
          // apply it (handles same-symbol merges via the bounded-vocab
          // driver segmenter; distinct-pair lists stay fully distributed)
          val m = catalog.model(s).get
          if (m.kind != "bpe") throw new graft.translate.GraftAnalysisException(
            s"bpe_tokenize: model '$s' has kind '${m.kind}', expected 'bpe'")
          val cap = num("bpe_tokenize", args, 2,
            TextAnalysis.DefaultBpeVocabCap.toLong).toInt
          TextAnalysis.tokenizeBpeModel(r, "text", "doc_id",
            TextAnalysis.loadBpeMerges(spark,
              servable("bpe_tokenize", s, m)), cap)
        case graft.catalog.TfArg.Lit(s: String) =>
          val merges = bpeMerges("bpe_tokenize", s)
          if (args.length > 2) throw new graft.translate.GraftAnalysisException(
            "bpe_tokenize: a vocab cap only applies to train mode " +
              "(integer merge count) or a registered model; an explicit " +
              "merge list is already a model")
          TextAnalysis.tokenizeBpe(r, "text", "doc_id", merges)
        case other => throw new graft.translate.GraftAnalysisException(
          s"bpe_tokenize: argument 2 must be a merge count (integer) or a " +
            s"merge-list string literal, got $other")
      }
    })
    // unigram_tokenize(rel, vocabSize[, iters]) — train a deterministic
    // unigram-LM (SentencePiece-style Viterbi hard-EM) piece vocabulary
    // on the relation's capped word table and tokenize it; per-doc
    // (id, n_words, n_tokens). The second tokenizer family next to BPE.
    // unigram_tokenize(rel, 'model') — apply an ALREADY-TRAINED unigram
    // vocab artifact (the production shape, like bpe_tokenize's)
    catalog.registerTableFunction("unigram_tokenize", { args =>
      arity("unigram_tokenize", args, 2, 3)
      val r = rel("unigram_tokenize", args, 0)
      Seq("doc_id", "text").foreach(c => reqCol("unigram_tokenize", r, c,
        "input relation must follow the documents convention"))
      args(1) match {
        case graft.catalog.TfArg.Lit(s: String) if catalog.hasModel(s) =>
          if (args.length > 2) throw new graft.translate.GraftAnalysisException(
            "unigram_tokenize: iters only applies when training in place " +
              "(integer vocab size); a registered model is already trained")
          val m = catalog.model(s).get
          if (m.kind != "unigram") throw new graft.translate.GraftAnalysisException(
            s"unigram_tokenize: model '$s' has kind '${m.kind}', expected 'unigram'")
          TextAnalysis.tokenizeUnigramModel(r, "text", "doc_id",
            TextAnalysis.loadUnigramVocab(spark,
              servable("unigram_tokenize", s, m)).toMap)
        case graft.catalog.TfArg.Lit(n: Long) =>
          val vs = n.toInt
          val iters = num("unigram_tokenize", args, 2, 4L).toInt
          if (vs <= 0 || iters <= 0) throw new graft.translate.GraftAnalysisException(
            s"unigram_tokenize: vocabSize and iters must be positive, got ($vs, $iters)")
          TextAnalysis.tokenizeUnigramTrained(r, "text", "doc_id", vs, iters)
        case other => throw new graft.translate.GraftAnalysisException(
          s"unigram_tokenize: argument 2 must be a vocab size (integer) " +
            s"or a registered unigram model name, got $other")
      }
    })
    // substring_dedup(rel[, k[, stride[, buckets]]]) — exact-substring
    // REMOVAL (Lee et al.): cut every char span of length >= k that a
    // lower-id doc also contains; (id, text_clean, n_removed). stride>1
    // winnows gram starts (edge-approximate, guaranteed for spans >=
    // k+stride-1); buckets>1 slices the gram shuffle (output-identical).
    catalog.registerTableFunction("substring_dedup", { args =>
      arity("substring_dedup", args, 1, 4)
      val r = rel("substring_dedup", args, 0)
      Seq("doc_id", "text").foreach(c => reqCol("substring_dedup", r, c,
        "input relation must follow the documents convention"))
      val k = num("substring_dedup", args, 1, 30L).toInt
      if (k < 2) throw new graft.translate.GraftAnalysisException(
        s"substring_dedup: k must be >= 2, got $k")
      val stride = num("substring_dedup", args, 2, 1L).toInt
      val buckets = num("substring_dedup", args, 3, 1L).toInt
      if (stride < 1 || buckets < 1) throw new graft.translate.GraftAnalysisException(
        s"substring_dedup: stride and buckets must be >= 1, got ($stride, $buckets)")
      if (stride > k) throw new graft.translate.GraftAnalysisException(
        s"substring_dedup: stride must be <= k so duplicated-span interiors " +
          s"stay covered, got stride=$stride > k=$k")
      TextAnalysis.removeSharedSubstrings(r, "text", "doc_id", k, stride, buckets)
    })
    // unigram_encode(rel, 'model'[, cap]) — the unigram token stream
    // (id, wpos, tpos, token, token_id), same frame as bpe_encode, so
    // bpe_decode round-trips it. Model-artifact only (training belongs
    // to unigram_tokenize / trainUnigramModel — an encode that silently
    // trains would hide a driver EM inside a projection).
    catalog.registerTableFunction("unigram_encode", { args =>
      arity("unigram_encode", args, 2, 3)
      val r = rel("unigram_encode", args, 0)
      Seq("doc_id", "text").foreach(c => reqCol("unigram_encode", r, c,
        "input relation must follow the documents convention"))
      val cap = num("unigram_encode", args, 2,
        TextAnalysis.DefaultBpeVocabCap.toLong).toInt
      if (cap <= 0) throw new graft.translate.GraftAnalysisException(
        s"unigram_encode: vocab cap must be positive, got $cap")
      args(1) match {
        case graft.catalog.TfArg.Lit(s: String) if catalog.hasModel(s) =>
          val m = catalog.model(s).get
          if (m.kind != "unigram") throw new graft.translate.GraftAnalysisException(
            s"unigram_encode: model '$s' has kind '${m.kind}', expected 'unigram'")
          TextAnalysis.unigramEncode(r, "text", "doc_id",
            TextAnalysis.loadUnigramVocab(spark,
              servable("unigram_encode", s, m)).toMap, cap)
        case other => throw new graft.translate.GraftAnalysisException(
          s"unigram_encode: argument 2 must be a registered unigram model " +
            s"name, got $other")
      }
    })
    // pq_topk(queries, 'model'|'dir', k[, shortlist]) — flat PQ: ADC
    // over the compressed codes, exact re-rank of the shortlist against
    // the layout's originals
    catalog.registerTableFunction("pq_topk", { args =>
      val (q, dir, k) = annIndexArgs("pq_topk", "pq", 4, args)
      val shortlist = num("pq_topk", args, 3, math.max(50L, k.toLong)).toInt
      graft.operators.IvfIndex.pqTopKIndexed(spark, dir, q, k,
        shortlist = math.max(shortlist, k))
    })
    // ivfsq8_topk(queries, 'model'|'dir', k[, nprobe]) — IVF+SQ8 (FAISS
    // "IVF,SQ8"): scale-free integer-dot cosine over the probed int8
    // buckets, no re-rank tier
    catalog.registerTableFunction("ivfsq8_topk", { args =>
      val (q, dir, k) = annIndexArgs("ivfsq8_topk", "ivfsq8", 4, args)
      graft.operators.IvfIndex.topK(spark, dir, q, k,
        nprobe = num("ivfsq8_topk", args, 3, 4L).toInt)
    })
    // ivfpq_topk(queries, 'model'|'dir', k[, nprobe[, shortlist]]) —
    // IVF-PQ: ADC over the probed codes, exact re-rank of the shortlist
    // against the same buckets' originals; residual layouts are
    // detected from the layout's meta
    catalog.registerTableFunction("ivfpq_topk", { args =>
      val (q, dir, k) = annIndexArgs("ivfpq_topk", "ivfpq", 5, args)
      val shortlist = num("ivfpq_topk", args, 4, math.max(50L, k.toLong)).toInt
      graft.operators.IvfIndex.topK(spark, dir, q, k,
        nprobe = num("ivfpq_topk", args, 3, 4L).toInt,
        shortlist = math.max(shortlist, k))
    })
    // bpe_encode(rel, 'e r,i n' | 'model_name'[, cap]) — the token-id
    // STREAM (id, wpos, tpos, token, token_id), the form packing and
    // shard writers consume; ids dense over the emitted token vocabulary
    // bpe_decode(rel) — detokenize a bpe_encode output relation back to
    // text: (id, text_detok); decode(encode(x)) reproduces the lowercase
    // word normalization of x exactly (merges are concatenative)
    catalog.registerTableFunction("bpe_decode", { args =>
      arity("bpe_decode", args, 1, 1)
      val r = rel("bpe_decode", args, 0)
      Seq("id", "wpos", "tpos", "token").foreach(c => reqCol("bpe_decode", r, c,
        "input must be a bpe_encode output relation (id, wpos, tpos, token, token_id)"))
      TextAnalysis.bpeDecode(r)
    })
    catalog.registerTableFunction("bpe_encode", { args =>
      arity("bpe_encode", args, 2, 3)
      val r = rel("bpe_encode", args, 0)
      // default bounds the dense-id window (bpeEncode's own default):
      // an uncapped encode of a web-scale corpus would push a Heaps-law
      // vocabulary through one row_number task. Callers wanting the
      // uncapped full-vocab encode pass the cap explicitly.
      val cap = num("bpe_encode", args, 2,
        TextAnalysis.DefaultBpeVocabCap.toLong).toInt
      if (cap <= 0) throw new graft.translate.GraftAnalysisException(
        s"bpe_encode: vocab cap must be positive, got $cap")
      val merges = args(1) match {
        case graft.catalog.TfArg.Lit(s: String) if catalog.hasModel(s) =>
          val m = catalog.model(s).get
          if (m.kind != "bpe") throw new graft.translate.GraftAnalysisException(
            s"bpe_encode: model '$s' has kind '${m.kind}', expected 'bpe'")
          TextAnalysis.loadBpeMerges(spark, servable("bpe_encode", s, m))
        case graft.catalog.TfArg.Lit(s: String) => bpeMerges("bpe_encode", s)
        case other => throw new graft.translate.GraftAnalysisException(
          s"bpe_encode: argument 2 must be a merge-list string literal or " +
            s"a registered bpe model name, got $other")
      }
      TextAnalysis.bpeEncode(r, "text", "doc_id", merges, cap)
    })
    catalog.registerTableFunction("distinct_audit", { args =>
      arity("distinct_audit", args, 1, 1)
      Sketches.distinctAudit(
        reqCol("distinct_audit", rel("distinct_audit", args, 0), "source",
          "per-source distinct counts are grouped on it"),
        "text", "source")
    })
    // text-cleanup scalar functions in the dialect registry (usable in
    // any expression position, not just as whole-relation transforms)
    graft.functions.Registry.registerScalar("normalize_text") { as =>
      require(as.length == 1, "normalize_text(text)")
      graft.operators.TextAnalysis.normalizeText(as.head)
    }
    graft.functions.Registry.registerScalar("redact_pii") { as =>
      require(as.length == 1, "redact_pii(text)")
      graft.operators.TextAnalysis.redactPII(as.head)
    }
    // URL scalar functions (r12): the canonicalization family in any
    // expression position — `where url_domain(u) = 'x.com'`, join keys,
    // SELECT lists — not just through the whole-relation table fns
    graft.functions.Registry.registerScalar("url_canonical") { as =>
      require(as.length == 1, "url_canonical(url)")
      graft.operators.UrlCuration.normalizeUrl(as.head)
    }
    graft.functions.Registry.registerScalar("url_host") { as =>
      require(as.length == 1, "url_host(url)")
      graft.operators.UrlCuration.canonicalHost(as.head)
    }
    graft.functions.Registry.registerScalar("url_domain") { as =>
      require(as.length == 1, "url_domain(url)")
      graft.operators.UrlCuration.registeredDomain(as.head)
    }
    // vector-corpus convention: embedding + vec_id columns
    catalog.registerTableFunction("dim_covariance", { args =>
      arity("dim_covariance", args, 1, 1)
      graft.operators.Similarity.dimCovariance(
        rel("dim_covariance", args, 0), "embedding", "vec_id")
    })
    catalog.registerTableFunction("standardize", { args =>
      arity("standardize", args, 1, 1)
      graft.operators.Similarity.standardize(
        rel("standardize", args, 0), "embedding", "vec_id")
    })
    catalog.registerTableFunction("pca_project", { args =>
      arity("pca_project", args, 2, 2)
      val e = rel("pca_project", args, 0)
      val model = graft.operators.Similarity.pcaFit(
        e, "embedding", "vec_id", num("pca_project", args, 1, 8L).toInt)
      graft.operators.Similarity.pcaProject(e, "embedding", "vec_id", model)
    })
  }

  /** Register a custom relation-valued table function, callable from the
    * dialect as `FROM name(rel [, lit…])`. Bare identifiers in the call
    * resolve to catalog relations ([[graft.catalog.TfArg.Rel]]); other
    * arguments must be literals ([[graft.catalog.TfArg.Lit]]). */
  def registerTableFunction(name: String,
      fn: Seq[graft.catalog.TfArg] => DataFrame): this.type = {
    catalog.registerTableFunction(name, fn)
    this
  }

  /** Register every parquet table in a testdata directory (TESTDATA.md).
    * Each table's schema is read from one parquet footer on the driver
    * ([[graft.catalog.ParquetFooter]]), so registration runs no Spark job,
    * and pinned: a schema-less parquet read would re-infer it, a Spark job,
    * inside every query's analysis. */
  def registerDir(dir: String): this.type = {
    val d = new java.io.File(dir)
    val files = Option(d.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
    files.foreach { f =>
      val footer = graft.catalog.ParquetFooter.read(spark, f.getPath)
      // by-name: every catalog access plans a FRESH read, so self-joins get
      // distinct attribute ids (otherwise `e1 join e2` on the same table
      // collapses both sides onto one relation).
      catalog.registerTable(f.getName.stripSuffix(".parquet"), restoreNanoTimestamps(
        spark.read.schema(footer.schema).parquet(f.getPath), footer.nanoCols))
    }
    this
  }

  /** Under `nanosAsLong`, NANOS columns surface as LongType epoch-nanos;
    * cast them back to (microsecond) timestamps. */
  private def restoreNanoTimestamps(df: DataFrame, nanoCols: Set[String]): DataFrame =
    nanoCols.foldLeft(df) { (acc, c) =>
      acc.withColumn(c, org.apache.spark.sql.functions.expr(s"timestamp_micros(`$c` div 1000)"))
    }

  def sql(text: String, args: Any*): DataFrame = {
    val t0 = System.nanoTime()
    val parsed = SqlParser.parse(text)
    val t1 = System.nanoTime()
    parsed match {
      case Left(err)   => throw new GraftParseException(err)
      case Right(stmt) =>
        val bound = Params.bind(stmt, args)
        val t2 = System.nanoTime()
        val out = execute(bound)
        val t3 = System.nanoTime()
        lastTimingsVar = Map(
          "parse_ms"     -> (t1 - t0) / 1e6,
          "bind_ms"      -> (t2 - t1) / 1e6,
          "translate_ms" -> (t3 - t2) / 1e6)
        recordDdl(bound) // only after successful execution
        out
    }
  }

  // --- catalog persistence (round 9) ---------------------------------------
  // CREATE SCHEMA / CREATE STREAM / CTAS / DROP registrations were
  // session-ephemeral: everything defined through the dialect died with the
  // JVM. `persistTo` attaches a JSON sidecar holding the catalog-mutating
  // DDL as SQL TEXT in execution order; on attach, an existing sidecar is
  // REPLAYED through the ordinary `sql` path, so a new session over the
  // same base directory reconstructs schemas (incl. `extends` — replay
  // re-runs the resolution), stream definitions, and CTAS plans (re-planned
  // lazily against the current base tables, exactly like the live
  // registration). Scope is METADATA: DML (INSERT/UPDATE/DELETE/MERGE)
  // mutates in-session copy-on-write snapshots whose data has no
  // files to reattach — persisting those means persisting data, which is
  // what writeBucketed/CTAS-to-parquet are for.
  private var persistPath: Option[java.nio.file.Path] = None
  private var replaying = false
  private val ddlJournal = scala.collection.mutable.ArrayBuffer.empty[String]

  /** Attach (and, if present, replay) a catalog sidecar. Statements are
    * recorded AFTER successful execution, bound-parameter form (via the
    * round-trip printer), rewritten atomically per DDL. */
  def persistTo(path: String): this.type = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper
      val root = mapper.readTree(p.toFile)
      val stmts = Option(root.get("statements")).map(_.elements().asScala.toSeq)
        .getOrElse(Seq.empty).map(_.asText())
      // the FULL sidecar enters the journal before replay starts, and
      // persistPath is assigned only after replay succeeds: a replay
      // that fails partway can therefore never cause a later DDL's
      // atomic rewrite to silently drop the unreplayed suffix — either
      // the journal already holds every statement, or no rewrite path
      // is armed at all. A FAILED replay rolls the journal back to its
      // pre-attach snapshot: the session's catalog holds only the
      // replayed prefix, so keeping the full (partly broken) sidecar in
      // the journal would let a later successful persistTo — this path
      // or a fresh one — rewrite the poisoned statement list as truth.
      val journalSnapshot = ddlJournal.toVector
      ddlJournal ++= stmts
      replaying = true
      try stmts.foreach { s =>
        try sql(s)
        catch { case e: Exception =>
          ddlJournal.clear()
          ddlJournal ++= journalSnapshot
          throw new GraftAnalysisException(
            s"catalog sidecar replay failed at `$s` ($path): ${e.getMessage}")
        }
      } finally replaying = false
    }
    persistPath = Some(p)
    this
  }

  private def isCatalogDdl(s: Statement): Boolean = s match {
    case _: CreateSchema | _: CreateStream | _: CreateTableAs |
         _: DropRelation | _: DropSchema |
         _: CreateModel | _: DropModel => true
    case _ => false
  }

  /** Eager model-artifact validation (a registration pointing at a
    * missing/torn artifact is a bug NOW, not at first use). Throws
    * [[GraftAnalysisException]] on an unknown kind or a layout that
    * does not match the kind's save contract. */
  private def validateModelArtifact(name: String, kind: String,
                                    path: String): Unit = kind match {
    case k if annLayout(k).nonEmpty =>
      requireLayout(s"create model $name", "layout", k, path)
    case "bpe" =>
      try { graft.operators.TextAnalysis.loadBpeMerges(spark, path); () }
      catch { case e: Exception => throw new GraftAnalysisException(
        s"create model $name: '$path' is not a BPE merge-list " +
          s"artifact (${e.getMessage})") }
    case "unigram" =>
      try { graft.operators.TextAnalysis.loadUnigramVocab(spark, path); () }
      catch { case e: Exception => throw new GraftAnalysisException(
        s"create model $name: '$path' is not a unigram vocab " +
          s"artifact (${e.getMessage})") }
    case "linear" =>
      try { graft.operators.TextAnalysis.loadLinearWeights(spark, path); () }
      catch { case e: Exception => throw new GraftAnalysisException(
        s"create model $name: '$path' is not a (bucket, weight) linear " +
          s"classifier artifact (${e.getMessage})") }
    case "dsir" =>
      try { graft.operators.Importance.loadDsirModel(spark, path); () }
      catch { case e: Exception => throw new GraftAnalysisException(
        s"create model $name: '$path' is not a DSIR log-ratio " +
          s"artifact (${e.getMessage})") }
    case "spans" =>
      try { graft.operators.Dedup.loadHotSpans(spark, path); () }
      catch { case e: Exception => throw new GraftAnalysisException(
        s"create model $name: '$path' is not a (key BIGINT) hot-span " +
          s"artifact (${e.getMessage})") }
    case "paragraphs" =>
      try { graft.operators.Dedup.loadHotParagraphs(spark, path); () }
      catch { case e: Exception => throw new GraftAnalysisException(
        s"create model $name: '$path' is not a (key STRING) " +
          s"hot-paragraph artifact (${e.getMessage})") }
    case "shingles" =>
      try { graft.operators.Decontaminate.loadBenchShingles(spark, path); () }
      catch { case e: Exception => throw new GraftAnalysisException(
        s"create model $name: '$path' is not an (h BIGINT) benchmark " +
          s"shingle artifact (${e.getMessage})") }
    case other => throw new GraftAnalysisException(
      s"create model $name: unknown kind '$other' " +
        "(valid: ivf, bpe, unigram, pq, ivfpq, ivfsq8, linear, dsir, " +
        "spans, paragraphs, shingles)")
  }

  /** The persisted ANN index layout a model kind names, if any. */
  private def annLayout(kind: String): Option[graft.operators.IvfIndex.Layout] =
    graft.operators.IvfIndex.layouts.find(_.kind == kind)

  /** Throws `<prefix>: no <label> <noun> at '<dir>' (expected …)` unless
    * `dir` holds the layout of ANN model kind `kind`. */
  private def requireLayout(prefix: String, noun: String, kind: String,
                            dir: String): Unit = {
    val l = annLayout(kind).get
    if (!graft.operators.IvfIndex.layoutAt(spark, dir).contains(l))
      throw new GraftAnalysisException(
        s"$prefix: no ${l.label} $noun at '$dir' (${l.expected})")
  }

  /** Content hash of a model artifact at registration time: md5 over the
    * model-sized files (a BPE merge file; an index layout's model
    * directories — NOT its data), part files in name order so the hash
    * is layout-stable. */
  private def artifactHash(kind: String, path: String): String = {
    val conf = spark.sessionState.newHadoopConf()
    val md = java.security.MessageDigest.getInstance("MD5")
    def feed(p: org.apache.hadoop.fs.Path): Unit = {
      val fs = p.getFileSystem(conf)
      val files: Seq[org.apache.hadoop.fs.Path] =
        if (fs.getFileStatus(p).isDirectory)
          fs.listStatus(p).filter(_.isFile).map(_.getPath)
            .filterNot(_.getName.startsWith("_")).sortBy(_.getName).toSeq
        else Seq(p)
      files.foreach { f =>
        val in = fs.open(f)
        try {
          val buf = new Array[Byte](65536)
          var n = in.read(buf)
          while (n >= 0) { md.update(buf, 0, n); n = in.read(buf) }
        } finally in.close()
      }
    }
    val modelParts =
      annLayout(kind).fold(Seq(path))(_.modelDirs.map(d => s"$path/$d"))
    modelParts.foreach(p => feed(new org.apache.hadoop.fs.Path(p)))
    md.digest().map("%02x".format(_)).mkString
  }

  private def recordDdl(stmt: Statement): Unit =
    if (!replaying && persistPath.nonEmpty && isCatalogDdl(stmt)) {
      ddlJournal += graft.ast.Pretty.print(stmt)
      val p = persistPath.get
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper
      val root = mapper.createObjectNode()
      root.put("version", 1)
      val arr = root.putArray("statements")
      ddlJournal.foreach(arr.add)
      val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
      java.nio.file.Files.write(tmp,
        mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(root))
      java.nio.file.Files.move(tmp, p,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }

  /** Per-phase wall times (milliseconds) of the most recent [[sql]]
    * statement (per statement for [[sqlScript]]): `parse_ms` (text → AST),
    * `bind_ms` (`?` parameter substitution), `translate_ms` (AST → analyzed
    * Spark plan — includes Catalyst analysis, since DataFrame construction
    * resolves eagerly; this is the reference's resolve+translate,
    * fsql/timer.scala:3-16 wired at fsql/parser.scala:414-423). Execution
    * time is NOT here for ordinary statements — the returned DataFrame is
    * lazy; time the action. Exception: UNKEYED count/session window
    * statements run their range-partitioning jobs at translation time (see
    * [[schemaOf]]'s deviation note), so their `translate_ms` includes that
    * materialization.
    * Empty before the first statement; on a failed statement the phases up
    * to the failure keep their previous values (the map is only replaced on
    * success). */
  def timings: Map[String, Double] = lastTimingsVar
  @volatile private var lastTimingsVar: Map[String, Double] = Map.empty

  /** Multi-statement scripts (SURVEY O7 `Composed`): statements separated
    * by `;` execute sequentially; returns the last statement's result.
    * Splitting respects string literals. */
  def sqlScript(text: String, args: Any*): DataFrame = {
    val stmts = splitStatements(text)
    require(stmts.nonEmpty, "empty script")
    var remaining = args.toList
    var last: DataFrame = spark.emptyDataFrame
    stmts.foreach { s =>
      val n = countParams(s)
      val (mine, rest) = remaining.splitAt(n)
      remaining = rest
      last = sql(s, mine: _*)
    }
    last
  }

  /** Walk `text` calling `f(char, active, inString)`; `active` is false
    * inside string literals and inside `-- …\n` / `/* … */` comments (the
    * same comment forms the parser's whiteSpace regex skips). `inString`
    * distinguishes the two inactive states: a string-literal body is real
    * statement content, a comment body is not — an apostrophe in a
    * comment (`-- that's all`) must not make a comment-only piece look
    * like a statement. */
  private def scanSql(text: String)(f: (Char, Boolean, Boolean) => Unit): Unit = {
    var i = 0; val n = text.length
    var inStr = false; var inLine = false; var inBlock = false
    while (i < n) {
      val c = text.charAt(i)
      if (inLine) { if (c == '\n') inLine = false; f(c, false, false) }
      else if (inBlock) {
        if (c == '*' && i + 1 < n && text.charAt(i + 1) == '/') {
          f(c, false, false); f('/', false, false); i += 1; inBlock = false
        } else f(c, false, false)
      }
      else if (inStr) { if (c == '\'') inStr = false; f(c, false, true) }
      else c match {
        case '-' if i + 1 < n && text.charAt(i + 1) == '-' => inLine = true; f(c, false, false)
        case '/' if i + 1 < n && text.charAt(i + 1) == '*' => inBlock = true; f(c, false, false)
        case '\'' => inStr = true; f(c, false, true)
        case other => f(other, true, false)
      }
      i += 1
    }
  }

  /** `?` placeholders outside string literals and comments (a literal
    * "who?" or a commented `-- ?` is data, not a parameter). */
  private def countParams(s: String): Int = {
    var n = 0
    scanSql(s) { (c, active, _) => if (active && c == '?') n += 1 }
    n
  }

  private def splitStatements(text: String): Seq[String] = {
    val out = scala.collection.mutable.ListBuffer.empty[String]
    val cur = new StringBuilder
    var content = false // piece has active non-whitespace (not only comments)
    def flush(): Unit = {
      if (content) out += cur.toString
      cur.clear(); content = false
    }
    scanSql(text) { (c, active, inString) =>
      if (active && c == ';') flush()
      else {
        cur += c
        // active non-whitespace and string-literal bodies mark real
        // content; a piece that is only comments/whitespace is dropped,
        // not sent to the parser
        if ((active && !c.isWhitespace) || inString) content = true
      }
    }
    flush()
    out.toList
  }

  /** Write a catalog relation as a BUCKETED table (SCALE.md: co-located
    * joins). Joins between tables bucketed on the same keys with the same
    * bucket count need no shuffle exchange. Registers the saved table
    * back into the graft catalog under `tableName`. */
  def writeBucketed(relation: String, tableName: String,
                    bucketKeys: Seq[String], buckets: Int): this.type = {
    // idempotent across JVMs: drop the metastore entry AND any orphaned
    // warehouse location left by a previous session
    spark.sql(s"DROP TABLE IF EXISTS `$tableName`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(tableName)))
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(loc)) fs.delete(loc, true)
    catalog.relation(relation).write
      .mode("overwrite")
      .bucketBy(buckets, bucketKeys.head, bucketKeys.tail: _*)
      .sortBy(bucketKeys.head, bucketKeys.tail: _*)
      .format("parquet")
      .saveAsTable(tableName)
    catalog.registerTable(tableName, spark.table(tableName))
    this
  }

  /** Parse + plan without executing; returns the output schema — the
    * Spark-native answer to the reference's `TypedStatement.output`
    * (flinkdsl/typer.scala_:11-22).
    *
    * Deviation note: UNKEYED count/session windows materialize their
    * range-partitioned input at translation time (a Spark job runs, and a
    * pinned MEMORY_AND_DISK cache is left behind for the statement's
    * multi-pass reads) — so `schemaOf` on those statements is not free.
    * Call [[releaseOperatorCaches]] between statements to drop the pins
    * deterministically. */
  def schemaOf(text: String, args: Any*): StructType =
    sql(text, args: _*).schema

  /** Unpersist the operator-internal pinned caches accumulated by unkeyed
    * count/session window translations (ADVICE r6: previously these waited
    * for the ContextCleaner's weak-ref GC). Returns the number released.
    * Call between statements — a still-unconsumed windowed DataFrame will
    * recompute (and may resample range boundaries) if released early. */
  def releaseOperatorCaches(): Int = catalog.releasePinned()

  /** Typed-record surface: `Dataset[T]` replaces the reference's shapeless
    * HList records (flinkdsl/record.scala). */
  def sqlAs[T: org.apache.spark.sql.Encoder](text: String, args: Any*): org.apache.spark.sql.Dataset[T] =
    sql(text, args: _*).as[T]

  /** `numOfResults` classification (reference flinkdsl/typer.scala_:17 with
    * the unique-constraint collection at :180-203): ZeroOrOne / One / Many,
    * inferred from LIMIT, global aggregation, and the constraint metadata
    * captured by `registerJdbc(.., introspectConstraints = true)`. */
  def cardinalityOf(text: String): Cardinality =
    SqlParser.parse(text) match {
      case Left(err)   => throw new GraftParseException(err)
      case Right(stmt) => Cardinality.of(stmt, uniqueKeysOf)
    }

  private val declaredKeys =
    scala.collection.mutable.Map.empty[String, List[Seq[String]]]

  /** Declare a unique key on any catalog relation (parquet tables, CTAS
    * results, streams) so `cardinalityOf` / `one` / `optional` can bound
    * statements on it — the catalog-held analog of the JDBC-introspected
    * constraints (SURVEY §4.2: the reference pulled these from
    * SchemaCrawler; file sources have no metadata channel, so the user
    * asserts them). Repeated calls accumulate alternative keys. */
  def declareUniqueKey(table: String, cols: String*): this.type = {
    require(cols.nonEmpty, "declareUniqueKey needs at least one column")
    val k = table.toLowerCase(java.util.Locale.ROOT)
    declaredKeys(k) = declaredKeys.getOrElse(k, Nil) :+ cols.toSeq
    this
  }

  private def uniqueKeysOf(name: String): Seq[Seq[String]] = {
    val jdbc = jdbcMetaMap.collectFirst { case (n, c) if n.equalsIgnoreCase(name) => c }
      .map(c => (if (c.primaryKey.nonEmpty) Seq(c.primaryKey) else Nil) ++
        c.uniqueIndexes.values)
      .getOrElse(Nil)
    jdbc ++ declaredKeys.getOrElse(name.toLowerCase(java.util.Locale.ROOT), Nil)
  }

  /** Typed exactly-one-row execution — the One face of the reference's
    * `numOfResults`. Rejects statements `cardinalityOf` classifies Many;
    * raises if the provably-bounded statement returns zero rows. */
  def one[T: org.apache.spark.sql.Encoder](text: String, args: Any*): T =
    optional[T](text, args: _*).getOrElse(
      throw new GraftAnalysisException(s"expected exactly one row, got zero: $text"))

  /** Typed zero-or-one-row execution — the ZeroOrOne face of the
    * reference's `numOfResults`. The statement must be provably at most one
    * row: LIMIT 0/1, a global aggregate, or WHERE equalities covering a
    * unique key (PK or unique index) of its single source table. */
  def optional[T: org.apache.spark.sql.Encoder](text: String, args: Any*): Option[T] = {
    // parse ONCE: DML guard, classification, and execution share the AST
    val stmt = SqlParser.parse(text) match {
      case Right(s)  => s
      case Left(err) => throw new GraftParseException(err)
    }
    // DML classifies One (executes once) but yields no row set — reject
    // with a clear message rather than a confusing encoder error
    if (!stmt.isInstanceOf[QueryExpr])
      throw new GraftAnalysisException(
        "one()/optional() are for queries; run DML via sql(): " + text)
    if (Cardinality.of(stmt, uniqueKeysOf) == Cardinality.Many)
      throw new GraftAnalysisException(
        "statement may return many rows (no unique key covered by WHERE " +
          "equalities, no LIMIT 0/1, not a global aggregate) — use sqlAs[T]: " + text)
    execute(Params.bind(stmt, args)).as[T].take(2) match {
      case Array(r) => Some(r)
      case Array()  => None
      case _        => throw new GraftAnalysisException(
        "statement classified ZeroOrOne returned multiple rows (constraint " +
          "metadata stale?): " + text)
    }
  }

  /** Scala case-class source for a query's output schema — the reference's
    * compile-time typed records (sqltyped macro lineage,
    * flinkdsl/record.scala:1-56, sqltyped/record.scala) re-expressed as an
    * explicit codegen step, the idiomatic Spark shape: generate once (at
    * build time or in the REPL), then `sqlAs[T]` returns the statically
    * typed Dataset the macro would have conjured. Statement metadata comes
    * from the same live analysis (`schemaOf`) the reference pulled from
    * PreparedStatement metadata (flinkdsl/jdbc.scala_:8-32). Nullable
    * fields become Option[...]; names that are not Scala identifiers are
    * backquoted. Plan-only — no jobs run — EXCEPT for statements whose
    * translation itself materializes (unkeyed count windows pin their
    * partitioning eagerly; recursive CTEs run their fixpoint). */
  def recordSource(className: String, text: String, args: Any*): String = {
    import org.apache.spark.sql.types._
    val keywords = Set("type", "class", "object", "val", "var", "def", "if",
      "else", "match", "case", "for", "while", "do", "new", "this", "super",
      "true", "false", "null", "import", "package", "return", "throw", "try",
      "catch", "finally", "extends", "with", "trait", "sealed", "final",
      "abstract", "implicit", "lazy", "override", "private", "protected",
      "yield")
    def ident(n: String): String =
      if (n.nonEmpty && (n.head.isLetter || n.head == '_') &&
          n.forall(c => c.isLetterOrDigit || c == '_') && !keywords(n))
        n else s"`$n`"
    // nested structs become named companion case classes (className +
    // CamelCased field path), emitted before the top-level record, so
    // sqlAs[T] is fully typed for struct-producing queries too
    val defs = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def nestedName(path: Seq[String]): String = {
      val base = className + path.map { p =>
        val s = p.filter(c => c.isLetterOrDigit || c == '_')
        if (s.isEmpty) "F" else s.head.toUpper.toString + s.tail
      }.mkString
      if (!defs.contains(base)) base
      else Iterator.from(2).map(i => s"$base$i").find(!defs.contains(_)).get
    }
    def classFor(path: Seq[String], st: StructType): String = {
      val name = nestedName(path)
      defs(name) = "" // claim the name before recursing
      val fields = st.fields.map { f =>
        val t = scalaType(f.dataType, path :+ f.name)
        val typed = if (f.nullable) s"Option[$t]" else t
        s"  ${ident(f.name)}: $typed"
      }
      defs(name) = s"final case class $name(\n${fields.mkString(",\n")}\n)"
      name
    }
    def scalaType(dt: DataType, path: Seq[String]): String = dt match {
      case LongType              => "Long"
      case IntegerType           => "Int"
      case ShortType             => "Short"
      case ByteType              => "Byte"
      case DoubleType            => "Double"
      case FloatType             => "Float"
      case BooleanType           => "Boolean"
      case StringType            => "String"
      case BinaryType            => "Array[Byte]"
      case TimestampType         => "java.sql.Timestamp"
      case TimestampNTZType      => "java.time.LocalDateTime"
      case DateType              => "java.sql.Date"
      case _: DecimalType        => "scala.math.BigDecimal"
      case ArrayType(e, eNull)   =>
        // nullable elements always become Option — a bare Seq[Int] over a
        // nullable primitive element fails at decode time (null in a
        // non-nullable field); references would survive but Option is the
        // honest type there too
        val et = scalaType(e, path :+ "item")
        s"Seq[${if (eNull) s"Option[$et]" else et}]"
      case MapType(k, v, vNull)  =>
        val vt = scalaType(v, path :+ "value")
        s"Map[${scalaType(k, path :+ "key")}, ${if (vNull) s"Option[$vt]" else vt}]"
      case st: StructType        => classFor(path, st)
      case other                 => other.typeName // calendar intervals etc.
    }
    classFor(Nil, StructType(schemaOf(text, args: _*).fields))
    defs.values.toSeq.reverse.mkString("\n\n")
  }

  /** Fluent expression DSL (ExpressionParser.scala parity): parse
    * `"amount.sum as total"` to a Spark Column. */
  def expr(text: String): Column = graft.expr.ExprDsl.parse(text)

  /** JDBC schema introspection (SURVEY S8/S9 — the reference used
    * SchemaCrawler, flinkdsl/database.scala:7-31): register a JDBC table
    * in the catalog; its schema comes from the live connection via
    * `spark.read.jdbc` metadata. Registration is lazy by-name, so the
    * connection is only opened when the relation is planned. */
  def registerJdbc(name: String, url: String, table: String,
                   props: java.util.Properties = new java.util.Properties(),
                   introspectConstraints: Boolean = false): this.type = {
    catalog.registerTable(name, spark.read.jdbc(url, table, props))
    if (introspectConstraints)
      jdbcMetaMap(name) = jdbcConstraints(url, table, props)
    this
  }

  /** S9: output schema of a live JDBC table without reading rows. */
  def jdbcSchema(url: String, table: String,
                 props: java.util.Properties = new java.util.Properties()): StructType =
    spark.read.jdbc(url, table, props).schema

  private val jdbcMetaMap =
    scala.collection.mutable.Map.empty[String, JdbcConstraints]

  /** Constraint metadata captured by `registerJdbc(..,
    * introspectConstraints = true)`, keyed by catalog name. */
  def jdbcMeta(name: String): Option[JdbcConstraints] = jdbcMetaMap.get(name)

  /** S8 constraint metadata (the reference read indices + foreign keys via
    * SchemaCrawler, flinkdsl/database.scala:7-31): primary key, foreign
    * keys, and unique indexes from standard `java.sql.DatabaseMetaData` —
    * Spark has no FK analog, so this surfaces as an optional metadata map
    * (SURVEY §2.1 S8) rather than catalog state. */
  def jdbcConstraints(url: String, table: String,
      props: java.util.Properties = new java.util.Properties()): JdbcConstraints = {
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      val md = conn.getMetaData
      // `myschema.t` addresses a schema-qualified table (split on the FIRST
      // '.' — deeper qualification is not portable JDBC). JDBC metadata
      // lookups are case-exact; unquoted identifiers were folded to the
      // store's own case at CREATE time, so retry each part folded. A null
      // schema matches any schema — passing the parsed part also prevents
      // an identically-named table in another schema from answering.
      val (schemaPart, tablePart) = table.indexOf('.') match {
        case -1 => (None, table)
        case i  => (Some(table.substring(0, i)), table.substring(i + 1))
      }
      def folds(s: String): Seq[String] = Seq(s,
        if (md.storesUpperCaseIdentifiers) s.toUpperCase else s.toLowerCase).distinct
      val candidates = for {
        tn <- folds(tablePart)
        sn <- schemaPart.map(folds(_).map(Option(_))).getOrElse(Seq(None))
      } yield (sn, tn)
      val (sch, t) = candidates.find { case (sn, tn) =>
        val rs = md.getColumns(null, sn.orNull, tn, null)
        try rs.next() finally rs.close()
      }.getOrElse(throw new graft.translate.GraftAnalysisException(
        s"JDBC table not found for constraint introspection: $table"))
      def drain[A](rs: java.sql.ResultSet)(f: java.sql.ResultSet => A): List[A] =
        try Iterator.continually(rs).takeWhile(_.next()).map(f).toList
        finally rs.close()
      val pk = drain(md.getPrimaryKeys(null, sch.orNull, t))(r =>
        (r.getShort("KEY_SEQ"), r.getString("COLUMN_NAME")))
      val fks = drain(md.getImportedKeys(null, sch.orNull, t))(r => JdbcForeignKey(
        r.getString("FKCOLUMN_NAME"), r.getString("PKTABLE_NAME"),
        r.getString("PKCOLUMN_NAME")))
      val ix = drain(md.getIndexInfo(null, sch.orNull, t, true, false))(r =>
        (r.getString("INDEX_NAME"), r.getShort("ORDINAL_POSITION"),
          r.getString("COLUMN_NAME"))).filter(_._1 != null)
      // generated keys: IS_AUTOINCREMENT is "YES"/"NO"/"" per JDBC spec
      val auto = drain(md.getColumns(null, sch.orNull, t, null))(r =>
        (r.getString("COLUMN_NAME"),
          try r.getString("IS_AUTOINCREMENT") catch { case _: Exception => "" }))
        .collect { case (c, "YES") => c }
      JdbcConstraints(
        pk.sortBy(_._1).map(_._2),
        fks,
        ix.groupBy(_._1).map { case (n, cs) => n -> cs.sortBy(_._2).map(_._3) },
        auto)
    } finally conn.close()
  }

  def translator: Translator = new Translator(spark, catalog)

  // Per-relation cached INSERT snapshots (released on consolidation or when
  // the relation is re-registered — ADVICE r1: unbounded cache growth).
  private val insertSnapshots =
    scala.collection.mutable.Map.empty[String, scala.collection.mutable.ListBuffer[DataFrame]]
  private val consolidateEvery = 8

  private def releaseSnapshots(name: String): Unit =
    insertSnapshots.remove(name).foreach(_.foreach(_.unpersist(blocking = false)))

  // ------------------------------------------------------------------

  private def execute(stmt: Statement): DataFrame = stmt match {
    case q: QueryExpr => translator.query(q)

    case Explain(q, false) =>
      import spark.implicits._
      val plan = translator.query(q).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Seq(plan).toDF("plan")

    // EXPLAIN ANALYZE (round 9): EXECUTE the query, then render the final
    // physical plan annotated with its runtime SQLMetrics (output rows,
    // spill bytes, shuffle bytes, peak memory per operator) and one line of
    // graft.obs totals (jobs, stages, tasks, task time, spill and shuffle
    // bytes, codegen fallbacks) — the runtime complement of PlanAuditSpec's
    // static scale-killer checks: static audit says "no BNLJ", this says
    // "operator X actually spilled 2 GB / emitted 10⁹ rows", which is where
    // skew shows up first.
    case Explain(q, true) =>
      import spark.implicits._
      val df = translator.query(q)
      if (df.isStreaming)
        throw new GraftAnalysisException(
          "explain analyze on a streaming query is not supported; run the " +
            "stream and inspect StreamingQuery.lastProgress instead")
      // PlanMetrics executes THIS QueryExecution's plan (Dataset.foreach/
      // collect would run a separate deserializing QueryExecution and the
      // metrics would accumulate on that other plan instance) and renders
      // the AQE-finalized tree
      Seq(obs.PlanMetrics.executeAndRender(df)).toDF("plan")

    case CreateSchema(name, fields, parent) =>
      catalog.createSchema(name, fields, parent)
      spark.emptyDataFrame

    // model artifacts: validated eagerly (a registration pointing at a
    // missing/torn artifact is a bug NOW, not at first use), hashed so
    // SHOW MODELS can audit drift between registration and disk
    case CreateModel(name, kindRaw, path) =>
      val kind = kindRaw.toLowerCase(java.util.Locale.ROOT)
      val hash =
        try { validateModelArtifact(name, kind, path); artifactHash(kind, path) }
        catch {
          // during sidecar replay a missing/moved artifact must DEGRADE,
          // not poison: failing here would make the entire catalog
          // sidecar unloadable (and persistence unarmable) over one lost
          // model. The entry registers with hash 'missing' (visible in
          // SHOW MODELS) so the user can DROP MODEL it; first USE of the
          // model still fails with the artifact-level error.
          case e: GraftAnalysisException if replaying =>
            Console.err.println(s"[graft] sidecar replay: model '$name' " +
              s"registered degraded (artifact unavailable: ${e.getMessage})")
            "missing"
        }
      catalog.registerModel(name, kind, path, hash)
      spark.emptyDataFrame

    case DropModel(name, ifExists) =>
      if (!catalog.hasModel(name) && !ifExists)
        throw new GraftAnalysisException(s"unknown model: $name " +
          s"(known: ${catalog.modelNames.mkString(", ")})")
      catalog.dropModel(name)
      spark.emptyDataFrame

    case ShowModels() =>
      import spark.implicits._
      catalog.modelNames
        .map { n => val m = catalog.model(n).get; (n, m.kind, m.path, m.hash) }
        .toDF("name", "kind", "path", "hash")

    case CreateTableAs(name, q) =>
      // batch CTAS: register the derived plan LAZILY — downstream queries
      // compose with it and Catalyst pushes filters/pruning through it
      // (materialize explicitly with writeBucketed/cache when reuse is hot).
      // This still gives standard evaluate-once CTAS semantics w.r.t. this
      // session's DML: UPDATE/DELETE/INSERT/MERGE are copy-on-write catalog
      // re-registrations, and the plan captured here resolved its source
      // relations at creation time — later re-registrations of those names
      // can't reach it (locked by AdviceR5Spec). Only out-of-band rewrites
      // of the underlying files would show through, as for any Spark
      // external table.
      releaseSnapshots(name)
      val df = translator.query(q)
      if (df.isStreaming)
        throw new GraftAnalysisException(
          s"CREATE TABLE $name AS: the query is a live stream (use CREATE STREAM)")
      catalog.registerTable(name, df)
      spark.emptyDataFrame

    // ---- session introspection + lifecycle (beyond-reference utilities) ----
    case ShowRelations(streamsOnly) =>
      import spark.implicits._
      catalog.relationNames
        .map(n => (n, if (catalog.isStream(n)) "stream" else "table"))
        .filter { case (_, kind) => !streamsOnly || kind == "stream" }
        .toDF("name", "kind")

    case DescribeQuery(q) =>
      // plan-only: schema from the analyzed plan, no jobs run
      import spark.implicits._
      translator.query(q).schema.fields.toSeq
        .map(f => (f.name, f.dataType.simpleString, f.nullable))
        .toDF("column", "type", "nullable")

    case Describe(rel) =>
      if (!catalog.hasRelation(rel))
        throw new GraftAnalysisException(s"DESCRIBE unknown relation: $rel")
      import spark.implicits._
      catalog.relation(rel).schema.fields.toSeq
        .map(f => (f.name, f.dataType.simpleString, f.nullable))
        .toDF("column", "type", "nullable")

    case DropRelation(name, ifExists, table) =>
      if (!catalog.hasRelation(name)) {
        if (!ifExists)
          throw new GraftAnalysisException(s"DROP: unknown table or stream: $name")
      } else {
        // the parsed keyword must match the relation's declared kind —
        // `drop table s` silently removing a stream would mask typos
        // across the two namespaces
        if (catalog.isDeclaredStream(name) && table)
          throw new GraftAnalysisException(
            s"DROP TABLE: $name is a stream (use DROP STREAM $name)")
        if (!catalog.isDeclaredStream(name) && !table)
          throw new GraftAnalysisException(
            s"DROP STREAM: $name is a table (use DROP TABLE $name)")
        releaseSnapshots(name)
        catalog.dropRelation(name)
      }
      spark.emptyDataFrame

    case DropSchema(name, ifExists) =>
      if (!catalog.hasSchema(name) && !ifExists)
        throw new GraftAnalysisException(s"DROP SCHEMA: unknown schema: $name")
      catalog.dropSchema(name)
      spark.emptyDataFrame

    case CreateStream(name, schemaRef, source) =>
      releaseSnapshots(name) // re-registering a relation frees its caches
      catalog.markDeclaredStream(name)
      val schema = catalog.resolveSchema(schemaRef)
      source match {
        case None =>
          // declared stream fed later by INSERT INTO — starts empty
          catalog.registerTable(name,
            spark.createDataFrame(java.util.Collections.emptyList[Row](), schema))
        case Some(FileSource(path)) =>
          catalog.registerTable(name, readFile(path, schema))
        case Some(HostSource(host, port)) =>
          catalog.registerStream(name, readSocket(host, port, schema))
        case Some(DerivedSource(q)) =>
          val df = translator.query(q)
          catalog.registerTable(name, df)
      }
      spark.emptyDataFrame

    case Insert(table, window, columns, input) =>
      if (!catalog.hasRelation(table))
        throw new GraftAnalysisException(s"INSERT INTO unknown relation: $table")
      val target = catalog.relation(table)
      val incoming0: DataFrame = input match {
        case InsertSelect(q) => translator.query(q)
        case InsertValues(rows) =>
          val t = translator
          val colsInOrder = columns.getOrElse(target.columns.toSeq)
          rows.zipWithIndex.foreach { case (r, i) =>
            if (r.length != colsInOrder.length)
              throw new GraftAnalysisException(
                s"INSERT INTO $table: VALUES row ${i + 1} has ${r.length} " +
                  s"expressions for ${colsInOrder.length} target columns")
          }
          val lits = rows.map(r => r.map(e => t.expr(e)))
          val one = spark.range(1)
          lits.map { r =>
            one.select(r.zip(colsInOrder).map { case (c, n) => c.as(n) }: _*)
          }.reduce(_.unionByName(_))
      }
      if (incoming0.isStreaming)
        throw new GraftAnalysisException(
          s"INSERT INTO $table from a live streaming source is not supported " +
            "through the batch surface; drive the stream with writeStream " +
            "(see graft.streaming) or stage it through a file/memory sink")
      // W7/S6: `insert into stream[window] …` — the window spec
      // materializes w_start/w_end (or w_id) on the incoming rows before
      // alignment, so a target declaring those columns receives bucketed
      // data (reference fsql/parser.scala:273 parsed this, never executed).
      val incoming = window.fold(incoming0)(w => translator.applyWindowPublic(incoming0, w)._1)
      val aligned = columns match {
        case Some(cs) =>
          val tLower = target.columns.map(_.toLowerCase).toSet
          cs.find(c => !tLower(c.toLowerCase)).foreach { bad =>
            throw new GraftAnalysisException(
              s"INSERT INTO $table: unknown target column `$bad`")
          }
          // named column list: project by name, in target column order
          val named = incoming.toDF(cs: _*)
          target.limit(0).unionByName(named, allowMissingColumns = true)
            .select(target.columns.map(org.apache.spark.sql.functions.col): _*)
        case None =>
          val tcols = target.columns
          val inLower = incoming.columns.map(_.toLowerCase).toSet
          // by-name when every target column exists in the incoming frame
          // (windowed inserts emit w_start/w_end in arbitrary positions);
          // positional otherwise (classic INSERT ... SELECT).
          if (incoming.columns.length == tcols.length &&
              tcols.forall(c => inLower(c.toLowerCase)))
            incoming.select(tcols.map(org.apache.spark.sql.functions.col): _*)
          else incoming.toDF(tcols: _*)
      }
      // SQL semantics: incoming rows are cast to the declared target types
      // (a literal 1 parses as Long; an `int` column must stay int)
      val typed = aligned.select(target.schema.fields.map(f =>
        org.apache.spark.sql.functions.col(f.name).cast(f.dataType).as(f.name)): _*)
      val snapshot = typed.cache()
      val prior = target
      val snaps = insertSnapshots.getOrElseUpdate(table,
        scala.collection.mutable.ListBuffer.empty[DataFrame])
      snaps += snapshot
      if (snaps.length >= consolidateEvery) {
        // long-lived sessions: N cached per-insert snapshots collapse into
        // one materialized checkpoint; the per-insert cache blocks are then
        // released (old checkpoints are GC'd by Spark's ContextCleaner once
        // unreferenced), so repeated INSERTs don't grow storage unboundedly
        val flat = prior.unionByName(snapshot).localCheckpoint(true)
        snaps.foreach(_.unpersist(blocking = false))
        snaps.clear()
        catalog.registerTable(table, flat)
      } else {
        catalog.registerTable(table, prior.unionByName(snapshot))
      }
      spark.emptyDataFrame

    // UPDATE/DELETE execute copy-on-write against the catalog (the same
    // mutability model as INSERT: the registration is replaced with a lazy
    // derived plan; underlying parquet files are never touched). The
    // reference parsed these but never executed anything
    // (flinkdsl/parser.scala:55-66). Scale note: the new registration is a
    // plan, not a materialization — a mutated 100 TB relation stays lazy
    // and Catalyst still prunes columns/partitions beneath the rewrite.
    case Update(tables, sets, where, orderBy, limit) =>
      if (tables.length != 1)
        throw new GraftAnalysisException("multi-table UPDATE is not supported")
      if (orderBy.nonEmpty || limit.isDefined)
        throw new GraftAnalysisException(
          "UPDATE ... ORDER BY/LIMIT (MySQL extension) is not supported")
      val name = tables.head.name
      if (!catalog.hasRelation(name))
        throw new GraftAnalysisException(s"UPDATE unknown relation: $name")
      val target = catalog.relation(name)
      val t = translator
      val colSet = target.columns.map(_.toLowerCase).toSet
      sets.foreach { case (c, _) =>
        if (!colSet(c.name.toLowerCase))
          throw new GraftAnalysisException(s"UPDATE $name: unknown column `${c.name}`")
      }
      val assign = sets.map { case (c, e) => c.name.toLowerCase -> t.expr(e) }.toMap
      val cond = where.map(t.expr)
      val updated = target.select(target.schema.fields.map { f =>
        import org.apache.spark.sql.functions.{col, when}
        assign.get(f.name.toLowerCase) match {
          // SQL semantics: rows where the predicate is null/false keep the
          // old value; assigned values cast to the declared column type
          case Some(v) =>
            cond.fold(v.cast(f.dataType).as(f.name))(c =>
              when(c, v).otherwise(col(f.name)).cast(f.dataType).as(f.name))
          case None => col(f.name)
        }
      }: _*)
      catalog.registerTable(name, updated)
      spark.emptyDataFrame

    // MERGE INTO: copy-on-write upsert. The matched/not-matched branches
    // compose into ONE lazy plan (left-outer join for the surviving target
    // rows + anti join for inserts); only the SQL:2003 cardinality check
    // (no target row may match >1 source rows) runs eagerly at statement
    // time — merge is a mutation, so one validation job at mutation time is
    // the Delta-style contract. Actions apply in declaration order, first
    // match wins; condition NULLs count as no-match (when() semantics).
    case Merge(target, source, on, actions) =>
      import org.apache.spark.sql.functions.{coalesce, col, count, lit, monotonically_increasing_id, when}
      val name = target.name
      if (!catalog.hasRelation(name))
        throw new GraftAnalysisException(s"MERGE INTO unknown relation: $name")
      val t = translator
      val base = catalog.relation(name)
      val tAlias = target.refName
      val colSet = base.columns.map(_.toLowerCase).toSet
      actions.foreach {
        case MergeUpdate(_, set) => set.foreach { case (c, _) =>
          if (!colSet(c.name.toLowerCase))
            throw new GraftAnalysisException(s"MERGE INTO $name: unknown column `${c.name}`")
        }
        case MergeInsert(_, Some(cols), vs) =>
          cols.find(c => !colSet(c.toLowerCase)).foreach { bad =>
            throw new GraftAnalysisException(s"MERGE INTO $name: unknown column `$bad`")
          }
          if (vs.length != cols.length)
            throw new GraftAnalysisException(
              s"MERGE INTO $name: INSERT has ${vs.length} values for ${cols.length} columns")
        case MergeInsert(_, None, vs) =>
          if (vs.length != base.columns.length)
            throw new GraftAnalysisException(
              s"MERGE INTO $name: INSERT has ${vs.length} values for ${base.columns.length} columns")
        case _ =>
      }
      val (srcBase, srcAlias) = source match {
        case tr @ TableRef(n, _, None) =>
          if (!catalog.hasRelation(n))
            throw new GraftAnalysisException(s"MERGE USING unknown relation: $n")
          (catalog.relation(n), tr.refName)
        case DerivedRel(q, a, None) => (t.query(q), a)
        case _ => throw new GraftAnalysisException(
          "MERGE source must be a table or a derived table (no window specs)")
      }
      if (base.isStreaming || srcBase.isStreaming)
        throw new GraftAnalysisException(
          s"MERGE INTO $name: target and source must be batch relations " +
            "(the cardinality check and the copy-on-write snapshot are not " +
            "defined on unbounded streams)")
      val tgt = base.withColumn("__rid", monotonically_increasing_id()).alias(tAlias)
      val src = srcBase.withColumn("__m", lit(1)).alias(srcAlias)
      val cond = t.expr(on)
      val joined = tgt.join(src, cond, "left_outer")
      val matched = col("__m").isNotNull

      // SQL:2003 cardinality rule — eager, one aggregation job
      val dupes = joined.where(matched)
        .groupBy(col("__rid")).agg(count(lit(1)).as("__c"))
        .where(col("__c") > 1).limit(1).count()
      if (dupes > 0)
        throw new GraftAnalysisException(
          s"MERGE INTO $name: a target row matches more than one source row " +
            "(cardinality violation)")

      def nz(c: Option[Expr]): Column =
        c.map(e => coalesce(t.expr(e), lit(false))).getOrElse(lit(true))
      // effective condition per matched action = matched AND its AND-cond
      // AND no earlier matched action fired
      var prior: Column = lit(false)
      val effective: Seq[(MergeAction, Column)] = actions.collect {
        case a @ (_: MergeUpdate | _: MergeDelete) =>
          val c = matched && nz(a.cond) && !prior
          prior = prior || (matched && nz(a.cond))
          (a, c)
      }
      val delCond = effective.collect { case (_: MergeDelete, c) => c }
        .reduceOption(_ || _).getOrElse(lit(false))
      val updSets: Seq[(Column, Map[String, Column])] = effective.collect {
        case (u: MergeUpdate, c) =>
          (c, u.set.map { case (cr, e) => cr.name.toLowerCase -> t.expr(e) }.toMap)
      }
      val survivors = joined.filter(!coalesce(delCond, lit(false)))
        .select(base.schema.fields.map { f =>
          val orig = col(s"$tAlias.${f.name}")
          val applicable = updSets.filter(_._2.contains(f.name.toLowerCase))
          val v = applicable match {
            case Seq() => orig
            case (c0, m0) +: rest =>
              rest.foldLeft(when(c0, m0(f.name.toLowerCase))) { case (acc, (c, m)) =>
                acc.when(c, m(f.name.toLowerCase))
              }.otherwise(orig)
          }
          v.cast(f.dataType).as(f.name)
        }: _*)

      val insActs = actions.collect { case i: MergeInsert => i }
      val merged =
        if (insActs.isEmpty) survivors
        else {
          val anti = srcBase.alias(srcAlias).join(tgt, cond, "left_anti")
          var priorIns: Column = lit(false)
          val insRows = insActs.map { i =>
            val c = nz(i.cond) && !priorIns
            priorIns = priorIns || nz(i.cond)
            val cols = i.columns.getOrElse(base.columns.toSeq)
            val assign = cols.map(_.toLowerCase).zip(i.values.map(t.expr)).toMap
            anti.filter(c).select(base.schema.fields.map { f =>
              assign.getOrElse(f.name.toLowerCase, lit(null)).cast(f.dataType).as(f.name)
            }: _*)
          }
          insRows.foldLeft(survivors)(_.unionByName(_))
        }
      catalog.registerTable(name, merged)
      spark.emptyDataFrame

    case Delete(tables, where) =>
      if (tables.length != 1)
        throw new GraftAnalysisException("multi-table DELETE is not supported")
      val name = tables.head.name
      if (!catalog.hasRelation(name))
        throw new GraftAnalysisException(s"DELETE FROM unknown relation: $name")
      val target = catalog.relation(name)
      val kept = where match {
        case None => target.limit(0) // DELETE without WHERE empties the relation
        case Some(p) =>
          // delete rows where the predicate IS TRUE; null-predicate rows stay
          val c = translator.expr(p)
          target.filter(!(c <=> org.apache.spark.sql.functions.lit(true)))
      }
      catalog.registerTable(name, kept)
      spark.emptyDataFrame
  }

  /** File source (S4): batch read by default; streaming read when the
    * session is in streaming mode. Format by extension (csv default, as the
    * reference's socket/file text model implies line-oriented input). */
  private def readFile(path: String, schema: StructType): DataFrame = {
    val reader = if (streaming) {
      val r = spark.readStream.schema(schema)
      path match {
        case p if p.endsWith(".parquet") => r.parquet(p)
        case p if p.endsWith(".json")    => r.json(p)
        case p                           => r.csv(p)
      }
    } else {
      path match {
        case p if p.endsWith(".parquet") =>
          spark.read.schema(graft.catalog.ParquetFooter.read(spark, p).schema).parquet(p)
        case p if p.endsWith(".json")    => spark.read.schema(schema).json(p)
        case p                           => spark.read.schema(schema).csv(p)
      }
    }
    reader
  }

  /** Socket source (S3): lines CSV-parsed to the declared schema. */
  private def readSocket(host: String, port: Int, schema: StructType): DataFrame = {
    val raw = spark.readStream.format("socket")
      .option("host", host).option("port", port).load()
    raw.select(from_csv(raw("value"),
        schema, Map.empty[String, String]).as("r"))
      .select("r.*")
  }
}

object GraftSession {
  /** Session over a testdata scale-factor directory (the driver contract). */
  def forDir(spark: SparkSession, dir: String): GraftSession = {
    val key = dir
    cache.synchronized {
      cache.getOrElseUpdate((spark, key), new GraftSession(spark).registerDir(dir))
    }
  }
  private val cache = scala.collection.mutable.Map.empty[(SparkSession, String), GraftSession]
}

/** One foreign-key edge: `column` references `refTable.refColumn`. */
final case class JdbcForeignKey(column: String, refTable: String, refColumn: String)

/** Constraint metadata of a JDBC table (S8): primary-key columns in key
  * order, foreign-key edges, unique indexes (name → columns), and
  * auto-increment (generated-key) columns — the reference's
  * `generatedKeyTypes` (flinkdsl/typer.scala_:195-205, columns whose type
  * `isAutoIncrementable`, tagged when they are the primary key). */
final case class JdbcConstraints(
    primaryKey: Seq[String],
    foreignKeys: Seq[JdbcForeignKey],
    uniqueIndexes: Map[String, Seq[String]],
    autoIncrement: Seq[String] = Nil)
