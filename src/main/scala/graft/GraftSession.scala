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

  // the built-in relation-valued table functions (`FROM gopher_flags(documents)`)
  graft.functions.TableFunctions.install(spark, catalog)

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

  /** Content hash of a model artifact at registration time: md5 over its
    * model-sized `parts` ([[graft.catalog.ModelKind.modelParts]]: a BPE
    * merge file; an index layout's model directories — NOT its data),
    * part files in name order so the hash is layout-stable. */
  private def artifactHash(parts: Seq[String]): String = {
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
    parts.foreach(p => feed(new org.apache.hadoop.fs.Path(p)))
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
        try artifactHash(graft.catalog.ModelKind.validate(spark, name, kind, path).modelParts(path))
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
            graft.catalog.ModelKind.Degraded
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
