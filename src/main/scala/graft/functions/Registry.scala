package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Function registry: FSQL function names → Spark `Column` builders.
  *
  * The reference declares a small known-signature table
  * (`flinkdsl/typer.scala_:277-298`: avg/count/min/max/sum, abs/lower/upper,
  * bitwise infix ops) plus extension hooks `extraScalarFunctions` /
  * `extraAggregateFunctions`; unknown names degrade to untyped passthrough
  * (`flinkdsl/typer.scala_:324`). We mirror that: a registry of known
  * builders with arity checks, extension registration, and a passthrough to
  * Spark's whole built-in library via `call_function` for unknown names —
  * which resolves or errors inside Catalyst.
  */
object Registry {

  type Builder = Seq[Column] => Column

  /** Aggregate function names (drives group-by detection in the translator). */
  val aggregateNames: Set[String] = Set(
    "avg", "count", "min", "max", "sum",
    // beyond-reference but standard; free via Spark
    "stddev", "stddev_samp", "stddev_pop", "variance", "var_samp", "var_pop",
    "first", "last", "collect_list", "collect_set", "approx_count_distinct",
    "percentile_approx", "corr", "covar_samp", "covar_pop", "skewness",
    "kurtosis", "any_value", "mode", "median", "count_if", "bool_and",
    "bool_or", "array_agg", "string_agg", "listagg", "group_concat",
    "percentile", "min_by", "max_by", "arg_min", "arg_max",
    "bit_and", "bit_or", "bit_xor",
    "regr_slope", "regr_intercept", "regr_r2", "regr_count",
    "regr_avgx", "regr_avgy", "regr_sxx", "regr_syy", "regr_sxy",
    // grouping metadata functions are only legal inside the aggregate list
    // of a ROLLUP/CUBE/GROUPING SETS query — routing them through the
    // aggregate path puts them exactly there
    "grouping", "grouping_id",
    // internal: WITHIN GROUP / inline-ORDER-BY desugared ordered aggregates
    "__string_agg_ord", "__array_agg_ord")

  private val extraScalar = scala.collection.concurrent.TrieMap.empty[String, Builder]
  private val extraAggregate = scala.collection.concurrent.TrieMap.empty[String, Builder]

  /** Extension hooks — the Spark-native analog of the reference's
    * `extraScalarFunctions`/`extraAggregateFunctions` maps. */
  def registerScalar(name: String)(b: Builder): Unit = extraScalar(name.toLowerCase(java.util.Locale.ROOT)) = b
  def registerAggregate(name: String)(b: Builder): Unit = extraAggregate(name.toLowerCase(java.util.Locale.ROOT)) = b

  def isAggregate(name: String): Boolean = {
    val n = name.toLowerCase(java.util.Locale.ROOT)
    aggregateNames(n) || extraAggregate.contains(n)
  }

  private def arity(name: String, args: Seq[Column], n: Int): Unit =
    require(args.length == n, s"$name expects $n argument(s), got ${args.length}")

  /** `array_sort` comparator for ORDER BY k DESC ordered aggregates: key
    * descending (nulls last), value ASCENDING on key ties — `reverse(sort)`
    * would invert the tie-break too, diverging from SQL engines that keep a
    * stable ascending tie order in both directions. */
  private def descKeyAscValue(l: Column, r: Column): Column = {
    val lk = l.getField("k"); val rk = r.getField("k")
    val lv = l.getField("v"); val rv = r.getField("v")
    when(lk.isNull && rk.isNull,
        when(lv < rv, -1).when(lv > rv, 1).otherwise(0))
      .when(lk.isNull, 1)
      .when(rk.isNull, -1)
      .when(lk > rk, -1)
      .when(lk < rk, 1)
      .otherwise(when(lv < rv, -1).when(lv > rv, 1).otherwise(0))
  }

  /** Build a Column for `name(args)`; `distinct` only meaningful for
    * aggregates (count/sum/avg distinct). */
  def build(name: String, args: Seq[Column], distinct: Boolean = false): Column = {
    val n = name.toLowerCase(java.util.Locale.ROOT)
    extraScalar.get(n).orElse(extraAggregate.get(n)) match {
      case Some(b) => return b(args)
      case None    =>
    }
    n match {
      // ----- aggregates (reference flinkdsl/typer.scala_:277-281) -----
      case "count" if distinct => count_distinct(args.head, args.tail: _*)
      case "count"             => arity(n, args, 1); count(args.head)
      case "sum" if distinct   => sum_distinct(args.head)
      case "sum"               => arity(n, args, 1); sum(args.head)
      case "avg" if distinct   =>
        // mean of the DISTINCT values (Spark has no avg_distinct builtin)
        (sum_distinct(args.head) / count_distinct(args.head)).cast("double")
      case "avg"               => arity(n, args, 1); avg(args.head)
      case "min"               => arity(n, args, 1); min(args.head)
      case "max"               => arity(n, args, 1); max(args.head)
      // ----- scalars the reference names (flinkdsl/typer.scala_:284-293,
      // ExpressionParser.scala:79-113) -----
      // WITHIN GROUP string_agg/listagg, desugared by the parser to
      // (value, sep, orderKey, ascending). Deterministic at any parallelism:
      // collect_list's arrival order is arbitrary, so sort the collected
      // (key, value) structs — array_sort on structs orders by field 1 then
      // field 2 — and only then concatenate. One ordinary hash aggregate,
      // no extra shuffle or window.
      case "__string_agg_ord" =>
        arity(n, args, 4)
        val Seq(v, sep, key, asc) = args
        val collected = collect_list(struct(key.as("k"), v.cast("string").as("v")))
        val ordered = when(asc, array_sort(collected))
          .otherwise(array_sort(collected, descKeyAscValue))
        // call_function: the array_join overloads take the delimiter as a
        // Scala String, but here it arrives as a (literal) Column
        call_function("array_join", transform(ordered, s => s.getField("v")), sep.cast("string"))
      // ordered array_agg — same sorted-struct shape, element type kept
      case "__array_agg_ord" =>
        arity(n, args, 3)
        val Seq(v, key, asc) = args
        val collected = collect_list(struct(key.as("k"), v.as("v")))
        val ordered = when(asc, array_sort(collected))
          .otherwise(array_sort(collected, descKeyAscValue))
        transform(ordered, s => s.getField("v"))
      // DuckDB-named argmin/argmax → Spark min_by/max_by (same semantics:
      // the value of arg 1 at the row where arg 2 is minimal/maximal)
      case "arg_min" => arity(n, args, 2); min_by(args.head, args(1))
      case "arg_max" => arity(n, args, 2); max_by(args.head, args(1))
      case "grouping"    => arity(n, args, 1); grouping(args.head)
      case "grouping_id" => grouping_id(args: _*)
      case "abs"       => arity(n, args, 1); abs(args.head)
      case "lower"     => arity(n, args, 1); lower(args.head)
      case "upper"     => arity(n, args, 1); upper(args.head)
      case "substring" | "substr" =>
        require(args.length == 2 || args.length == 3, s"$n expects 2 or 3 args")
        if (args.length == 3) args.head.substr(args(1), args(2))
        else call_function("substring", args: _*)
      // ----- generators (UDTF surface §2.10): DuckDB-style select-position
      // unnest — one generator per SELECT, enforced by Spark's analyzer -----
      case "unnest" => arity(n, args, 1); explode(args.head)
      // ANSI `TRIM([BOTH|LEADING|TRAILING] chars FROM s)` — built on the
      // native Catalyst trims (the registry's 2-arg entries are ambiguous
      // about argument order across engines; these are not)
      case "__trim_chars" | "__ltrim_chars" | "__rtrim_chars" =>
        arity(n, args, 2)
        import org.apache.spark.sql.catalyst.expressions.{StringTrim, StringTrimLeft, StringTrimRight}
        val (src, chars) = (org.apache.spark.sql.GraftBridge.expression(args.head),
          org.apache.spark.sql.GraftBridge.expression(args(1)))
        org.apache.spark.sql.GraftBridge.column(n match {
          case "__ltrim_chars" => StringTrimLeft(src, chars)
          case "__rtrim_chars" => StringTrimRight(src, chars)
          case _               => StringTrim(src, chars)
        })
      // ----- DuckDB/Postgres-named scalars → Spark equivalents, so the
      // same query text runs against both engines (dialect portability) ----
      case "json_extract_string" | "json_extract" =>
        // extract-as-string semantics (DuckDB json_extract_string / ->>:
        // unquoted strings). NOTE deliberate divergence: DuckDB's
        // json_extract returns QUOTED json text for string fields —
        // get_json_object matches the ->> form; prefer the
        // json_extract_string name in portable SQL.
        arity(n, args, 2); call_function("get_json_object", args: _*)
      case "strpos" =>
        arity(n, args, 2); call_function("instr", args: _*)
      case "starts_with" =>
        arity(n, args, 2); call_function("startswith", args: _*)
      case "ends_with" =>
        arity(n, args, 2); call_function("endswith", args: _*)
      case "regexp_matches" =>
        arity(n, args, 2); call_function("regexp_like", args: _*)
      // text cleanup and URL canonicalization from graft.operators, in any
      // expression position (`where url_domain(u) = 'x.com'`, join keys)
      case "normalize_text" => arity(n, args, 1); graft.operators.TextAnalysis.normalizeText(args.head)
      case "redact_pii"     => arity(n, args, 1); graft.operators.TextAnalysis.redactPII(args.head)
      case "url_canonical"  => arity(n, args, 1); graft.operators.UrlCuration.normalizeUrl(args.head)
      case "url_host"       => arity(n, args, 1); graft.operators.UrlCuration.canonicalHost(args.head)
      case "url_domain"     => arity(n, args, 1); graft.operators.UrlCuration.registeredDomain(args.head)
      // DISTINCT variants with real Spark counterparts; anything else
      // must error rather than silently dropping the DISTINCT flag
      case "string_agg" | "listagg" | "group_concat" if distinct =>
        require(args.length == 1 || args.length == 2, s"$n expects 1 or 2 args")
        if (args.length == 2) string_agg_distinct(args.head, args(1))
        else string_agg_distinct(args.head)
      case "array_agg" | "collect_list" if distinct =>
        arity(n, args, 1); collect_set(args.head)
      case other if distinct =>
        throw new IllegalArgumentException(s"DISTINCT is not supported for $other")
      // ----- passthrough: Spark's full built-in library (reference P7:
      // unknown function names parse and pass through) -----
      case other => call_function(other, args: _*)
    }
  }
}
