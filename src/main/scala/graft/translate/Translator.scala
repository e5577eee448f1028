package graft.translate

import graft.ast._
import graft.catalog.Catalog
import graft.functions.Registry
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

final class GraftAnalysisException(msg: String) extends RuntimeException(msg)

/** A planned relation: the DataFrame plus any *implicit grouping keys*
  * contributed by streaming window specs on the FROM sources.
  *
  * FSQL semantics (reference fsql/Ast.scala:132-136): `from s [size 5 min on
  * ts partitioned on k]` means downstream aggregation is per-(window, k).
  * We materialize windows as ordinary `w_start`/`w_end` (or `w_id` for count
  * windows) columns, and carry bound Column references so they stay
  * unambiguous through joins.
  */
final case class RelPlan(df: DataFrame, implicitKeys: Seq[Column], windowed: Boolean,
    // streaming session windows: output columns that only exist AFTER the
    // aggregation, as (outputName -> struct field path on the grouped key)
    postAggCols: Map[String, String] = Map.empty,
    // streaming time windows: the watermarked event-time column, bound like
    // implicitKeys, and the window size
    eventTime: Option[EventTime] = None)

/** A streaming time window's watermarked event-time column and its size
  * `spanUs`: every row of one window lies within `spanUs` of its start. */
final case class EventTime(col: Column, spanUs: Long)

/** A window spec applied to a DataFrame: grouping keys by name and as
  * expressions (the streaming session_window struct), post-aggregation
  * columns, and, for streaming time windows, the event-time column's name
  * with the window size. */
private final case class Windowed(df: DataFrame, keys: Seq[String],
    exprKeys: Seq[Column] = Nil, postAgg: Map[String, String] = Map.empty,
    eventTime: Option[(String, Long)] = None)

/** AST → DataFrame translator. Spark-first: we emit declarative
  * DataFrame/Column operations and let Catalyst do resolution, predicate
  * pushdown, column pruning, join strategy selection and codegen — the
  * reference stopped at a resolved AST (fsql/SQLContext.scala:4-41 is an
  * empty stub), so everything below is new execution design.
  */
final class Translator(spark: SparkSession, catalog: Catalog) {

  // ------------------------------------------------------------------
  // queries
  // ------------------------------------------------------------------

  // CTE scope: WITH-bound names shadow catalog relations for the extent of
  // the statement; each query() on a With saves/restores it, so sibling and
  // nested WITH lists cannot leak. Single-threaded per statement (a
  // Translator instance is created per GraftSession.execute call).
  private var cteScope: Map[String, DataFrame] = Map.empty

  // Correlation scope (LATERAL / correlated subqueries via the native
  // Dataset subquery API). `scopeQuals` accumulates the FROM aliases of
  // every enclosing SELECT; `outerMarkQuals` is the subset that must turn
  // a qualified ColRef into `col(...).outer()` — it is only populated
  // while translating the BODY of a lateral/correlated subquery, so the
  // enclosing query's own references stay ordinary. An inner alias that
  // shadows an outer one binds inner-first (standard SQL scoping): each
  // SELECT subtracts its own FROM aliases from the outer-mark set while
  // translating its clauses.
  private var scopeQuals: Set[String] = Set.empty
  private var outerMarkQuals: Set[String] = Set.empty

  /** All referenceable aliases/names introduced by a FROM relation. */
  private def relQuals(r: Relation): Set[String] = r match {
    case t: TableRef    => Set(t.refName.toLowerCase(java.util.Locale.ROOT))
    case d: DerivedRel  => Set(d.alias.toLowerCase(java.util.Locale.ROOT))
    case l: LateralRel  => Set(l.alias.toLowerCase(java.util.Locale.ROOT))
    case v: ValuesRel   => Set(v.alias.toLowerCase(java.util.Locale.ROOT))
    case f: TableFnRel  => Set(f.refName.toLowerCase(java.util.Locale.ROOT))
    case s: SampleRel   => relQuals(s.rel)
    case p: PivotRel    => relQuals(p.rel)
    case u: UnpivotRel  => relQuals(u.rel)
    case j: JoinRel     => relQuals(j.left) ++ relQuals(j.right)
  }

  /** Translate a subquery body with the given outer aliases marked for
    * `.outer()` reference (restores the previous marking on exit). */
  private def withOuterQuals[A](quals: Set[String])(body: => A): A = {
    val saved = outerMarkQuals
    outerMarkQuals = outerMarkQuals ++ quals
    try body finally outerMarkQuals = saved
  }

  def query(q: QueryExpr): DataFrame = q match {
    case With(ctes, body, recursive) =>
      val dup = ctes.groupBy(_._1.toLowerCase(java.util.Locale.ROOT))
        .collectFirst { case (n, vs) if vs.length > 1 => n }
      dup.foreach(n => throw new GraftAnalysisException(
        s"WITH: duplicate CTE name `$n`"))
      val saved = cteScope
      try {
        ctes.foreach { case (n, cq) =>
          // later CTEs see earlier ones (standard WITH scoping)
          val df =
            if (recursive && referencesRel(cq, n)) recursiveCte(n, cq)
            else query(cq)
          cteScope = cteScope + (n.toLowerCase(java.util.Locale.ROOT) -> df)
        }
        query(body)
      } finally cteScope = saved
    case s: Select => select(s)
    case SetOp(l, op, all, r, orderBy, limit, byName) =>
      val ld = query(l)
      val rd = query(r)
      var out = op match {
        // SQL set semantics: UNION dedups unless ALL (the reference parsed
        // the ALL flag and dropped it — flinkdsl/parser.scala:38; we honor it)
        // BY NAME (DuckDB): align by column name, absent columns NULL —
        // unionByName stays a zero-shuffle concat like positional union.
        case Union if byName =>
          val u = ld.unionByName(rd, allowMissingColumns = true)
          if (all) u else u.distinct()
        case Union     => if (all) ld.union(rd) else ld.union(rd).distinct()
        case Except    => if (all) ld.exceptAll(rd) else ld.except(rd)
        case Intersect => if (all) ld.intersectAll(rd) else ld.intersect(rd)
      }
      if (orderBy.nonEmpty) out = out.orderBy(orderBy.map(sortOnOutput(out, _)): _*)
      out = applyLimit(out, limit, orderBy)
      out
  }

  // ------------------------------------------------------------------
  // WITH RECURSIVE — driver-coordinated fixpoint
  // ------------------------------------------------------------------

  /** Does any FROM clause or subquery inside `q` reference relation `name`? */
  private def referencesRel(q: QueryExpr, name: String): Boolean = {
    val key = name.toLowerCase(java.util.Locale.ROOT)
    def inRel(r: Relation): Boolean = r match {
      case t: TableRef      => t.name.toLowerCase(java.util.Locale.ROOT) == key
      case d: DerivedRel    => inQuery(d.query)
      case lr: LateralRel   => inQuery(lr.query)
      case _: TableFnRel    => false
      case v: ValuesRel     => false
      case s: SampleRel     => inRel(s.rel)
      case pv: PivotRel     => inRel(pv.rel)
      case uv: UnpivotRel   => inRel(uv.rel)
      case j: JoinRel       => inRel(j.left) || inRel(j.right)
    }
    def inExpr(e: Expr): Boolean = Expr.fold(e, false) {
      case (acc, ScalarSubquery(sq))      => acc || inQuery(sq)
      case (acc, InSubquery(_, sq, _))    => acc || inQuery(sq)
      case (acc, Exists(sq, _))           => acc || inQuery(sq)
      case (acc, QuantifiedCmp(_, _, sq, _)) => acc || inQuery(sq)
      case (acc, _)                       => acc
    }
    def inQuery(qq: QueryExpr): Boolean = qq match {
      case With(cs, b, _) =>
        // an inner CTE of the same name shadows the outer one
        val shadowed = cs.exists(_._1.toLowerCase(java.util.Locale.ROOT) == key)
        cs.exists(c => inQuery(c._2)) || (!shadowed && inQuery(b))
      case SetOp(l, _, _, r, ob, _, _) =>
        inQuery(l) || inQuery(r) || ob.exists(k => inExpr(k.expr))
      case s: Select =>
        s.from.exists(inRel) ||
          s.projection.exists(p => inExpr(p.expr)) ||
          s.where.exists(inExpr) ||
          s.groupBy.exists(g => g.exprs.exists(inExpr) || g.having.exists(inExpr)) ||
          s.qualify.exists(inExpr) ||
          s.distinctOn.exists(inExpr) ||
          s.orderBy.exists(k => inExpr(k.expr))
    }
    inQuery(q)
  }

  /** Evaluate a self-referencing CTE as a fixpoint loop. Shape must be
    * `anchor UNION [ALL] step` with no trailing ORDER BY/LIMIT.
    *
    * Scale notes: each iteration is one distributed job over the previous
    * DELTA only (standard semi-naive evaluation); deltas are
    * localCheckpoint()ed so lineage stays flat at any depth. UNION dedups
    * the step against everything seen — cycle-safe closure; UNION ALL
    * terminates when a step yields no rows (depth-bounded recursions). */
  private def recursiveCte(name: String, cq: QueryExpr): DataFrame = cq match {
    case SetOp(anchor, Union, all, step, ob, lim, _) if ob.isEmpty && lim.isEmpty =>
      if (referencesRel(anchor, name))
        throw new GraftAnalysisException(
          s"WITH RECURSIVE $name: the anchor (first) branch must not reference $name")
      val maxIter = 200
      val key = name.toLowerCase(java.util.Locale.ROOT)
      val saved = cteScope
      try {
        val anchored = { val a = query(anchor); (if (all) a else a.distinct()) }
          .localCheckpoint()
        // accumulated result = union of checkpointed deltas (no recompute)
        val parts = scala.collection.mutable.Buffer[DataFrame](anchored)
        var delta = anchored
        var i = 0
        while (!delta.isEmpty) {
          i += 1
          if (i > maxIter) throw new GraftAnalysisException(
            s"WITH RECURSIVE $name did not converge within $maxIter iterations " +
              "(UNION ALL recursion must be depth-bounded by its WHERE clause)")
          cteScope = saved + (key -> delta)
          val fresh = query(step)
          delta = (if (all) fresh else fresh.except(parts.reduce(_ union _)))
            .localCheckpoint()
          if (!delta.isEmpty) parts += delta
        }
        parts.reduce(_ union _)
      } finally cteScope = saved
    case _ =>
      throw new GraftAnalysisException(
        s"WITH RECURSIVE $name must have the shape `anchor UNION [ALL] step` " +
          "(no ORDER BY/LIMIT on the set operation)")
  }

  // ------------------------------------------------------------------
  // SELECT
  // ------------------------------------------------------------------

  /** ANSI `FETCH FIRST n ROWS WITH TIES` on a SELECT. The limit is always
    * lowered by [[applyLimit]]'s boundary-value path: a distributed top-n
    * of just the sort keys (TakeOrderedAndProject — narrow) finds the n-th
    * key tuple and a plain filter keeps its peers — never a
    * single-partition global window, regardless of where the keys resolve.
    * Sort keys that do not already resolve against the projection output
    * are carried as hidden projection columns, whose EXACT generated names
    * are returned so [[selectBody]] trims precisely those (a user column
    * that happens to be aliased `__fth0` is neither dropped nor collided
    * with — fresh names skip existing output names, and under a star
    * projection also every column of the translated FROM relation, since
    * any star-expanded output name is drawn from that set; ADVICE r6). */
  private def desugarFetchTies(s: Select, relCols: Set[String]): (Select, Seq[String]) =
    s.limit match {
      case Some(l) if l.withTies =>
        if (s.orderBy.isEmpty)
          throw new GraftAnalysisException("FETCH … WITH TIES requires ORDER BY")
        if (l.offset.nonEmpty)
          throw new GraftAnalysisException(
            "FETCH … WITH TIES combined with OFFSET is not supported")
        if (s.distinct)
          throw new GraftAnalysisException(
            "FETCH … WITH TIES with DISTINCT is not supported — " +
              "apply DISTINCT in a derived table first")
        l.n.getOrElse(
          throw new GraftAnalysisException("FETCH … WITH TIES requires a row count"))
        val hasStar = s.projection.exists(p => p.expr match {
          case _: Star | _: StarMod      => true
          case FuncCall("columns", _, _) => true
          case _                         => false
        })
        // With a star the output name set is unknown until translation, so
        // even a bare column ref routes through a hidden column (a star may
        // be qualified or EXCLUDE-modified and drop the column).
        def resolvable(e: Expr): Boolean = e match {
          case ColRef(None, c) => !hasStar && s.projection.exists(_.outputName == c)
          case Lit(_: Long)    => true
          case _               => false
        }
        if (s.orderBy.forall(k => resolvable(k.expr))) (s, Nil)
        else {
          var proj = s.projection
          var counter = 0
          def taken(nm: String): Boolean =
            proj.exists(_.outputName == nm) || (hasStar && relCols(nm))
          def fresh(): String = {
            var nm = s"__fth$counter"; counter += 1
            while (taken(nm)) { nm = s"__fth$counter"; counter += 1 }
            nm
          }
          val hidden = scala.collection.mutable.Buffer.empty[String]
          val keys = s.orderBy.map { k =>
            if (resolvable(k.expr)) k
            else proj.find(p => p.alias.isDefined && p.expr == k.expr) match {
              // a key that IS a projection expression sorts by that output
              case Some(p) => k.copy(expr = ColRef(None, p.outputName))
              case None =>
                // under GROUP BY ALL a hidden NON-aggregate projection would
                // silently join the inferred grouping keys and change the
                // groups — reject instead (same stance as DuckDB's "column
                // must appear in the GROUP BY clause")
                if (s.groupBy.exists(_.all) &&
                    !Expr.hasAggregate(k.expr, Registry.isAggregate))
                  throw new GraftAnalysisException(
                    "FETCH … WITH TIES with GROUP BY ALL: ORDER BY key " +
                      s"`${k.expr}` is neither a projection output nor an " +
                      "aggregate — name it in the projection explicitly")
                val nm = fresh()
                hidden += nm
                proj = proj :+ Projection(k.expr, Some(nm))
                k.copy(expr = ColRef(None, nm))
            }
          }
          (s.copy(projection = proj, orderBy = keys), hidden.toSeq)
        }
      case _ => (s, Nil)
    }

  private def select(s00: Select): DataFrame = {
    // FROM first: desugarFetchTies needs the relation's output columns to
    // pick hidden sort-key names that cannot collide with star expansion
    val rel = s00.from.map(relation).getOrElse(RelPlan(dual, Nil, windowed = false))
    val (s0, hiddenTies) = desugarFetchTies(s00, rel.df.columns.toSet)
    // this SELECT's aliases become visible as outer references to any
    // correlated subquery translated inside its clauses
    val savedScope = scopeQuals
    val savedMark  = outerMarkQuals
    val own = s0.from.map(relQuals).getOrElse(Set.empty)
    scopeQuals = scopeQuals ++ own
    // standard SQL scoping: an alias this SELECT itself introduces shadows
    // any same-named enclosing alias, so qualified refs bind inner-first —
    // only the enclosing aliases NOT redefined here stay `.outer()` marks.
    // (the FROM clause itself was translated above, under the enclosing
    // marks, so lateral subqueries inside FROM still see the outer scope)
    outerMarkQuals = outerMarkQuals -- own
    try selectBody(rel, s0, hiddenTies)
    finally { scopeQuals = savedScope; outerMarkQuals = savedMark }
  }

  /** Expand `COLUMNS('regex')` projections (DuckDB wide-table ergonomics)
    * against the frame's schema: one output per matching column (partial
    * regex match, like DuckDB/RE2 — anchor with ^$ for exact). A wrapping
    * expression applies per column — `min(columns('l_.*'))` becomes one
    * min per matched column, each named after the column. */
  private def expandColumnsRegex(df: DataFrame, s: Select): Select = {
    def hits(e: Expr): Int = Expr.fold(e, 0) {
      case (n, FuncCall("columns", _, _)) => n + 1
      case (n, _)                         => n
    }
    if (!s.projection.exists(p => hits(p.expr) > 0)) s
    else s.copy(projection = s.projection.flatMap { p =>
      hits(p.expr) match {
        case 0 => Seq(p)
        case 1 =>
          val pat = Expr.fold(p.expr, Option.empty[String]) {
            case (_, FuncCall("columns", Seq(Lit(x: String)), _)) => Some(x)
            case (acc, _) => acc
          }.getOrElse(throw new GraftAnalysisException(
            "columns(...) expects one string-literal regex argument"))
          if (p.alias.isDefined)
            throw new GraftAnalysisException(
              "columns(...) expands to the matched column names — it cannot take an alias")
          val rx = java.util.regex.Pattern.compile(pat)
          val matched = df.columns.filterNot(_.startsWith("__sq"))
            .filter(c => rx.matcher(c).find())
          if (matched.isEmpty)
            throw new GraftAnalysisException(
              s"columns('$pat') matched no columns (have: ${df.columns.mkString(", ")})")
          matched.toSeq.map { c =>
            Projection(Expr.transform(p.expr) {
              case FuncCall("columns", _, _) => ColRef(None, c)
            }, Some(c))
          }
        case _ => throw new GraftAnalysisException(
          "at most one columns(...) per projection expression")
      }
    })
  }

  private def selectBody(rel: RelPlan, s0: Select,
                         hiddenTies: Seq[String] = Nil): DataFrame = {
    val (df1, s1) = decorrelateScalars(rel.df, s0)
    val s = expandColumnsRegex(df1, s1)
    val df0 = df1
    var df = df0

    // WHERE: split conjuncts; IN-subquery / EXISTS become semi/anti joins
    // (Catalyst's own decorrelation path, SURVEY §2.8 Q3).
    s.where.foreach { w =>
      val conjuncts = splitAnd(normalizeNot(w))
      val (subq, plain) = conjuncts.partition(containsSubqueryPred)
      if (plain.nonEmpty)
        df = df.filter(plain.map(expr).reduce(_ && _))
      subq.foreach { p => df = applySubqueryPredicate(df, p) }
    }

    val groupExprs = s.groupBy.map(_.exprs).getOrElse(Nil)
    val isAgg = groupExprs.nonEmpty || s.groupBy.exists(_.all) ||
      s.projection.exists(p => Expr.hasAggregate(p.expr, Registry.isAggregate))

    var out =
      if (isAgg) aggregate(df, rel, s)
      else plainProject(df, s)

    // plain DISTINCT only — DISTINCT ON keeps one row per key via a window
    // filter inside plainProject (it must see pre-projection columns)
    if (s.distinct && s.distinctOn.isEmpty) {
      out = out.distinct()
      if (s.orderBy.nonEmpty) out = out.orderBy(s.orderBy.map(sortOnOutput(out, _)): _*)
    }
    val limited = applyLimit(out, s.limit, s.orderBy)
    // trim EXACTLY the WITH TIES hidden sort-key columns desugarFetchTies
    // generated (passed by name — no alias-shape guessing, so user columns
    // can never be caught). The drop is a Project over the final Sort, so
    // output order is preserved; gating on the passed names (never on
    // limited.columns) keeps correlated subquery bodies unanalyzed.
    if (hiddenTies.nonEmpty) limited.drop(hiddenTies: _*) else limited
  }

  /** Decorrelate equality-correlated aggregate scalar subqueries into left
    * joins (`where p > (select avg(p) from o where o.k = t.k)` becomes a
    * per-key aggregate left-joined on the correlation key). Classic manual
    * decorrelation — the same rewrite Catalyst's own subquery planner does
    * for spark.sql, re-done here because our translator builds (eagerly
    * analyzed) DataFrames, which cannot hold unresolved outer references.
    * Returns the (possibly joined) frame plus the Select with each such
    * subquery replaced by a reference to the joined value column.
    *
    * Supported shape: single-table FROM, aggregate projection, WHERE made
    * of AND-conjuncts where every outer-referencing conjunct is an
    * `inner = outer` equality; empty groups yield NULL (or 0 for the
    * top-level COUNT — the standard COUNT-bug correction). Anything else
    * raises a clear error. Uncorrelated subqueries pass through untouched
    * (they lower to Catalyst ScalarSubquery). */
  private def decorrelateScalars(df0: DataFrame, s: Select): (DataFrame, Select) = {
    var df = df0
    var counter = 0
    def innerInfo(sel: Select): Option[(RelPlan, Set[String], Set[String])] = sel.from match {
      case Some(t: TableRef) if t.window.isEmpty =>
        val rp = relation(t)
        Some((rp, Set(t.refName.toLowerCase), rp.df.columns.map(_.toLowerCase).toSet))
      case Some(dr: DerivedRel) if dr.window.isEmpty =>
        val rp = relation(dr)
        Some((rp, Set(dr.alias.toLowerCase), rp.df.columns.map(_.toLowerCase).toSet))
      case _ => None
    }
    def hasOuter(e: Expr, quals: Set[String], cols: Set[String]): Boolean =
      Expr.fold(e, false) {
        case (acc, ColRef(Some(q), _)) => acc || !quals(q.toLowerCase)
        case (acc, ColRef(None, n))    => acc || !cols(n.toLowerCase)
        case (acc, _)                  => acc
      }
    def rw(e: Expr): Expr = Expr.transform(e) {
      case sq @ ScalarSubquery(sel: Select)
          if sel.groupBy.isEmpty && sel.orderBy.isEmpty && sel.limit.isEmpty &&
             sel.projection.length == 1 && !sel.distinct && sel.qualify.isEmpty =>
        innerInfo(sel) match {
          case None => sq
          case Some((rp, quals, cols)) =>
            val conjs = sel.where.map(splitAnd).getOrElse(Nil)
            val projOuter = hasOuter(sel.projection.head.expr, quals, cols)
            if (!conjs.exists(hasOuter(_, quals, cols)) && !projOuter) sq // uncorrelated
            else {
              val (corr0, plain) = conjs.partition(hasOuter(_, quals, cols))
              // Shapes outside this rewrite (outer refs in the projection,
              // non-equality correlation) fall through untouched: expr()
              // translates them with `.outer()`-marked references and the
              // native .scalar() subquery, and Catalyst decorrelates.
              // (Global aggregates build via select() — see aggregate() —
              // which is what makes that path analyzable.)
              val equalityShape = !projOuter &&
                Expr.hasAggregate(sel.projection.head.expr, Registry.isAggregate) &&
                corr0.forall {
                  case Cmp("=", l, r) =>
                    hasOuter(l, quals, cols) != hasOuter(r, quals, cols)
                  case _ => false
                }
              if (!equalityShape) sq
              else {
                val corr = corr0.collect {
                  case Cmp("=", l, r) =>
                    if (hasOuter(l, quals, cols)) (r, l) else (l, r) // (inner, outer)
                }
                val name = s"__sq$counter"; counter += 1
                var inner = rp.df
                if (plain.nonEmpty) inner = inner.filter(plain.map(expr).reduce(_ && _))
                val keyCols = corr.zipWithIndex.map { case ((ie, _), i) =>
                  expr(ie).as(s"${name}_k$i")
                }
                // Split the projection into its bare aggregates (computed in
                // the grouped frame) and the wrapping expression (evaluated
                // AFTER the left join, over possibly-absent groups). This is
                // what makes `100 - count(*)` yield 100 for an empty group:
                // each count ref coalesces to 0 post-join (the COUNT bug),
                // other aggregates stay NULL, and the wrapper applies to
                // those values — exactly ANSI semantics.
                val aggCols = scala.collection.mutable.Buffer.empty[Column]
                val replacement = Expr.transform(sel.projection.head.expr) {
                  case fc @ FuncCall(fname, _, _) if Registry.isAggregate(fname) =>
                    val an = s"${name}_a${aggCols.length}"
                    aggCols += expr(fc).as(an)
                    if (fname.toLowerCase == "count")
                      FuncCall("coalesce", Seq(ColRef(None, an), Lit(0L)))
                    else ColRef(None, an)
                }
                val grouped = inner.groupBy(keyCols: _*)
                  .agg(aggCols.head, aggCols.tail.toSeq: _*)
                val cond = corr.zipWithIndex.map { case ((_, oe), i) =>
                  expr(oe) === grouped(s"${name}_k$i")
                }.reduce(_ && _)
                df = df.join(grouped, cond, "left_outer")
                corr.indices.foreach(i => df = df.drop(grouped(s"${name}_k$i")))
                replacement
              }
            }
        }
    }
    // The rewrite plants `__sqN_aJ` columns in the PRE-aggregation frame.
    // In an aggregating SELECT, post-aggregation clauses (projection,
    // HAVING, QUALIFY, ORDER BY) can't reference them — Spark would fail
    // analysis with a confusing internal-name error — so detect that shape
    // up front and name it. WHERE runs pre-aggregation and stays supported.
    val aggregating = s.groupBy.nonEmpty ||
      s.projection.exists(p => Expr.hasAggregate(p.expr, Registry.isAggregate))
    def isCorrelated(sel: Select): Boolean = innerInfo(sel) match {
      case None => false
      case Some((_, quals, cols)) =>
        sel.where.map(splitAnd).getOrElse(Nil).exists(hasOuter(_, quals, cols)) ||
          hasOuter(sel.projection.head.expr, quals, cols)
    }
    def guard(clause: String)(e: Expr): Expr =
      if (!aggregating) rw(e)
      else Expr.transform(e) {
        case ScalarSubquery(sel: Select)
            if sel.projection.length == 1 && isCorrelated(sel) =>
          throw new GraftAnalysisException(
            s"correlated scalar subquery in the $clause of an aggregating " +
              "SELECT is not supported — compute it in a derived table/CTE " +
              "and join, or move the condition into WHERE")
      }
    val s2 = s.copy(
      projection = s.projection.map(p => p.copy(expr = guard("projection")(p.expr))),
      where = s.where.map(rw),
      groupBy = s.groupBy.map(g => g.copy(having = g.having.map(guard("HAVING")))),
      qualify = s.qualify.map(guard("QUALIFY")),
      orderBy = s.orderBy.map(k => k.copy(expr = guard("ORDER BY")(k.expr))))
    (df, s2)
  }

  /** QUALIFY predicate with projection-alias refs redirected to the
    * internal `__pN` columns (same alias-first policy as ORDER BY). */
  private def qualifyOnWide(s: Select, p: Expr): Expr =
    Expr.transform(p) { case c @ ColRef(None, _) =>
      aliasTarget(s, c).map(i => ColRef(None, s"__p$i")).getOrElse(c)
    }

  /** Materialize a (possibly window-function-bearing) predicate as a column
    * and filter on it — Spark rejects window functions inside Filter. */
  private def filterViaColumn(df: DataFrame, pred: Column): DataFrame =
    df.withColumn("__q", pred).filter(col("__q")).drop("__q")

  /** Expand `* EXCLUDE (…) REPLACE (e AS c, …)` against the frame's actual
    * schema: drop excluded columns, substitute replaced ones in place
    * (keeping position and name — DuckDB semantics). Unknown names error. */
  private def expandStarMod(df: DataFrame, sm: StarMod): Seq[Column] = {
    def lower(s: String) = s.toLowerCase(java.util.Locale.ROOT)
    val base: Seq[String] = sm.qualifier match {
      case None    => df.columns.filterNot(_.startsWith("__sq")).toSeq
      // plan-only expansion of the qualified star to enumerate q's columns
      case Some(q) => df.select(col(s"$q.*")).columns.toSeq
    }
    val have = base.map(lower).toSet
    (sm.exclude ++ sm.replace.map(_._2)).foreach { c =>
      if (!have(lower(c)))
        throw new GraftAnalysisException(
          s"star modifier names unknown column: $c (have: ${base.mkString(", ")})")
    }
    val exSet = sm.exclude.map(lower).toSet
    val replMap = sm.replace.map { case (e, c) => lower(c) -> e }.toMap
    base.filterNot(c => exSet(lower(c))).map { c =>
      replMap.get(lower(c)) match {
        case Some(e) => expr(e).as(c)
        case None    => sm.qualifier.fold(col(c))(q => col(s"$q.$c"))
      }
    }
  }

  /** Keep ONE row per DISTINCT ON key tuple: row_number over the key
    * partition in the query's ORDER BY order (keys themselves when absent —
    * arbitrary but stable pick, same contract as DuckDB), filter to 1. */
  private def applyDistinctOn(frame: DataFrame, s: Select,
                              key: Expr => Column, ord: SortKey => Column): DataFrame = {
    if (s.distinctOn.isEmpty) frame
    else {
      val keys = s.distinctOn.map(key)
      val order =
        if (s.orderBy.nonEmpty) s.orderBy.map(ord)
        else keys
      filterViaColumn(frame,
        row_number().over(Window.partitionBy(keys: _*).orderBy(order: _*)) === 1)
    }
  }

  /** Non-aggregating SELECT: projection (+QUALIFY/DISTINCT/ORDER BY/LIMIT). */
  private def plainProject(df: DataFrame, s: Select): DataFrame = {
    val hasStar = s.projection.exists(p =>
      p.expr.isInstanceOf[Star] || p.expr.isInstanceOf[StarMod])
    // plain DISTINCT dedups whole rows post-projection (handled by the
    // caller); DISTINCT ON is handled here and must suppress that path
    val plainDistinct = s.distinct && s.distinctOn.isEmpty
    // an unqualified * must not expose internal decorrelation columns
    // (`__sqN`, joined in by decorrelateScalars for the WHERE clause)
    def starCols: Seq[Column] = {
      val visible = df.columns.filterNot(_.startsWith("__sq"))
      if (visible.length == df.columns.length) Seq(col("*"))
      else visible.toSeq.map(col)
    }
    if (hasStar) {
      val projected0 = df.select(s.projection.flatMap(p => p.expr match {
        case Star(None)    => starCols
        case Star(Some(q)) => Seq(col(s"$q.*"))
        case sm: StarMod   => expandStarMod(df, sm)
        case e             => Seq(expr(e).as(p.outputName))
      }): _*)
      // QUALIFY: star output keeps the input columns, so the predicate
      // resolves directly against the projection
      val projected1 = s.qualify.fold(projected0)(p => filterViaColumn(projected0, expr(p)))
      val projected = applyDistinctOn(projected1, s,
        e => expr(e), k => sortCol(expr(k.expr), k))
      if (s.orderBy.isEmpty || plainDistinct) projected
      else {
        // sort AFTER projection when every key resolves against the output
        // (covers `select *, x+1 as q2 ... order by q2`); otherwise sort the
        // pre-projection frame (keys may name columns a qualified star drops)
        val outCols = projected.columns.toSet
        val allResolvable = s.orderBy.forall(k => k.expr match {
          case ColRef(None, n) => outCols.contains(n)
          // ordinals always resolve on the output (sortOnOutput raises a
          // clear error when out of range — never a silent constant sort)
          case Lit(_: Long)    => true
          case _               => false
        })
        if (allResolvable || s.qualify.isDefined || s.distinctOn.nonEmpty)
          projected.orderBy(s.orderBy.map(k => sortOnOutput(projected, k)): _*)
        else {
          // window-expression keys must be computed as columns before the
          // sort (Spark rejects them inside Sort); projecting afterwards
          // drops the hidden key columns again
          var pre = df
          var added = false
          val keys = s.orderBy.zipWithIndex.map { case (k, i) =>
            if (hasWindowFn(k.expr)) {
              added = true
              pre = pre.withColumn(s"__ow$i", expr(k.expr))
              sortCol(col(s"__ow$i"), k)
            } else sortCol(expr(k.expr), k)
          }
          pre.orderBy(keys: _*)
            .select(s.projection.flatMap(p => p.expr match {
              case Star(None) =>
                if (added) df.columns.filterNot(_.startsWith("__sq")).toSeq.map(col)
                else starCols
              case Star(Some(q)) => Seq(col(s"$q.*"))
              case sm: StarMod   => expandStarMod(df, sm)
              case e             => Seq(expr(e).as(p.outputName))
            }): _*)
        }
      }
    } else {
      // project to unique internal names, qualify + sort (keys/predicates may
      // reference either an output alias or any input column — both remain
      // visible on the wide frame), then trim.
      val internal = s.projection.zipWithIndex.map { case (p, i) => expr(p.expr).as(s"__p$i") }
      var wide = df.select(col("*") +: internal: _*)
      s.qualify.foreach { p => wide = filterViaColumn(wide, expr(qualifyOnWide(s, p))) }
      // DISTINCT ON over the wide frame: keys/order resolve alias-first
      // (same policy as QUALIFY and ORDER BY)
      wide = applyDistinctOn(wide, s,
        e => expr(qualifyOnWide(s, e)),
        k => sortCol(aliasTarget(s, k.expr).map(i => col(s"__p$i"))
          .getOrElse(expr(k.expr)), k))
      if (s.orderBy.nonEmpty && !plainDistinct) {
        val keys = s.orderBy.zipWithIndex.map { case (k, i) =>
          aliasTarget(s, k.expr) match {
            case Some(j) => sortCol(col(s"__p$j"), k)
            // Spark rejects window expressions directly inside Sort —
            // compute them as hidden columns on the wide frame first
            case None if hasWindowFn(k.expr) =>
              wide = wide.withColumn(s"__ow$i", expr(k.expr))
              sortCol(col(s"__ow$i"), k)
            case None => sortCol(expr(k.expr), k)
          }
        }
        wide = wide.orderBy(keys: _*)
      }
      wide.select(s.projection.zipWithIndex.map { case (p, i) =>
        col(s"__p$i").as(p.outputName)
      }: _*)
    }
  }

  /** Aggregating SELECT: groupBy/rollup + agg, HAVING, ORDER BY, trim. */
  private def aggregate(df: DataFrame, rel: RelPlan, s: Select): DataFrame = {
    if (s.distinctOn.nonEmpty)
      throw new GraftAnalysisException(
        "DISTINCT ON is not supported with GROUP BY / aggregates — " +
          "aggregate in a derived table first")
    // GROUP BY ALL: keys = every projection expression containing no
    // aggregate (DuckDB semantics), resolved here where the registry knows
    // which names aggregate
    val gb = s.groupBy.map { g =>
      if (!g.all) g
      else {
        if (s.projection.exists(p => p.expr.isInstanceOf[Star] || p.expr.isInstanceOf[StarMod]))
          throw new GraftAnalysisException("GROUP BY ALL is not valid with SELECT *")
        def hasWindowFn(e: Expr): Boolean =
          Expr.fold(e, false) { case (acc, x) => acc || x.isInstanceOf[WindowFn] }
        if (s.projection.exists(p => hasWindowFn(p.expr)))
          throw new GraftAnalysisException(
            "GROUP BY ALL cannot infer keys from a window-function projection; " +
              "name the grouping columns explicitly")
        val nonAgg = s.projection.map(_.expr)
          .filterNot(e => Expr.hasAggregate(e, graft.functions.Registry.isAggregate))
        if (nonAgg.isEmpty)
          throw new GraftAnalysisException(
            "GROUP BY ALL found no non-aggregate projection to group by")
        // constants group everything into one group AND would misparse as
        // GROUP BY ordinals downstream — drop them from the inferred keys
        // (empty result = a global aggregate, which is exactly DuckDB's
        // answer for constant-only non-aggregate projections)
        g.copy(exprs = nonAgg.filterNot(_.isInstanceOf[Lit]))
      }
    }
    // explicit GROUP BY keys naming post-agg columns (session w_start/
    // w_end) are implied by the struct grouping key — drop them here.
    // Ordinal keys (GROUP BY 1) dereference to the projection expression;
    // alias keys (GROUP BY g, DuckDB/Spark-SQL ergonomics) likewise, with
    // INPUT COLUMNS taking precedence over projection aliases.
    val explicitKeys = gb.map(_.exprs.map(derefOrdinal(s, _))
      .filterNot(e => postAggTarget(rel, e).isDefined)
      .map(e => expr(derefAliasKey(s, df, e)))).getOrElse(Nil)
    // implicit window keys first (FSQL: aggregation is always per-window)
    val keys = dedupeCols(rel.implicitKeys ++ explicitKeys)

    val projCols = s.projection.zipWithIndex.map {
      case (Projection(Star(_) | StarMod(_, _, _), _), i) =>
        throw new GraftAnalysisException("SELECT * is not valid with GROUP BY / aggregates")
      // post-agg columns (streaming session w_start/w_end): placeholder in
      // the agg, overwritten from the grouped struct afterwards
      case (p, i) if postAggTarget(rel, p.expr).isDefined =>
        first(lit(null)).as(s"__p$i")
      case (p, i) => expr(p.expr).as(s"__p$i")
    }
    val havingCol = gb.flatMap(_.having).map(h => expr(h).as("__h")).toSeq
    // ORDER BY keys that aren't projection aliases must be computed in-agg
    val orderCols = s.orderBy.zipWithIndex.flatMap { case (k, i) =>
      if (aliasTarget(s, k.expr).isDefined) None
      else Some(expr(k.expr).as(s"__o$i"))
    }

    val aggCols = projCols ++ havingCol ++ orderCols
    // Global aggregation goes through select(), not groupBy().agg():
    // identical Aggregate plan, but select() tolerates lazy `.outer()`
    // references in the child while RelationalGroupedDataset.agg resolves
    // eagerly and fails — this is what makes `max(x)` subqueries usable
    // inside LATERAL joins and correlated scalar positions (Spark 4.1
    // classic-mode behavior, verified).
    var out =
      if (gb.exists(g => g.rollup || g.cube || g.sets.isDefined)) {
        if (rel.implicitKeys.nonEmpty)
          throw new GraftAnalysisException(
            "ROLLUP/CUBE/GROUPING SETS over a windowed stream is not supported")
        val grouped = gb.flatMap(_.sets) match {
          case Some(ss) => df.groupingSets(
            ss.map(_.map(e => expr(derefAliasKey(s, df, derefOrdinal(s, e))))), keys: _*)
          case None => if (gb.exists(_.cube)) df.cube(keys: _*) else df.rollup(keys: _*)
        }
        val agged = grouped.agg(aggCols.head, aggCols.tail: _*)
        ansiEmptyGrandTotal(df, agged, s, gb)
      } else if (keys.isEmpty) df.select(aggCols: _*)
      else df.groupBy(keys: _*).agg(aggCols.head, aggCols.tail: _*)

    // overwrite post-agg placeholders from the grouped struct
    s.projection.zipWithIndex.foreach { case (p, i) =>
      postAggTarget(rel, p.expr).foreach { path =>
        out = out.withColumn(s"__p$i", col(path))
      }
    }
    if (havingCol.nonEmpty) out = out.filter(col("__h"))
    // QUALIFY after aggregation: window functions over the aggregated
    // output; refs to projection aliases redirect to the internal columns
    s.qualify.foreach { p => out = filterViaColumn(out, expr(qualifyOnWide(s, p))) }
    if (s.orderBy.nonEmpty) {
      val sortKeys = s.orderBy.zipWithIndex.map { case (k, i) =>
        val c = aliasTarget(s, k.expr).map(j => col(s"__p$j")).getOrElse(col(s"__o$i"))
        sortCol(c, k)
      }
      out = out.orderBy(sortKeys: _*)
    }
    out.select(s.projection.zipWithIndex.map { case (p, i) =>
      col(s"__p$i").as(p.outputName)
    }: _*)
  }

  /** ANSI empty-input semantics for grouping-set families that include the
    * empty grouping set (): `GROUP BY ROLLUP/CUBE/…` over ZERO input rows
    * must still emit the single grand-total row (count=0, other aggregates
    * over empty input, keys NULL) — `GROUP BY ()` ≡ global aggregation.
    * Spark's native rollup/cube return zero rows there; DuckDB/Postgres
    * follow the standard (caught by the round-8 differential fuzz).
    *
    * Scale-free construction — NO second scan of the input:
    *  - the grand row = global aggregation over `df.limit(0)`: Catalyst's
    *    PropagateEmptyRelation folds the child to an empty local relation,
    *    so the row materializes without touching the source; non-aggregate
    *    (grouping-key) columns become typed NULLs;
    *  - it is kept ONLY when the input is empty, via a LEFT ANTI join
    *    against `df.limit(1)` — a first-row probe that short-circuits the
    *    scan on non-empty input (and a full scan only when the input IS
    *    empty, i.e. when the main branch found nothing anyway).
    *
    * `grouping()`/`grouping_id()` in the projection/HAVING/ORDER BY are
    * CONSTANTS on the grand row (every grouping column is grouped away:
    * flag 1, id all-ones) and are substituted as literals before
    * evaluation — so `HAVING grouping(k) = 1` keeps the synthetic row and
    * `= 0` drops it, matching DuckDB (caught by fuzz f078/seed 9303).
    * Shapes the static row still cannot represent (HAVING/ORDER-BY mixing
    * aggregates with bare key refs — invalid in a global context) fall
    * back to Spark semantics via the Try. */
  private def ansiEmptyGrandTotal(df: DataFrame, agged: DataFrame,
      s: Select, gb: Option[GroupBy]): DataFrame = {
    val includesEmptySet = gb.flatMap(_.sets) match {
      case Some(ss) => ss.exists(_.isEmpty)
      case None     => true // ROLLUP and CUBE always include ()
    }
    if (!includesEmptySet) return agged
    def usesGroupingFn(e: Expr): Boolean = Expr.fold(e, false) {
      case (acc, FuncCall(n, _, _)) =>
        acc || n.equalsIgnoreCase("grouping") || n.equalsIgnoreCase("grouping_id")
      case (acc, _) => acc
    }
    // on the () grouping set every grouping column is aggregated away:
    // grouping(c) = 1 and grouping_id(...) has every bit set (no-arg
    // grouping_id covers ALL grouping columns)
    def substGroupingFlags(e: Expr): Expr = Expr.transform(e) {
      case FuncCall(n, args, _) if n.equalsIgnoreCase("grouping") && args.nonEmpty =>
        Lit(1L)
      case FuncCall(n, args, _) if n.equalsIgnoreCase("grouping_id") =>
        val nCols = if (args.nonEmpty) args.length
                    else gb.map(_.exprs.length).getOrElse(0)
        Lit((1L << nCols) - 1L)
    }
    val isAgg: String => Boolean = graft.functions.Registry.isAggregate
    // (internal name, source expr) in the exact column order of `agged`
    val meta: Seq[(String, Expr)] =
      s.projection.zipWithIndex.map { case (p, i) => (s"__p$i", p.expr) } ++
        gb.flatMap(_.having).map(h => ("__h", h)).toSeq ++
        s.orderBy.zipWithIndex.flatMap { case (k, i) =>
          if (aliasTarget(s, k.expr).isDefined) None else Some((s"__o$i", k.expr))
        }
    // `rollup/cube().agg()` RETAINS the grouping columns ahead of the agg
    // columns — build the grand row against agged's actual schema: meta
    // (internal __p/__h/__o) columns evaluate their aggregate expr over
    // the empty input; everything else (retained keys) is a typed NULL
    val metaMap = meta.toMap
    if (!meta.forall { case (n, _) => agged.columns.contains(n) }) return agged
    scala.util.Try {
      val grandCols = agged.schema.fields.toSeq.map { f =>
        metaMap.get(f.name) match {
          case Some(e) if Expr.hasAggregate(e, isAgg) || usesGroupingFn(e) =>
            // cast: substituted grouping literals are BIGINT; the main
            // branch's column may be narrower (e.g. bare grouping() →
            // tinyint) and union requires exact types
            expr(substGroupingFlags(e)).cast(f.dataType).as(f.name)
          case _ => lit(null).cast(f.dataType).as(f.name)
        }
      }
      // `limit(0).select(...)` is only a 1-row GLOBAL AGGREGATE when some
      // column contains a real aggregate function; a projection of pure
      // grouping()/grouping_id() literals and NULLs would stay a plain
      // Project over the empty relation and yield 0 rows (round-8
      // advisory) — force the 1-row shape by projecting the literals
      // OVER a hidden global count
      // grouping()/grouping_id() register as aggregates but substitute
      // to LITERALS on the grand row — test the substituted form, else a
      // grouping-only projection picks the plain-Project branch (0 rows)
      val hasRealAgg = agged.schema.fields.exists { f =>
        metaMap.get(f.name).exists(e =>
          Expr.hasAggregate(substGroupingFlags(e), isAgg))
      }
      val grand = // no-scan 1-row branch either way
        if (hasRealAgg) df.limit(0).select(grandCols: _*)
        else df.limit(0).agg(count(lit(1)).as("__fga")).select(grandCols: _*)
      val probe = df.limit(1).select(lit(1).as("__ne"))
      val grandWhenEmpty = grand.join(probe, lit(true), "left_anti")
      // force analysis NOW so an invalid grand branch (mixed having etc.)
      // falls back instead of failing the whole statement at action time
      grandWhenEmpty.schema
      agged.union(grandWhenEmpty)
    }.getOrElse(agged)
  }

  /** Does the expression contain a window (OVER) function anywhere? */
  private def hasWindowFn(e: Expr): Boolean = Expr.fold(e, false) {
    case (_, _: WindowFn) => true
    case (acc, _)         => acc
  }

  /** Struct path for a bare column ref that only exists post-aggregation
    * (streaming session windows). */
  private def postAggTarget(rel: RelPlan, e: Expr): Option[String] = e match {
    case ColRef(None, n) => rel.postAggCols.get(n)
    case _               => None
  }

  /** Index of the projection a sort/group key names — either by output
    * alias or by 1-based ordinal (`ORDER BY 2`, `GROUP BY 1` — ANSI).
    * Out-of-range ordinals error (ANSI/Spark SQL behavior), they never
    * degrade to a constant key. */
  private def aliasTarget(s: Select, e: Expr): Option[Int] = e match {
    case ColRef(None, n) =>
      val i = s.projection.indexWhere(_.outputName.equalsIgnoreCase(n))
      if (i >= 0) Some(i) else None
    case Lit(n: Long) =>
      if (n < 1 || n > s.projection.length)
        throw new GraftAnalysisException(
          s"ORDER BY position $n is not in the select list (1..${s.projection.length})")
      Some((n - 1).toInt)
    case _ => None
  }

  /** GROUP BY keys given as ordinals dereference to the projection's
    * expression (ANSI `GROUP BY 1`). */
  private def derefOrdinal(s: Select, e: Expr): Expr = e match {
    case Lit(n: Long) =>
      if (n < 1 || n > s.projection.length)
        throw new GraftAnalysisException(
          s"GROUP BY position $n is not in the select list (1..${s.projection.length})")
      s.projection((n - 1).toInt).expr
    case other => other
  }

  /** GROUP BY keys naming a projection ALIAS (DuckDB / Spark-SQL
    * `groupByAliases` ergonomics): a bare ref that is NOT an input column
    * but matches a projection's output name dereferences to that
    * projection's expression. Input columns shadow aliases (both engines'
    * precedence); an alias whose projection aggregates is an error. */
  private def derefAliasKey(s: Select, df: DataFrame, e: Expr): Expr = e match {
    case ColRef(None, n) if !df.columns.exists(_.equalsIgnoreCase(n)) =>
      val i = s.projection.indexWhere(_.outputName.equalsIgnoreCase(n))
      if (i < 0) e
      else {
        val target = s.projection(i).expr
        if (Expr.hasAggregate(target, graft.functions.Registry.isAggregate))
          throw new GraftAnalysisException(
            s"GROUP BY $n: cannot group by an aggregate projection")
        target
      }
    case other => other
  }

  private def sortCol(c: Column, k: SortKey): Column = (k.ascending, k.nullsFirst) match {
    case (true, None)         => c.asc              // Spark default: nulls first
    case (true, Some(true))   => c.asc_nulls_first
    case (true, Some(false))  => c.asc_nulls_last
    case (false, None)        => c.desc             // Spark default: nulls last
    case (false, Some(true))  => c.desc_nulls_first
    case (false, Some(false)) => c.desc_nulls_last
  }

  private def sortValOnOutput(df: DataFrame, k: SortKey): Column = k.expr match {
    case ColRef(None, n) => df(n)
    // ORDER BY <ordinal> (1-based projection position, ANSI); out-of-range
    // is an error, not a silent constant sort
    case Lit(n: Long) =>
      if (n < 1 || n > df.columns.length)
        throw new GraftAnalysisException(
          s"ORDER BY position $n is not in the select list (1..${df.columns.length})")
      df(df.columns((n - 1).toInt))
    case e               => expr(e)
  }

  private def sortOnOutput(df: DataFrame, k: SortKey): Column =
    sortCol(sortValOnOutput(df, k), k)

  private def applyLimit(df: DataFrame, limit: Option[Limit],
                         sortKeys: Seq[SortKey] = Nil): DataFrame =
    limit.fold(df) { l =>
      if (l.withTies) {
        // ANSI FETCH … WITH TIES via boundary-value semantics: a
        // distributed top-n over just the sort keys (TakeOrderedAndProject
        // — narrow, no global window) finds the n-th key tuple; a reversed
        // top-1 of those n extracts it as a scalar subquery; a plain filter
        // keeps every row at-or-before it in sort order (ties included by
        // construction). No single-partition WindowExec at any scale.
        if (sortKeys.isEmpty)
          throw new GraftAnalysisException("FETCH … WITH TIES requires ORDER BY")
        if (l.offset.nonEmpty)
          throw new GraftAnalysisException(
            "FETCH … WITH TIES combined with OFFSET is not supported")
        val n = litInt(l.n.getOrElse(
          throw new GraftAnalysisException("FETCH … WITH TIES requires a row count")),
          "FETCH … WITH TIES row count")
        val ks = sortKeys.zipWithIndex
        val keyed = df.select(ks.map { case (k, i) =>
          sortValOnOutput(df, k).as(s"__ft$i") }: _*)
        val fwd = ks.map { case (k, i) => sortCol(col(s"__ft$i"), k) }
        val rev = ks.map { case (k, i) => sortCol(col(s"__ft$i"),
          k.copy(ascending = !k.ascending, nullsFirst = k.nullsFirst.map(!_))) }
        val bound = keyed.orderBy(fwd: _*).limit(n)
          .orderBy(rev: _*).limit(1)
          .select(struct(ks.map { case (_, i) => col(s"__ft$i") }: _*).as("__ftb"))
          .scalar()
        // `a` strictly after boundary `b` under key k's direction + null
        // placement; NULL comparisons resolve via the null-placement rule,
        // never to UNKNOWN.
        def strictlyAfter(a: Column, b: Column, k: SortKey): Column = {
          val cmp = if (k.ascending) a > b else a < b
          if (k.nullsFirst.getOrElse(k.ascending))
            a.isNotNull && (b.isNull || cmp)
          else (a.isNull && b.isNotNull) || coalesce(cmp, lit(false))
        }
        val after = ks.foldRight(lit(false)) { case ((k, i), rest) =>
          val a = sortValOnOutput(df, k)
          val b = bound.getField(s"__ft$i")
          strictlyAfter(a, b, k) || (a <=> b && rest)
        }
        // NULL bound = empty boundary set (n=0 or empty input): keep nothing
        val filtered = df.where(bound.isNotNull && !after)
        filtered.orderBy(sortKeys.map(k => sortOnOutput(filtered, k)): _*)
      } else {
        val withOffset = l.offset.fold(df)(o => df.offset(litInt(o, "OFFSET")))
        l.n.fold(withOffset)(n => withOffset.limit(litInt(n, "LIMIT")))
      }
    }

  private def litLong(e: Expr): Long = e match {
    case Lit(v: Long)   => v
    case Lit(v: Double) => v.toLong
    case other => throw new GraftAnalysisException(s"expected numeric literal, got $other")
  }

  /** A row-count literal for limit/offset: Spark's operators take Int, so a
    * value past Int.MaxValue would silently wrap — reject it loudly. */
  private def litInt(e: Expr, what: String): Int = {
    val n = litLong(e)
    if (n < 0 || n > Int.MaxValue)
      throw new GraftAnalysisException(
        s"$what $n is out of range (0..${Int.MaxValue})")
    n.toInt
  }

  private def dual: DataFrame = spark.range(1).toDF("__dual")

  private def dedupeCols(cols: Seq[Column]): Seq[Column] = {
    val seen = scala.collection.mutable.Set.empty[String]
    cols.filter(c => seen.add(c.toString))
  }

  // ------------------------------------------------------------------
  // FROM / relations / windows
  // ------------------------------------------------------------------

  /** `base` under its FROM alias, with its window spec applied and the
    * window's columns bound to the aliased DataFrame. */
  private def windowedRel(base: DataFrame, alias: String,
      window: Option[WindowSpec]): RelPlan = {
    val w = window.fold(Windowed(base, Nil))(applyWindowFull(base, _))
    val aliased = w.df.alias(alias)
    RelPlan(aliased, w.keys.map(aliased(_)) ++ w.exprKeys, window.isDefined,
      w.postAgg, w.eventTime.map { case (c, spanUs) => EventTime(aliased(c), spanUs) })
  }

  def relation(r: Relation): RelPlan = r match {
    case t @ TableRef(name, _, window) =>
      windowedRel(cteScope.getOrElse(name.toLowerCase(java.util.Locale.ROOT),
        catalog.relation(name)), t.refName, window)

    case DerivedRel(q, alias, window) =>
      windowedRel(query(q), alias, window)

    case ValuesRel(rows, alias, cols) =>
      val width = rows.head.length
      rows.zipWithIndex.foreach { case (r, i) =>
        if (r.length != width)
          throw new GraftAnalysisException(
            s"VALUES row ${i + 1} has ${r.length} expressions, expected $width")
      }
      val names = cols.getOrElse((1 to width).map(i => s"col$i"))
      if (names.length != width)
        throw new GraftAnalysisException(
          s"VALUES alias declares ${names.length} columns for $width expressions")
      // ONE plan node: explode an array of row structs over range(1) —
      // a linear unionByName chain would add one scan leg per row and make
      // Catalyst analysis cost grow with the literal count
      val rowStructs = rows.map(r =>
        struct(r.zip(names).map { case (e, nm) => expr(e).as(nm) }: _*))
      val df = spark.range(1)
        .select(explode(array(rowStructs: _*)).as("__row"))
        .select(names.map(nm => col("__row").getField(nm).as(nm)): _*)
      RelPlan(df.alias(alias), Nil, windowed = false)

    case PivotRel(rel0, agg, pcol, values) =>
      val p = relation(rel0)
      if (p.windowed)
        throw new GraftAnalysisException("PIVOT cannot follow a window spec")
      // implicit grouping = every column not consumed by the aggregate or
      // the pivot column (Spark SQL PIVOT semantics)
      val argCols = agg.args.flatMap(a => Expr.fold(a, Seq.empty[String]) {
        case (acc, ColRef(_, n)) => acc :+ n.toLowerCase(java.util.Locale.ROOT)
        case (acc, _)            => acc
      }).toSet
      val exclude = argCols + pcol.name.toLowerCase(java.util.Locale.ROOT)
      val groupCols = p.df.columns.filterNot(c =>
        exclude(c.toLowerCase(java.util.Locale.ROOT)))
      val vals = values.map {
        case (Lit(v), _) if v != null => v
        case (other, _) => throw new GraftAnalysisException(
          s"PIVOT IN values must be non-null literals, got: ${graft.ast.Pretty.expr(other)}")
      }
      // the explicit value list keeps the plan static — one codegen'd
      // aggregate per value, no distinct-scan of the pivot column
      var out = p.df.groupBy(groupCols.map(col): _*)
        .pivot(pcol.name, vals).agg(expr(agg))
      values.foreach {
        case (Lit(v), Some(alias)) => out = out.withColumnRenamed(String.valueOf(v), alias)
        case _ =>
      }
      RelPlan(out, Nil, windowed = false)

    case UnpivotRel(rel0, valCol, nameCol, cols) =>
      val p = relation(rel0)
      if (p.windowed)
        throw new GraftAnalysisException("UNPIVOT cannot follow a window spec")
      val have = p.df.columns.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
      cols.find(c => !have(c.toLowerCase(java.util.Locale.ROOT))).foreach(c =>
        throw new GraftAnalysisException(s"UNPIVOT: unknown column: $c"))
      val unpivotCols = cols.map(_.toLowerCase(java.util.Locale.ROOT)).toSet
      val ids = p.df.columns.filterNot(c =>
        unpivotCols(c.toLowerCase(java.util.Locale.ROOT)))
      // narrow per-row expansion (no shuffle); value columns are cast to
      // their least common type by Spark, mismatches raise analysis errors
      RelPlan(p.df.unpivot(ids.map(col), cols.map(col).toArray, nameCol, valCol),
        Nil, windowed = false)

    case SampleRel(rel0, pct, seed) =>
      if (pct < 0 || pct > 100)
        throw new GraftAnalysisException(s"sample percent must be in [0, 100], got $pct")
      val p = relation(rel0)
      // Bernoulli sample: narrow per-partition filter, no shuffle; seeded
      // for run-to-run reproducibility
      val sampled = seed match {
        case Some(sd) => p.df.sample(pct / 100.0, sd)
        case None     => p.df.sample(pct / 100.0)
      }
      p.copy(df = sampled)

    // standalone `FROM lateral (q) s` — no left side, plain derived table
    case LateralRel(q, alias) =>
      RelPlan(query(q).alias(alias), Nil, windowed = false)

    // session-registered relation-valued table functions (the SQL surface
    // for the M4 pipeline operators and user extensions): bare identifier
    // arguments resolve to catalog relations, everything else must be a
    // literal; the function builds the DataFrame directly — Catalyst then
    // optimizes through it like any other subplan
    case tf @ TableFnRel(name, args, _)
        if !Set("range", "generate_series")(name) =>
      val fn = catalog.tableFunction(name).getOrElse(
        throw new GraftAnalysisException(
          s"unknown table function: $name (registered: " +
            s"${(catalog.tableFunctionNames ++ Seq("range", "generate_series")).sorted.mkString(", ")})"))
      val resolved: Seq[graft.catalog.TfArg] = args.map {
        case ColRef(None, n) if catalog.hasRelation(n) =>
          graft.catalog.TfArg.Rel(n, catalog.relation(n))
        case ColRef(None, n) => throw new GraftAnalysisException(
          s"table function $name: '$n' is not a known relation")
        // nested table-function call — `url_dedup(warc_responses(w))` —
        // resolves recursively to its relation (Catalyst still sees one
        // composed plan; the nesting is purely analysis-time)
        case FuncCall(n, innerArgs, false)
            if catalog.tableFunction(n).isDefined =>
          graft.catalog.TfArg.Rel(n,
            relation(TableFnRel(n, innerArgs, None)).df)
        case Lit(v)            => graft.catalog.TfArg.Lit(v)
        case Neg(Lit(v: Long)) => graft.catalog.TfArg.Lit(-v)
        case Neg(Lit(v: Double)) => graft.catalog.TfArg.Lit(-v)
        case other => throw new GraftAnalysisException(
          s"table function $name: arguments must be relation names, " +
            s"literals, or nested table-function calls, got " +
            s"${graft.ast.Pretty.expr(other)}")
      }
      RelPlan(fn(resolved).alias(tf.refName), Nil, windowed = false)

    // numeric series sources → spark.range: a parallel Range node that
    // splits across executors (NOT a literal array — a 10^9-row series is
    // still a one-line plan with full parallelism)
    case tf @ TableFnRel(name, args, _) =>
      def lv(e: Expr): Long = e match {
        case Lit(v: Long)      => v
        case Neg(Lit(v: Long)) => -v
        case other => throw new GraftAnalysisException(
          s"$name expects literal integer arguments, got ${graft.ast.Pretty.expr(other)}")
      }
      val (start, endRaw, step) = args.map(lv) match {
        case Seq(n)       => (0L, n, 1L)
        case Seq(a, b)    => (a, b, 1L)
        case Seq(a, b, s) => (a, b, s)
        case _ => throw new GraftAnalysisException(s"$name takes 1-3 arguments")
      }
      if (step == 0) throw new GraftAnalysisException(s"$name: step must be non-zero")
      // range is end-EXCLUSIVE, generate_series end-INCLUSIVE (DuckDB)
      val end = if (name == "generate_series") endRaw + (if (step > 0) 1 else -1) else endRaw
      val df = spark.range(start, end, step).toDF(name)
      RelPlan(df.alias(tf.refName), Nil, windowed = false)

    case JoinRel(l, lat: LateralRel, kind, cond) =>
      val lp = relation(l)
      if (lp.windowed)
        throw new GraftAnalysisException("LATERAL cannot follow a window spec")
      // translate the subquery with the left side's aliases marked as
      // outer references; Catalyst decorrelates the resulting plan
      // (DomainJoin), so ORDER BY/LIMIT inside apply per outer row
      val sub = withOuterQuals(relQuals(l))(query(lat.query)).alias(lat.alias)
      val joined = (kind, cond) match {
        case (CrossJoin | InnerJoin, None) => lp.df.lateralJoin(sub)
        case (InnerJoin, Some(On(p)))      => lp.df.lateralJoin(sub, expr(p), "inner")
        case (LeftJoin, Some(On(p)))       => lp.df.lateralJoin(sub, expr(p), "left")
        case (LeftJoin, None)              => lp.df.lateralJoin(sub, lit(true), "left")
        case (k, _) =>
          throw new GraftAnalysisException(
            s"LATERAL supports [CROSS|INNER|LEFT] JOIN with an optional ON predicate, got $k")
      }
      RelPlan(joined, lp.implicitKeys, lp.windowed)

    case JoinRel(l, r, AsofJoin(leftOuter), cond) =>
      val lp = relation(l)
      val rp = relation(r)
      if (lp.windowed || rp.windowed)
        throw new GraftAnalysisException("ASOF JOIN cannot take window specs")
      val rAlias = (r match {
        case t: TableRef   => Some(t.refName)
        case d: DerivedRel => Some(d.alias)
        case _             => None
      }).getOrElse(throw new GraftAnalysisException(
        "ASOF JOIN: the right side must be a named table or aliased subquery"))
      val pred = cond match {
        case Some(On(p)) => p
        case _ => throw new GraftAnalysisException(
          "ASOF JOIN requires ON key-equalities AND one l.t >= r.t time condition")
      }
      def isRight(c: ColRef): Boolean =
        c.qualifier.exists(_.equalsIgnoreCase(rAlias))
      def sides(a: Expr, b: Expr, what: String): (ColRef, ColRef) = (a, b) match {
        case (ca: ColRef, cb: ColRef) if isRight(cb) && !isRight(ca) => (ca, cb)
        case (ca: ColRef, cb: ColRef) if isRight(ca) && !isRight(cb) => (cb, ca)
        case _ => throw new GraftAnalysisException(
          s"ASOF JOIN $what must compare a left column to a right column " +
            s"(qualify with the right side's name `$rAlias`): " +
            s"${graft.ast.Pretty.expr(Cmp("=", a, b))}")
      }
      var keyPairs = Seq.empty[(String, String)]   // (leftName, rightName)
      var timePair: Option[(String, String)] = None
      splitAnd(pred).foreach {
        case Cmp("=", a, b) => keyPairs :+= { val (lc, rc) = sides(a, b, "key"); (lc.name, rc.name) }
        case Cmp(">=", a, b) =>
          val (lc, rc) = sides(a, b, "time condition")
          // the left ref must sit on the >= side: latest right AT-OR-BEFORE
          if (!isRight(a.asInstanceOf[ColRef]))
            timePair = Some((lc.name, rc.name))
          else throw new GraftAnalysisException(
            "ASOF JOIN time condition must be left.t >= right.t (latest at-or-before)")
        case Cmp("<=", a, b) =>
          val (lc, rc) = sides(a, b, "time condition")
          if (isRight(a.asInstanceOf[ColRef]))
            timePair = Some((lc.name, rc.name))
          else throw new GraftAnalysisException(
            "ASOF JOIN time condition must be left.t >= right.t (latest at-or-before)")
        case other => throw new GraftAnalysisException(
          "ASOF JOIN ON supports only key equalities and one >= time condition, got: " +
            graft.ast.Pretty.expr(other))
      }
      val (lTime, rTime) = timePair.getOrElse(throw new GraftAnalysisException(
        "ASOF JOIN needs exactly one l.t >= r.t time condition"))
      // align right-side names with left's, add a match marker for the
      // inner variant, and drop the alias wrappers (AsOf rebuilds the rows)
      var rdf = rp.df.withColumn("__asof_m", lit(1))
      (keyPairs :+ ((lTime, rTime))).foreach { case (ln, rn) =>
        if (ln != rn) rdf = rdf.withColumnRenamed(rn, ln)
      }
      val joined = graft.operators.AsOf.join(
        lp.df, rdf, keyPairs.map(_._1), lTime)
      val out =
        if (leftOuter) joined.drop("__asof_m")
        else joined.where(col("__asof_m") === 1).drop("__asof_m")
      RelPlan(out, Nil, windowed = false)

    case JoinRel(l, r, kind, cond) =>
      val lp = relation(l)
      val rp = relation(r)
      // Windowed join (SURVEY W6): both inputs carry window specs → equi-join
      // on the window bucket, so only co-windowed rows pair up. This is the
      // scale-safe plan: the bucket equality turns a theta/cross join into a
      // hash-partitionable equi-join. On streams `w_start` carries no
      // watermark, so the bucket alone never lets Spark evict join state.
      // Rows of windows with equal starts lie less than the larger window
      // size apart, so the equivalent event-time range is added: Spark
      // drops each side's rows once the watermark passes the range.
      val windowEq: Option[Column] =
        if (lp.windowed && rp.windowed) {
          val bucket = lp.df("w_start") === rp.df("w_start")
          Some((lp.eventTime, rp.eventTime) match {
            case (Some(l), Some(r)) =>
              val span = lit(java.time.Duration.of(math.max(l.spanUs, r.spanUs),
                java.time.temporal.ChronoUnit.MICROS))
              bucket && l.col > r.col - span && l.col < r.col + span
            case _ => bucket
          })
        } else None

      val joined = cond match {
        case Some(Natural) =>
          // NATURAL JOIN: equi-join on every same-named column pair,
          // resolved against both schemas here (not at runtime)
          if (windowEq.isDefined)
            throw new GraftAnalysisException("NATURAL JOIN cannot take window specs")
          val rNames = rp.df.columns.map(c => c.toLowerCase(java.util.Locale.ROOT) -> c).toMap
          val common = lp.df.columns.filter(c =>
            rNames.contains(c.toLowerCase(java.util.Locale.ROOT))).toSeq
          if (common.isEmpty)
            throw new GraftAnalysisException(
              "NATURAL JOIN: the two sides share no column names")
          lp.df.join(rp.df, common, joinName(kind))
        case Some(On(p)) =>
          val userCond = expr(p)
          lp.df.join(rp.df, windowEq.fold(userCond)(_ && userCond), joinName(kind))
        case Some(Using(cols)) =>
          windowEq match {
            case None => lp.df.join(rp.df, cols, joinName(kind))
            case Some(we) =>
              val eq = cols.map(c => lp.df(c) === rp.df(c)).reduce(_ && _)
              lp.df.join(rp.df, we && eq, joinName(kind))
          }
        case None =>
          (kind, windowEq) match {
            case (CrossJoin, Some(we)) => lp.df.join(rp.df, we, "inner")
            case (CrossJoin, None)     => lp.df.crossJoin(rp.df)
            case (k, Some(we))         => lp.df.join(rp.df, we, joinName(k))
            case (k, None) =>
              throw new GraftAnalysisException(s"$k requires an ON or USING clause")
          }
      }
      // keep left's window keys and event time; right's are equated (or absent)
      val keep = if (lp.implicitKeys.nonEmpty) lp else rp
      RelPlan(joined, keep.implicitKeys, lp.windowed || rp.windowed,
        eventTime = keep.eventTime)
  }

  private def joinName(k: JoinKind): String = k match {
    case InnerJoin => "inner"
    case LeftJoin  => "left_outer"
    case RightJoin => "right_outer"
    case FullJoin  => "full_outer"
    case CrossJoin => "cross"
    // filtering joins: left rows with(out) a match; right side never
    // projects — Catalyst plans these as broadcast/shuffled hash semi joins
    case SemiJoin  => "left_semi"
    case AntiJoin  => "left_anti"
    case _: AsofJoin => throw new GraftAnalysisException(
      "ASOF JOIN is handled by its own translation path") // unreachable
  }

  /** FSQL time-unit name → microseconds (fsql/parser.scala:356). */
  private def unitMicros(u: String): Long = u match {
    case "microsec"               => 1L
    case "milisec" | "millisec"   => 1000L
    case "sec"                    => 1000L * 1000
    case "min"                    => 60L * 1000 * 1000
    case "h"                      => 3600L * 1000 * 1000
    case "d"                      => 24L * 3600 * 1000 * 1000
    case other => throw new GraftAnalysisException(s"unknown time unit: $other")
  }

  /** Materialize a `[size … every … partitioned on …]` spec as columns.
    *
    * Time windows (W1/W3/W4): bucket arithmetic on epoch-microseconds.
    * Tumbling: one bucket per row (a cheap narrow projection — no shuffle).
    * Sliding: rows explode into size/every buckets (same expansion Spark's
    * own TimeWindowing rule generates). Window start/end come back as
    * `w_start`/`w_end` timestamp columns, which also makes the semantics
    * directly checkable against a DuckDB oracle with the same arithmetic.
    *
    * Count windows (W2, `[size N]`, no unit): the reference's one operator
    * with no Spark primitive. Batch semantics: rows are numbered per
    * partition key in `on`-field order and chunked into `w_id = rn / N`.
    * NOTE scale caveat: without `partitioned on`, numbering is a single
    * global sort — inherently sequential semantics; with a partition key it
    * parallelizes per key (documented in SURVEY §7.4).
    */
  /** Public hook for windowed INSERT targets (W7/S6). */
  def applyWindowPublic(df: DataFrame, w: WindowSpec): (DataFrame, Seq[String]) = {
    val applied = applyWindowFull(df, w)
    (applied.df, applied.keys)
  }

  /** Full window application. Expression keys (the streaming
    * session_window struct) group directly; post-agg cols materialize
    * after agg. */
  private def applyWindowFull(df: DataFrame, w: WindowSpec): Windowed =
    if (w.session && df.isStreaming) applyStreamingSessionWindow(df, w)
    else applyWindow(df, w)

  /** `df` with a watermark of `delayUs` on `timeField`, and the name of the
    * watermarked column: `timeField` itself when it is a timestamp, else
    * its timestamp cast `__evt`. */
  private def watermarked(df: DataFrame, timeField: String, delayUs: Long): (DataFrame, String) =
    if (df.schema(timeField).dataType.typeName == "timestamp")
      (df.withWatermark(timeField, s"$delayUs microseconds"), timeField)
    else (df.withColumn("__evt", col(timeField).cast("timestamp"))
      .withWatermark("__evt", s"$delayUs microseconds"), "__evt")

  /** Streaming session windows in the dialect: group by the native
    * session_window struct (+watermark); w_start/w_end exist only after
    * the aggregation (the session extent depends on the whole group), so
    * they are post-agg columns resolved from the struct. */
  private def applyStreamingSessionWindow(df: DataFrame, w: WindowSpec): Windowed = {
    val unit = w.size.timeUnit.getOrElse(
      throw new GraftAnalysisException("session windows need a time unit (the gap)"))
    val gapUs = w.size.value * unitMicros(unit)
    val timeField = w.size.onField.map(_.name)
      .orElse(df.schema.fields.find(_.dataType.typeName == "timestamp").map(_.name))
      .getOrElse(throw new GraftAnalysisException(
        "session window needs an `on <column>` field or a timestamp column"))
    val delayUs = w.watermark.map(m => m.value * unitMicros(m.timeUnit.getOrElse(unit)))
      .getOrElse(gapUs)
    val partCols = w.partition.map(_.name).toSeq
    if (partCols.isEmpty)
      throw new GraftAnalysisException(
        "streaming session windows need `partitioned on <col>` " +
          "(Spark does not support global session aggregation on streams)")
    val (wdf, evtName) = watermarked(df, timeField, delayUs)
    val sessKey = session_window(col(evtName), s"$gapUs microseconds")
    Windowed(wdf, partCols, Seq(sessKey),
      Map("w_start" -> "session_window.start", "w_end" -> "session_window.end"))
  }

  /** Session (gap-based) windows, batch: classic gaps-and-islands — a row
    * starts a new session when its gap from the previous row (per partition
    * key, event-time order) EXCEEDS `gapUs` (strictly: rows spaced exactly
    * one gap apart share a session — verified against Spark's native
    * `session_window` in both batch and streaming; AdviceR8Spec asserts
    * the dialect's own boundaries, keyed and unkeyed); `w_start`/`w_end` = session min/max event time (w_end +
    * gap, matching Spark's session_window upper bound). Per-key sorting
    * parallelizes across keys via window functions; the UNKEYED form is
    * range-partitioned and boundary-merged (no global sort — see
    * [[applyGlobalSessionWindow]]). Streaming session windows never reach
    * here: the per-row two-pass form below is not expressible on a stream,
    * so [[applyWindowFull]] sends them to [[applyStreamingSessionWindow]]
    * (native session_window + watermark). */
  private def applySessionWindow(df: DataFrame, timeField: String,
      gapUs: Long, partCols: Seq[String]): (DataFrame, Seq[String]) = {
    if (partCols.isEmpty) return applyGlobalSessionWindow(df, timeField, gapUs)
    val tUs = unix_micros(col(timeField).cast("timestamp"))
    val ord = Window.partitionBy(partCols.map(col): _*).orderBy(tUs)
    val prev = lag(tUs, 1).over(ord)
    val newSession = when(prev.isNull || tUs - prev > gapUs, 1L).otherwise(0L)
    val sid = sum(newSession).over(ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val withSid = df.withColumn("__sid", sid)
    val sess = Window.partitionBy((partCols :+ "__sid").map(col): _*)
    val out = withSid
      .withColumn("w_start", timestamp_micros(min(unix_micros(col(timeField).cast("timestamp"))).over(sess)))
      .withColumn("w_end", timestamp_micros(max(unix_micros(col(timeField).cast("timestamp"))).over(sess) + gapUs))
      .drop("__sid")
    (out, Seq("w_start", "w_end") ++ partCols)
  }

  /** Unkeyed batch session windows WITHOUT a global sort (round-6 advisory:
    * this was the last dialect construct that funneled every row into one
    * task). Recipe mirrors the unkeyed count window (`:1355` below):
    *
    *  1. range-partition by the (casted) event time and sort within
    *     partitions — a distributed sort, equal keys co-located;
    *  2. pin ONE physical instance of the shuffled data (persist
    *     MEMORY_AND_DISK, registered with the catalog for explicit release
    *     via `GraftSession.releaseOperatorCaches()`), so the two passes
    *     below cannot see drifting range boundaries;
    *  3. pass 1 (translation-time job, like count windows / recursive
    *     CTEs): per-partition gaps-and-islands summary — #partitions rows
    *     to the driver;
    *  4. driver: merge sessions that straddle partition boundaries (last
    *     session of partition i joins the first session of partition i+1
    *     when the boundary gap is <= gapUs; merges chain through
    *     single-session partitions) → a small (pid, localSid) -> bounds
    *     map, broadcast;
    *  5. pass 2 (lazy): re-run the identical per-partition islands scan,
    *     stamping each row's session bounds, patched by the broadcast map
    *     for boundary sessions.
    *
    * Memory: each task buffers ONE session at a time — the same worst case
    * as the keyed path's window aggregation (a partition-sized session
    * buffers a partition either way), but now split across partitions
    * instead of concentrated in a single global-sort task. */
  private def applyGlobalSessionWindow(df: DataFrame, timeField: String,
      gapUs: Long): (DataFrame, Seq[String]) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    val sparkS = df.sparkSession
    val withT = df.withColumn("__gsw_tus",
      unix_micros(col(timeField).cast("timestamp")))
    val sorted = withT.repartitionByRange(col("__gsw_tus").asc_nulls_first)
      .sortWithinPartitions(col("__gsw_tus").asc_nulls_first)
    val tIdx = sorted.schema.fieldIndex("__gsw_tus")
    val pinned = sorted.rdd
    pinned.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    catalog.registerPinned(pinned)
    // FUNCTION VALUES, not local defs: scalac lifts local defs onto the
    // enclosing class, so a task closure calling them would capture `this`
    // (Translator, not Serializable) and every mapPartitions below would
    // throw NotSerializableException at job submit (ADVICE r7, high). A
    // val lambda captures only tIdx/gapUs by value.
    val tOf: Row => Option[Long] =
      r => if (r.isNullAt(tIdx)) None else Some(r.getLong(tIdx))
    // a session breaks before `cur` when there is no previous row, the
    // previous row's time is null, or the gap strictly exceeds gapUs —
    // byte-identical to the keyed path's `prev.isNull || t - prev > gap`
    val breaks: (Option[Option[Long]], Option[Long]) => Boolean =
      (prev, cur) => prev.forall(p => p.isEmpty || cur.exists(_ - p.get > gapUs))
    val summaries: Array[GswPart] = pinned.mapPartitionsWithIndex { (pid, it) =>
      var rows = 0L; var nSess = 0L
      var firstT: Option[Long] = None; var lastT: Option[Long] = None
      var firstSessEnd: Option[Long] = None
      var lastSessStart: Option[Long] = None
      var prev: Option[Option[Long]] = None
      it.foreach { r =>
        val cur = tOf(r)
        if (rows == 0L) firstT = cur
        if (breaks(prev, cur)) { nSess += 1; lastSessStart = cur }
        if (nSess == 1L) firstSessEnd = cur
        lastT = cur; prev = Some(cur); rows += 1
      }
      if (rows == 0L) Iterator.empty
      else Iterator.single(GswPart(pid, rows, nSess, firstT, lastT,
        firstSessEnd, lastSessStart))
    }.collect().sortBy(_.pid)
    // driver-side boundary merge: O(#partitions) work and state
    val adjust = scala.collection.mutable.Map.empty[(Int, Long), (Long, Long)]
    var chain = List.empty[(Int, Long)] // (pid, localSid) members
    var chainStart = Option.empty[Long]
    var chainEnd = Option.empty[Long]
    def closeChain(): Unit = {
      if (chain.length > 1)
        chain.foreach(m => adjust(m) = (chainStart.get, chainEnd.get))
      chain = Nil; chainStart = None; chainEnd = None
    }
    var prevLastT = Option.empty[Long]
    summaries.foreach { p =>
      val mergeAcross = chain.nonEmpty && prevLastT.nonEmpty &&
        p.firstT.nonEmpty && (p.firstT.get - prevLastT.get <= gapUs)
      if (mergeAcross) {
        chain = chain :+ ((p.pid, 0L))
        chainEnd = p.firstSessEnd.orElse(chainEnd)
      } else {
        closeChain()
        chain = List((p.pid, 0L))
        chainStart = p.firstT; chainEnd = p.firstSessEnd
      }
      if (p.nSess > 1L) {
        closeChain()
        chain = List((p.pid, p.nSess - 1L))
        chainStart = p.lastSessStart; chainEnd = p.lastT
      }
      prevLastT = p.lastT
    }
    closeChain()
    val adjustB = sparkS.sparkContext.broadcast(adjust.toMap)
    val gap = gapUs
    val stamped = pinned.mapPartitionsWithIndex { (pid, it) =>
      val boundsPatch = adjustB.value
      new scala.collection.AbstractIterator[Row] {
        private var pending: Iterator[Row] = Iterator.empty
        private var sid = -1L
        private var lookahead: Option[Row] = None
        private var prev: Option[Option[Long]] = None
        private def flushSession(): Unit = {
          // pull rows until the session breaks or input ends; stamp bounds
          val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
          var done = false
          while (!done) {
            val next = lookahead.orElse(if (it.hasNext) Some(it.next()) else None)
            lookahead = None
            next match {
              case None => done = true
              case Some(r) =>
                val cur = tOf(r)
                if (buf.nonEmpty && breaks(prev, cur)) {
                  lookahead = Some(r); done = true
                } else { buf += r; prev = Some(cur) }
            }
          }
          sid += 1
          val bounds = boundsPatch.get((pid, sid)) match {
            case Some((s, e)) => (Some(s), Some(e))
            case None => (tOf(buf.head), tOf(buf.last))
          }
          val ws: Any = bounds._1.map(Long.box).orNull
          val we: Any = bounds._2.map(v => Long.box(v + gap)).orNull
          pending = buf.iterator.map(r => Row.fromSeq(r.toSeq :+ ws :+ we))
        }
        override def hasNext: Boolean =
          pending.hasNext || lookahead.nonEmpty || it.hasNext
        override def next(): Row = {
          if (!pending.hasNext) flushSession()
          pending.next()
        }
      }
    }
    val out0 = sparkS.createDataFrame(stamped,
      sorted.schema.add("__gsw_ws", LongType).add("__gsw_we", LongType))
    val out = out0
      .withColumn("w_start", timestamp_micros(col("__gsw_ws")))
      .withColumn("w_end", timestamp_micros(col("__gsw_we")))
      .drop("__gsw_ws", "__gsw_we", "__gsw_tus")
    (out, Seq("w_start", "w_end"))
  }

  /** Streaming time windows use Spark's native `window()` + a synthesized
    * watermark (delay = window size — the FSQL syntax has no watermark, so
    * the translator supplies the policy; SURVEY §7.4 risk 3). Grouping
    * keys include the window STRUCT (`__w`) so append-mode state eviction
    * works (the struct carries the event-time watermark metadata; plain
    * derived `w_start` columns don't: Spark rejects append mode on an
    * aggregation grouped by them). `w_start`/`w_end` stay materialized for
    * projections and windowed joins.
    *
    * Gap windows (`every` > `size`): Spark's native `window()` rejects
    * slide > duration, but a gap window is a tumbling window of period
    * `every` restricted to rows whose offset within the period is <
    * `size` — so: filter `pmod(t, every) < size`, tumble by `every`, and
    * override `w_end = w_start + size`. This reproduces the batch path's
    * semantics exactly (rows in gaps dropped; starts aligned to `every`).
    * The `__w` group struct keeps end = start + every, which only delays
    * append-mode eviction of a finished window by (every - size) — safe,
    * never early.
    *
    * The result also names the watermarked event-time column (`timeField`,
    * or its cast `__evt`) with `sizeUs`: a row lies less than `sizeUs` after
    * its window's start, for tumbling, sliding and gap windows alike. A
    * windowed join turns that into the event-time range that lets Spark
    * evict join state (see the W6 join in [[relation]]). */
  private def applyStreamingTimeWindow(df: DataFrame, timeField: String,
      sizeUs: Long, everyUs: Option[Long], partCols: Seq[String],
      watermarkUs: Option[Long] = None): Windowed = {
    // delay: explicit `watermark N unit` in the spec, else the window size
    val (wdf, evtName) = watermarked(df, timeField, watermarkUs.getOrElse(sizeUs))
    val gapSlide = everyUs.filter(_ > sizeUs)
    val base = gapSlide match {
      case Some(slide) =>
        wdf.where(pmod(unix_micros(col(evtName)), lit(slide)) < lit(sizeUs))
      case None => wdf
    }
    val win = everyUs match {
      case None | Some(`sizeUs`) => window(col(evtName), s"$sizeUs microseconds")
      case Some(slide) if slide > sizeUs => window(col(evtName), s"$slide microseconds")
      case Some(slide) => window(col(evtName), s"$sizeUs microseconds", s"$slide microseconds")
    }
    val out = base.withColumn("__w", win)
      .withColumn("w_start", col("__w.start"))
      .withColumn("w_end", if (gapSlide.isDefined)
        timestamp_micros(unix_micros(col("__w.start")) + sizeUs)
      else col("__w.end"))
    Windowed(out, Seq("__w", "w_start", "w_end") ++ partCols,
      eventTime = Some((evtName, sizeUs)))
  }

  private def applyWindow(df: DataFrame, w: WindowSpec): Windowed = {
    val partCols: Seq[String] = w.partition.map(_.name).toSeq
    if (w.session) {
      val unit = w.size.timeUnit.getOrElse(
        throw new GraftAnalysisException("session windows need a time unit (the gap)"))
      val gapUs = w.size.value * unitMicros(unit)
      val timeField = w.size.onField.map(_.name)
        .orElse(df.schema.fields.find(_.dataType.typeName == "timestamp").map(_.name))
        .getOrElse(throw new GraftAnalysisException(
          "session window needs an `on <column>` field or a timestamp column"))
      val (out, keys) = applySessionWindow(df, timeField, gapUs, partCols)
      return Windowed(out, keys)
    }
    w.size.timeUnit match {
      case Some(unit) =>
        val sizeUs = w.size.value * unitMicros(unit)
        val everyUs = w.every.map(e => e.value * unitMicros(e.timeUnit.getOrElse(unit)))
        val timeField = w.size.onField.orElse(w.every.flatMap(_.onField)).map(_.name)
          .orElse(df.schema.fields.find(_.dataType.typeName == "timestamp").map(_.name))
          .getOrElse(throw new GraftAnalysisException(
            "time window needs an `on <column>` field or a timestamp column"))
        if (df.isStreaming)
          return applyStreamingTimeWindow(df, timeField, sizeUs, everyUs, partCols,
            w.watermark.map(m => m.value * unitMicros(m.timeUnit.getOrElse(unit))))
        val tUs = unix_micros(col(timeField).cast("timestamp"))
        // Bucket start = floor(t/size)*size as pure long arithmetic:
        // t - pmod(t, size). pmod >= 0, so this floors (not truncates) for
        // pre-1970 negative epochs too — identical to DuckDB's `//` oracle
        // (double division + cast truncated toward zero instead).
        def floorTo(t: Column, stepUs: Long): Column = t - pmod(t, lit(stepUs))
        val out = everyUs match {
          case None | Some(`sizeUs`) => // tumbling
            df.withColumn("w_start_us", floorTo(tUs, sizeUs))
          case Some(slide) => // sliding: all bucket starts covering this row
            val sMax = floorTo(tUs, slide)
            val sMin = floorTo(tUs - sizeUs, slide) + slide
            // `every` > `size` leaves gaps: rows in no window get an empty
            // start list and are dropped by explode (not explode_outer).
            val starts = when(sMin <= sMax, sequence(sMin, sMax, lit(slide)))
              .otherwise(array().cast("array<long>"))
            df.withColumn("w_start_us", explode(starts))
        }
        val withTs = out
          .withColumn("w_start", timestamp_micros(col("w_start_us")))
          .withColumn("w_end", timestamp_micros(col("w_start_us") + sizeUs))
          .drop("w_start_us")
        Windowed(withTs, Seq("w_start", "w_end") ++ partCols)

      case None => // count window [size N [every S]]
        val n = w.size.value
        // Sliding/gap count windows (reference grammar: `every` is
        // policy-based like `size`, fsql/parser.scala:169; Flink
        // `countWindow(size, slide)` semantics): window j covers per-key
        // row indexes [(j+1)·s − n, (j+1)·s − 1], so row r belongs to
        // j ∈ [⌊r/s⌋, ⌊(r+n)/s⌋ − 1] — one id when s = n (tumbling),
        // several when s < n (overlap), possibly none when s > n (gap).
        val slide = w.every.map { e =>
          if (e.timeUnit.isDefined)
            throw new GraftAnalysisException(
              "count window (no time unit on `size`) cannot take a " +
                "time-based `every`; use a count-based `every N`")
          if (e.value <= 0)
            throw new GraftAnalysisException(
              s"count window `every` must be positive, got ${e.value}")
          e.value
        }.getOrElse(n)
        // row r (0-based) → explode of its window ids; Spark's sequence()
        // DESCENDS when stop < start, so the gap case needs the guard.
        // Column `/` is DOUBLE division — exact integral floor via
        // (a − pmod(a, b)) / b (numerator a multiple of b, so the double
        // quotient is exact), matching DuckDB's `//` oracle.
        def idiv(a: Column, b: Long): Column =
          ((a - pmod(a, lit(b))) / lit(b)).cast("long")
        def slideIds(r: Column): Column = {
          val jMin = idiv(r, slide)
          val jMax = idiv(r + n, slide) - 1
          explode(when(jMax >= jMin, sequence(jMin, jMax))
            .otherwise(array().cast("array<long>")))
        }
        if (df.isStreaming) {
          // row_number is illegal on streams — use the stateful per-key
          // counter operator (streaming W2, flatMapGroupsWithState).
          val out = graft.streaming.CountWindow.assign(df, n.toInt, partCols,
            slide.toInt)
          Windowed(out, Seq("w_id") ++ partCols)
        } else {
          val orderCol = w.size.onField.map(f => col(f.name))
            .getOrElse(col(df.columns.head))
          if (partCols.nonEmpty) {
            val win = Window.partitionBy(partCols.map(col): _*).orderBy(orderCol)
            val out =
              if (slide == n)
                df.withColumn("w_id",
                  ((row_number().over(win) - 1) / n).cast("long"))
              else
                // the generator cannot wrap the window fn in one Project:
                // materialize the row index, then explode over it
                df.withColumn("__r", (row_number().over(win) - 1).cast("long"))
                  .withColumn("w_id", slideIds(col("__r")))
                  .drop("__r")
            Windowed(out, Seq("w_id") ++ partCols)
          } else {
            // Unkeyed batch count window without a single global sort, and
            // without depending on the optional ReuseExchange rule for
            // correctness (round-5 advisory: the old two-branch offsets
            // plan was silently wrong if each branch re-sampled its own
            // range boundaries): range-partition by the order column
            // (distributed sort — equal keys stay co-located), sort within
            // partitions, then stamp a contiguous global row index with
            // zipWithIndex over ONE pinned physical instance of the
            // shuffled data. zipWithIndex's internal per-partition count
            // job and the data pass both read the persisted RDD, so
            // partition boundaries cannot drift between passes. The only
            // driver-side state is the #partitions-element offset array;
            // the cache is MEMORY_AND_DISK (spills, never recomputes),
            // registered with the catalog so
            // `GraftSession.releaseOperatorCaches()` frees it
            // deterministically (ADVICE r6), with the ContextCleaner's
            // weak-ref GC as the fallback lifecycle.
            // The count job runs when this RDD is built — count windows
            // materialize at translation, like recursive CTEs (any pinning
            // strategy pays a translation-time job here: even a lazy
            // localCheckpoint samples range boundaries via toRdd; schemaOf/
            // recordSource document the deviation).
            val spark = df.sparkSession
            val sorted = df.repartitionByRange(orderCol.asc)
              .sortWithinPartitions(orderCol.asc)
            val pinned = sorted.rdd
            pinned.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
            catalog.registerPinned(pinned) // explicit release: GraftSession.releaseOperatorCaches()
            val (nn, ss) = (n, slide) // stable locals for the task closure
            val indexed =
              if (ss == nn)
                pinned.zipWithIndex.map { case (r, i) =>
                  org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i / nn)) }
              else
                pinned.zipWithIndex.flatMap { case (r, i) =>
                  graft.streaming.CountWindow.windowIds(i, nn, ss)
                    .map(j => org.apache.spark.sql.Row.fromSeq(r.toSeq :+ j)) }
            val out = spark.createDataFrame(indexed,
              sorted.schema.add("w_id",
                org.apache.spark.sql.types.LongType, nullable = false))
            Windowed(out, Seq("w_id"))
          }
        }
    }
  }

  // ------------------------------------------------------------------
  // WHERE-subquery predicates → joins
  // ------------------------------------------------------------------

  private def splitAnd(e: Expr): Seq[Expr] = e match {
    case And(l, r) => splitAnd(l) ++ splitAnd(r)
    case other     => Seq(other)
  }

  /** Push NOT down over subquery predicates so conjunct handling sees
    * Exists/InSubquery at the top of the conjunct. */
  private def negateCmpOp(op: String): String = op match {
    case "="  => "!="
    case "!=" => "="
    case "<"  => ">="
    case ">"  => "<="
    case "<=" => ">"
    case ">=" => "<"
  }

  private def normalizeNot(e: Expr): Expr = e match {
    case Not(Exists(q, n))           => Exists(q, !n)
    case Not(InSubquery(x, q, n))    => InSubquery(x, q, !n)
    // De Morgan over the quantifier: NOT (x op ALL S) ≡ x ¬op ANY S
    case Not(QuantifiedCmp(op, x, q, all)) => QuantifiedCmp(negateCmpOp(op), x, q, !all)
    case Not(Not(x))                 => normalizeNot(x)
    case And(l, r)                   => And(normalizeNot(l), normalizeNot(r))
    case other                       => other
  }

  /** Route a WHERE conjunct to the semi/anti-join path only when the
    * subquery predicate IS the conjunct (possibly under NOT, normalized
    * away earlier). A subquery pred NESTED deeper (inside OR, CASE, a
    * comparison) goes through the expression path instead — Exists lowers
    * to the native exists() column there; IN/ANY/ALL raise a clear error. */
  private def containsSubqueryPred(e: Expr): Boolean = e match {
    case _: Exists | _: InSubquery | _: QuantifiedCmp => true
    case _ => false
  }

  private def applySubqueryPredicate(df: DataFrame, p: Expr): DataFrame = p match {
    case Exists(q, negated) =>
      q match {
        // Correlated (or not) simple SELECT: semi/anti join with the
        // subquery's WHERE as the join condition — outer refs resolve
        // against the left side, a direct decorrelation.
        case sel: Select if sel.groupBy.isEmpty && !sel.distinct &&
            sel.limit.isEmpty && sel.from.isDefined =>
          val sub = relation(sel.from.get).df
          val cond = sel.where.map(expr).getOrElse(lit(true))
          df.join(sub, cond, if (negated) "left_anti" else "left_semi")
        case _ =>
          val sub = query(q)
          df.join(sub, lit(true), if (negated) "left_anti" else "left_semi")
      }
    case InSubquery(e, q, negated) =>
      val sub = query(q)
      require(sub.columns.length == 1,
        "IN (subquery) requires a single-column subquery")
      // Compute the tested expression as a bound column on the left and
      // rename the subquery output: with `where a in (select a from u)` a
      // bare `col("a") === sub("a")` is AMBIGUOUS_REFERENCE.
      val withKey = df.withColumn("__in_key", expr(e))
      val subVal = sub.select(sub(sub.columns.head).as("__in_val"))
      val joined =
        if (!negated)
          withKey.join(subVal, withKey("__in_key") === subVal("__in_val"), "left_semi")
        else {
          // ANSI tri-valued NOT IN without a nested-loop join: the
          // equality anti join (hash/broadcast — scale-safe) removes TRUE
          // matches; a 1-row scalar-subquery summary handles the UNKNOWN
          // cases — a NULL element or NULL scrutinee makes NOT IN unknown
          // (row filtered) unless the subquery is empty (vacuous TRUE
          // keeps every row, NULL keys included). scalar() (not a 1-row
          // broadcast join) keeps the plan a plain Filter — same shape as
          // the quantified-comparison summary below.
          val s = subVal.select(struct(
            coalesce(max(col("__in_val").isNull), lit(false)).as("has_null"),
            (count(lit(1)) > 0).as("has_rows")).as("__in_s")).scalar()
          withKey.join(subVal, withKey("__in_key") === subVal("__in_val"), "left_anti")
            .where(!s.getField("has_rows") ||
              (col("__in_key").isNotNull && !s.getField("has_null")))
        }
      joined.drop("__in_key")
    // `x = ANY (sub)` IS `x IN (sub)` and `x <> ALL (sub)` IS `x NOT IN
    // (sub)` — route both through the IN path so the equality lowers to a
    // hash/broadcast (anti-)join instead of the theta-join fallback below
    // (which is a nested-loop for anything Catalyst can't hash).
    case QuantifiedCmp("=", e, q, false)  => applySubqueryPredicate(df, InSubquery(e, q, negated = false))
    case QuantifiedCmp("!=", e, q, true)  => applySubqueryPredicate(df, InSubquery(e, q, negated = true))
    case QuantifiedCmp(op, e, q, all) =>
      // Every remaining ANY/ALL form reduces to a 1-row scalar-subquery
      // min/max/has-null/has-rows summary + a plain filter — an ordered
      // comparison against every element only needs
      // the extremes (`x > ALL S` ⇔ S empty ∨ x > max S; `x > ANY S` ⇔
      // x > min S), `= ALL` needs min = max = x, and `<> ANY` needs
      // min ≠ max ∨ x ≠ min. The ANSI UNKNOWN cases (NULL scrutinee,
      // NULL element poisoning ALL) fold into the has-null/has-rows
      // flags. No per-element theta join, so Catalyst never plans a
      // BroadcastNestedLoopJoin here at any scale. (`= ANY` and
      // `<> ALL` are membership tests — routed to hash joins above.)
      val sub = query(q)
      require(sub.columns.length == 1,
        "quantified comparison (ANY/ALL) requires a single-column subquery")
      val v = sub(sub.columns.head)
      // One scalar subquery (executed once, ReuseSubquery dedupes the
      // repeated field refs) — a plain Filter over the outer relation,
      // no join node at all. Global aggregation goes through `select`,
      // not `agg`, for lazy analysis (see spark classic subquery notes).
      val s = sub.select(struct(
        min(v).as("mn"), max(v).as("mx"),
        coalesce(max(v.isNull), lit(false)).as("has_null"),
        (count(lit(1)) > 0).as("has_rows")).as("__qc_s")).scalar()
      val x  = expr(e)
      val mn = s.getField("mn"); val mx = s.getField("mx")
      val keep =
        if (all) {
          // keep iff vacuous TRUE (empty S), else no FALSE and no
          // UNKNOWN comparison: x non-null, no NULL element, and the
          // extreme-value predicate holds.
          val p = op match {
            case ">"  => x > mx
            case ">=" => x >= mx
            case "<"  => x < mn
            case "<=" => x <= mn
            case "="  => mn === mx && x === mn
          }
          !s.getField("has_rows") ||
            (x.isNotNull && !s.getField("has_null") && coalesce(p, lit(false)))
        } else {
          // ANY: at least one TRUE comparison against a non-NULL
          // element. min/max are NULL when S has no non-NULL element,
          // so `p` is NULL (→ filtered) exactly when required; same for
          // a NULL scrutinee.
          val p = op match {
            case ">"  => x > mn
            case ">=" => x >= mn
            case "<"  => x < mx
            case "<=" => x <= mx
            case "!=" => x.isNotNull && (mn =!= mx || x =!= mn)
          }
          coalesce(p, lit(false))
        }
      df.where(keep)
    case other =>
      throw new GraftAnalysisException(
        s"IN/EXISTS subqueries are only supported as top-level AND-conjuncts of WHERE: $other")
  }

  // ------------------------------------------------------------------
  // scalar expressions
  // ------------------------------------------------------------------

  // lambda parameters in scope while translating a HOF lambda body
  // (innermost binding wins — params shadow outer columns)
  private var lambdaScope: Map[String, Column] = Map.empty

  /** Bind a [[Lambda]]'s body with its parameters mapped to the Columns
    * Spark's higher-order function supplies. */
  private def bindLambda(l: Lambda, cols: Seq[Column]): Column = {
    if (l.params.length != cols.length)
      throw new GraftAnalysisException(
        s"lambda expects ${cols.length} parameter(s) here, got ${l.params.length}")
    val saved = lambdaScope
    lambdaScope = lambdaScope ++ l.params.map(_.toLowerCase(java.util.Locale.ROOT)).zip(cols)
    try expr(l.body) finally lambdaScope = saved
  }

  /** Higher-order array functions with lambda arguments → the native
    * `functions` builders (the only way to construct LambdaFunction plans
    * from the DataFrame API). NOTE these evaluate as CodegenFallback
    * (SCALE.md) — fine over per-row arrays, not for corpus-length loops. */
  private def hofCall(name: String, args: Seq[Expr]): Column = {
    def l(i: Int): Lambda = args.lift(i) match {
      case Some(lm: Lambda) => lm
      case other => throw new GraftAnalysisException(
        s"$name: argument ${i + 1} must be a lambda, got ${other.map(graft.ast.Pretty.expr)}")
    }
    def c(i: Int): Column = args.lift(i) match {
      case Some(lm: Lambda) => throw new GraftAnalysisException(
        s"$name: argument ${i + 1} must not be a lambda")
      case Some(e) => expr(e)
      case None => throw new GraftAnalysisException(s"$name: missing argument ${i + 1}")
    }
    def fn1(lm: Lambda): Column => Column = x => bindLambda(lm, Seq(x))
    def fn2(lm: Lambda): (Column, Column) => Column = (x, y) => bindLambda(lm, Seq(x, y))
    name match {
      case "transform" =>
        if (l(1).params.length == 2) transform(c(0), fn2(l(1))) else transform(c(0), fn1(l(1)))
      case "filter" | "list_filter" | "array_filter" =>
        if (l(1).params.length == 2) filter(c(0), fn2(l(1))) else filter(c(0), fn1(l(1)))
      case "forall" | "array_forall"      => forall(c(0), fn1(l(1)))
      case "array_exists" | "list_exists" => exists(c(0), fn1(l(1)))
      case "zip_with"                     => zip_with(c(0), c(1), fn2(l(2)))
      case "aggregate" | "reduce" | "list_reduce" =>
        // our private aggregate(df, rel, s) shadows functions.aggregate
        if (args.length >= 4)
          org.apache.spark.sql.functions.aggregate(c(0), c(1), fn2(l(2)), fn1(l(3)))
        else org.apache.spark.sql.functions.aggregate(c(0), c(1), fn2(l(2)))
      case "map_filter"    => map_filter(c(0), fn2(l(1)))
      case "transform_keys"   => transform_keys(c(0), fn2(l(1)))
      case "transform_values" => transform_values(c(0), fn2(l(1)))
      case other => throw new GraftAnalysisException(
        s"$other does not take lambda arguments (supported: transform/filter/" +
          "forall/array_exists/aggregate/zip_with/map_filter/transform_keys/transform_values)")
    }
  }

  def expr(e: Expr): Column = e match {
    case ColRef(None, n) if lambdaScope.contains(n.toLowerCase(java.util.Locale.ROOT)) =>
      lambdaScope(n.toLowerCase(java.util.Locale.ROOT))
    case ColRef(None, n)    => col(n)
    // inside a lateral/correlated subquery body, references qualified with
    // an ENCLOSING query's alias resolve against the outer plan
    case ColRef(Some(q), n) =>
      if (outerMarkQuals(q.toLowerCase(java.util.Locale.ROOT))) col(s"$q.$n").outer()
      else col(s"$q.$n")
    case Star(None)         => col("*")
    case Star(Some(q))      => col(s"$q.*")
    case Lit(null)          => lit(null)
    case Lit(v)             => lit(v)

    // INTERVAL literal → native interval value (codegen arithmetic with
    // timestamps/dates; no string parsing at runtime)
    case IntervalLit(v, unit) =>
      val z = lit(0)
      unit match {
        case "second" => call_function("make_dt_interval", z, z, z, lit(v))
        case "minute" => call_function("make_dt_interval", z, z, lit(v))
        case "hour"   => call_function("make_dt_interval", z, lit(v))
        case "day"    => call_function("make_dt_interval", lit(v))
        case "month"  => call_function("make_ym_interval", z, lit(v))
        case "year"   => call_function("make_ym_interval", lit(v))
        case other => throw new GraftAnalysisException(s"unknown interval unit: $other")
      }

    // `/` always yields nullable Double — reference flinkdsl/typer.scala_:243
    case Arith("/", l, r)  => expr(l).cast("double") / expr(r).cast("double")
    case Arith("+", l, r)  => expr(l) + expr(r)
    case Arith("-", l, r)  => expr(l) - expr(r)
    case Arith("*", l, r)  => expr(l) * expr(r)
    case Arith("%", l, r)  => expr(l) % expr(r)
    case Arith("&", l, r)  => expr(l).bitwiseAND(expr(r))
    case Arith("|", l, r)  => expr(l).bitwiseOR(expr(r))
    case Arith("^", l, r)  => expr(l).bitwiseXOR(expr(r))
    case Arith("<<", l, r) => call_function("shiftleft", expr(l), expr(r))
    case Arith(">>", l, r) => call_function("shiftright", expr(l), expr(r))
    case Arith("||", l, r) => concat(expr(l), expr(r)) // ANSI string concat
    case Arith(op, _, _)   => throw new GraftAnalysisException(s"unknown operator: $op")

    case Neg(c)    => -expr(c)
    case BitNot(c) => bitwise_not(expr(c))

    case FuncCall(n, args, distinct) if args.exists(_.isInstanceOf[Lambda]) =>
      hofCall(n.toLowerCase(java.util.Locale.ROOT), args)

    // struct field access `expr.field` (postfix-parsed; bare `t.c` stays a
    // qualified column ref)
    case FuncCall("__get_field", Seq(b, Lit(f: String)), _) =>
      expr(b).getField(f)

    // expandColumnsRegex rewrites every SELECT-list occurrence before
    // translation — one reaching here sits in WHERE/GROUP BY/ORDER BY
    case FuncCall("columns", _, _) =>
      throw new GraftAnalysisException(
        "COLUMNS('regex') is only valid in the SELECT list")

    case FuncCall(n, args, distinct) =>
      val cols = args.map {
        case Star(_) => lit(1) // count(*) ≡ count(1)
        case a       => expr(a)
      }
      Registry.build(n, cols, distinct)

    case _: Lambda =>
      throw new GraftAnalysisException(
        "a lambda (x -> …) is only valid as an argument to transform/filter/" +
          "forall/array_exists/aggregate/zip_with")

    case CaseWhen(branches, otherwise, subject) =>
      // simple CASE (`case x when v …`) compares the subject for equality
      val cond: Expr => Column = subject match {
        case None    => expr
        case Some(x) => val sc = expr(x); (b: Expr) => sc === expr(b)
      }
      val first = when(cond(branches.head._1), expr(branches.head._2))
      val chained = branches.tail.foldLeft(first) { case (acc, (c, v)) =>
        acc.when(cond(c), expr(v))
      }
      otherwise.fold(chained)(o => chained.otherwise(expr(o)))

    case Input() =>
      throw new GraftAnalysisException(
        "unbound ? parameter — pass positional args to GraftSession.sql(sql, args*)")

    // CAST(e AS type): the DDL type vocabulary (Catalog.toDataType), so the
    // same names work in field definitions and casts. TRY_CAST → NULL on
    // invalid input (vs an error under ANSI mode).
    case Cast(e, t, safe) =>
      val dt = graft.catalog.Catalog.toDataType(t)
      if (safe) expr(e).try_cast(dt) else expr(e).cast(dt)

    // Scalar subquery → the native Dataset.scalar() subquery column (lazy —
    // nothing executes until the enclosing query runs, so EXPLAIN /
    // schemaOf stay plan-only; Spark enforces the <=1-row and
    // single-column contracts itself). Equality-correlated aggregate
    // subqueries were already rewritten to left joins by
    // decorrelateScalars; other correlated shapes (non-equality
    // correlation, outer refs in the subquery projection) translate here
    // with enclosing aliases marked `.outer()` and Catalyst decorrelates.
    case ScalarSubquery(q) =>
      val sub = withOuterQuals(scopeQuals)(query(q))
      // the single-column arity check needs the subquery's schema, and
      // `.columns` analyzes the plan STANDALONE — a correlated subquery's
      // `.outer()` refs only resolve inside the enclosing query, so skip
      // the early check there (Spark enforces the same contract at
      // enclosing-plan analysis)
      val arity = try Some(sub.columns.length) catch { case _: Exception => None }
      arity.foreach(n => require(n == 1, "scalar subquery must return a single column"))
      sub.scalar()

    // EXISTS in expression position (projection, OR branches, CASE …) —
    // the native Dataset.exists() predicate column. Top-level WHERE
    // conjuncts never reach here: they lower to semi/anti joins in
    // applySubqueryPredicate (explicit plan control).
    case Exists(q, negated) =>
      val sub = withOuterQuals(scopeQuals)(query(q))
      val c = sub.exists()
      if (negated) !c else c

    // Analytic function over a partition frame (beyond-reference; SQL
    // default frames, so results match DuckDB's OVER exactly). Ranking and
    // offset functions are only meaningful here, so they are dispatched
    // locally rather than through the scalar Registry.
    case WindowFn(_, _, _, _, _, Some(name)) =>
      throw new GraftAnalysisException(
        s"OVER $name: no such window in the WINDOW clause") // parse expands refs
    case WindowFn(f, pb, ob, frame, ignoreNulls, None) =>
      val spec0 = Window.partitionBy(pb.map(expr): _*)
      val ordered =
        if (ob.isEmpty) spec0
        else spec0.orderBy(ob.map(k => sortCol(expr(k.expr), k)): _*)
      val spec = frame match {
        case None => ordered
        case Some(fr) =>
          if (ob.isEmpty)
            throw new GraftAnalysisException(
              s"${f.name}: an explicit window frame requires ORDER BY")
          if (fr.intervalUs) {
            // timestamp RANGE frame: order on unix_micros(key) — a
            // monotonic bijection of the timestamp, so ordering, peers and
            // frame membership are unchanged — and apply the µs offsets.
            // Stays a single native WindowExec; no extra shuffle.
            if (ob.size != 1)
              throw new GraftAnalysisException(
                s"${f.name}: a RANGE INTERVAL frame requires exactly one ORDER BY key")
            val k = ob.head
            // cast("timestamp") tolerates NTZ order keys (no-op on
            // TIMESTAMP). Dialect-wide convention (same as session/count
            // window time fields): non-timestamp keys follow Spark's cast
            // semantics — numerics are epoch SECONDS. The strict
            // alternative lives in the operator API (IntervalJoin rejects
            // non-timestamp time columns loudly).
            val onMicros = spec0.orderBy(
              sortCol(call_function("unix_micros", expr(k.expr).cast("timestamp")), k))
            onMicros.rangeBetween(fr.lo, fr.hi)
          }
          // Spark bound convention matches the AST encoding directly
          else if (fr.rows) ordered.rowsBetween(fr.lo, fr.hi)
          else ordered.rangeBetween(fr.lo, fr.hi)
      }
      def intArg(i: Int, default: Int): Int = f.args.lift(i) match {
        case Some(Lit(v: Long)) => v.toInt
        case Some(other) => throw new GraftAnalysisException(
          s"${f.name}: argument ${i + 1} must be an integer literal, got $other")
        case None => default
      }
      def needOrder(): Unit = if (ob.isEmpty)
        throw new GraftAnalysisException(s"${f.name}() over (...) requires ORDER BY")
      val base = f.name match {
        case "row_number"   => needOrder(); row_number()
        case "rank"         => needOrder(); rank()
        case "dense_rank"   => needOrder(); dense_rank()
        case "percent_rank" => needOrder(); percent_rank()
        case "cume_dist"    => needOrder(); cume_dist()
        case "ntile"        => needOrder(); ntile(intArg(0, 1))
        case "lag" =>
          needOrder()
          lag(expr(f.args.head), intArg(1, 1), f.args.lift(2).map {
            case Lit(v) => v
            case other  => throw new GraftAnalysisException(
              s"lag default must be a literal, got $other")
          }.orNull, ignoreNulls)
        case "lead" =>
          needOrder()
          lead(expr(f.args.head), intArg(1, 1), f.args.lift(2).map {
            case Lit(v) => v
            case other  => throw new GraftAnalysisException(
              s"lead default must be a literal, got $other")
          }.orNull, ignoreNulls)
        case "first_value"  => needOrder(); first(expr(f.args.head), ignoreNulls)
        case "last_value"   => needOrder(); last(expr(f.args.head), ignoreNulls)
        case "any_value" if ignoreNulls => first(expr(f.args.head), ignoreNulls = true)
        case "nth_value" =>
          needOrder(); nth_value(expr(f.args.head), intArg(1, 1), ignoreNulls)
        case other =>
          if (ignoreNulls)
            throw new GraftAnalysisException(
              s"IGNORE NULLS is not supported for $other (offset/value window functions only)")
          Registry.build(f.name, f.args.map {
            case Star(_) => lit(1)
            case a       => expr(a)
          }, f.distinct)
      }
      base.over(spec)

    case Cmp("=", l, r)  => expr(l) === expr(r)
    case Cmp("!=", l, r) => expr(l) =!= expr(r)
    case Cmp("<", l, r)  => expr(l) < expr(r)
    case Cmp(">", l, r)  => expr(l) > expr(r)
    case Cmp("<=", l, r) => expr(l) <= expr(r)
    case Cmp(">=", l, r) => expr(l) >= expr(r)
    case Cmp(op, _, _)   => throw new GraftAnalysisException(s"unknown comparison: $op")

    case And(l, r) => expr(l) && expr(r)
    case Or(l, r)  => expr(l) || expr(r)
    case Not(c)    => !expr(c)

    case Between(x, lo, hi, neg) =>
      val b = expr(x).between(expr(lo), expr(hi))
      if (neg) !b else b
    // LIKE/ILIKE with optional ESCAPE: built as the native Catalyst
    // expressions (the registry's `like` entry takes no escape argument)
    case Like(x, p, neg, ci, esc) =>
      val escChar = esc match {
        case None => '\\'
        case Some(Lit(s: String)) if s.length == 1 => s.charAt(0)
        case Some(other) => throw new GraftAnalysisException(
          s"ESCAPE must be a single-character string literal, got $other")
      }
      val (le, re) = (GraftBridge.expression(expr(x)), GraftBridge.expression(expr(p)))
      val l = GraftBridge.column(
        if (ci) org.apache.spark.sql.catalyst.expressions.ILike(le, re, escChar)
        else org.apache.spark.sql.catalyst.expressions.Like(le, re, escChar))
      if (neg) !l else l
    case IsNull(x, neg) => if (neg) expr(x).isNotNull else expr(x).isNull
    case InList(x, list, neg) =>
      val in = expr(x).isin(list.map(expr): _*)
      if (neg) !in else in

    // null-safe comparison: IS NOT DISTINCT FROM is Spark's `<=>`
    case DistinctFrom(l, r, negated) =>
      val c = expr(l) <=> expr(r)
      if (negated) c else !c

    case _: InSubquery | _: QuantifiedCmp =>
      throw new GraftAnalysisException(
        "IN/ANY/ALL subqueries are only supported in WHERE as AND-conjuncts " +
          "(EXISTS works in any expression position)")

    case _: StarMod =>
      throw new GraftAnalysisException(
        "star modifiers (* EXCLUDE/REPLACE) are only valid as top-level projections")
  }
}

/** Per-partition session summary for the unkeyed boundary merge
  * ([[Translator.applyGlobalSessionWindow]]): row count, event-time
  * (micros) of the partition's first/last row, last row of its FIRST local
  * session, first row of its LAST local session, and the local session
  * count. Nulls (rows whose time casts to null) sort first under the range
  * partitioner and are singleton sessions, exactly like the keyed path
  * (`prev IS NULL` starts a new session).
  *
  * Top-level on purpose: as an inner class of Translator it would carry an
  * `$outer` pointer and fail task serialization (ADVICE r7, high). */
private[translate] case class GswPart(pid: Int, rows: Long, nSess: Long,
    firstT: Option[Long], lastT: Option[Long],
    firstSessEnd: Option[Long], lastSessStart: Option[Long])
