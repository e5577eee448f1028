package graft

import graft.streaming.CountWindow
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Regressions for review findings: each test failed (wrong result or
  * crash) before the corresponding fix. */
class RegressionSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private lazy val g = TestSpark.session

  test("avg(distinct) averages the distinct values, not all rows") {
    val got = g.sql("select avg(distinct l_linenumber) as a from lineitem")
      .collect().head.getDouble(0)
    val want = g.catalog.relation("lineitem")
      .select("l_linenumber").distinct()
      .agg(avg("l_linenumber")).collect().head.getDouble(0)
    assert(math.abs(got - want) < 1e-9)
    // and it differs from the non-distinct mean on this data
    val plain = g.sql("select avg(l_linenumber) as a from lineitem")
      .collect().head.getDouble(0)
    assert(math.abs(got - plain) > 1e-9)
  }

  test("set-op round-trip preserves nesting and inner order/limit") {
    val nested = "select n_regionkey as k from nation union (select r_regionkey as k from region except select r_regionkey as k from region where r_regionkey < 2)"
    val withLimit = "(select n_regionkey as k from nation order by k limit 5) union all select r_regionkey as k from region"
    for (sql <- Seq(nested, withLimit)) {
      val ast1 = graft.parser.SqlParser.parse(sql).toOption.get
      val printed = graft.ast.Pretty.print(ast1)
      val ast2 = graft.parser.SqlParser.parse(printed)
        .getOrElse(fail(s"printed form does not parse: $printed"))
      assert(ast2 == ast1, s"round-trip changed AST: $printed")
    }
  }

  test("INTERSECT binds tighter than UNION/EXCEPT (ANSI precedence)") {
    // fuzz-found (seed 8303 f005): `a except b intersect c` must parse as
    // a except (b intersect c), matching DuckDB and Spark SQL
    val got = g.sql(
      "select n_nationkey as v from nation where n_nationkey < 10 " +
      "except select n_nationkey as v from nation where n_nationkey < 6 " +
      "intersect select n_nationkey as v from nation where n_nationkey >= 3")
      .collect().map(_.getInt(0).toLong).sorted.toSeq
    // b∩c = {3,4,5}; a\(b∩c) = {0,1,2,6,7,8,9}. Left-assoc would give
    // (a\b)∩c = {6,7,8,9}.
    assert(got == Seq(0L, 1L, 2L, 6L, 7L, 8L, 9L))
    // parentheses still override
    val forced = g.sql(
      "(select n_nationkey as v from nation where n_nationkey < 10 " +
      "except select n_nationkey as v from nation where n_nationkey < 6) " +
      "intersect select n_nationkey as v from nation where n_nationkey >= 3")
      .collect().map(_.getInt(0).toLong).sorted.toSeq
    assert(forced == Seq(6L, 7L, 8L, 9L))
    // INTERSECT level still rejects BY NAME with the clear error
    val err = intercept[Exception](g.sql(
      "select n_nationkey as v from nation intersect by name select n_nationkey as v from nation"))
    assert(err.getMessage.contains("BY NAME"))
  }

  test("IN (subquery) works when both sides share the column name") {
    val got = g.sql(
      "select n_regionkey from nation where n_regionkey in (select n_regionkey from nation where n_name like 'NATION_1%')")
    assert(got.count() > 0)
    val neg = g.sql(
      "select count(*) as n from nation where n_regionkey not in (select n_regionkey from nation where n_regionkey < 3)")
    assert(neg.collect().head.getLong(0) ==
      g.catalog.relation("nation").where(col("n_regionkey") >= 3).count())
  }

  test("select * plus computed alias can ORDER BY the alias") {
    val got = g.sql("select *, r_regionkey * 2 as dbl from region order by dbl desc")
    val vals = got.select("dbl").collect().map(_.getLong(0)).toSeq
    assert(vals == vals.sorted.reverse)
    assert(got.columns.takeRight(1).head == "dbl")
  }

  test("sqlScript: '?' inside a string literal is not an argument slot") {
    val out = g.sqlScript(
      "select count(*) as n from nation where n_name != 'who?'; " +
      "select n_regionkey from nation where n_regionkey = ?", 2)
    assert(out.collect().forall(_.getInt(0) == 2))
  }

  test("count-window keys with spaces do not collide") {
    val d = Seq(("a b", "c", 1L), ("a", "b c", 2L), ("a b", "c", 3L))
      .toDF("k1", "k2", "v")
    val out = CountWindow.assign(d, size = 2, keyCols = Seq("k1", "k2"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(3))).toSet
    // ("a b","c") has 2 rows -> both w_id 0; ("a","b c") alone -> w_id 0.
    // Pre-fix all three rows shared one counter and the third row got w_id 1.
    assert(out == Set(("a b", "c", 0L), ("a", "b c", 0L)))
  }

  test("ORDER BY on an already-ordered subquery yields Left, not an exception") {
    val r = graft.parser.SqlParser.parse("(select a from t order by a limit 1) order by a")
    assert(r.isLeft)
    assert(r.left.toOption.get.contains("ORDER BY"))
  }

  test("sqlScript: apostrophes/semicolons inside SQL comments don't corrupt splitting") {
    // pre-fix: the apostrophe in `don't` flipped the in-string flag and the
    // `;` in the comment split mid-statement
    val out = g.sqlScript(
      "select 1 as a; -- don't; stop ? here\n" +
      "select n_regionkey as k from nation /* not 'a'; real ? either */ where n_regionkey = ?;\n" +
      "-- trailing comment-only piece is dropped\n", 2)
    assert(out.collect().forall(_.getInt(0) == 2))
  }

  test("tumbling/sliding windows floor pre-1970 event times (not truncate toward zero)") {
    val d = Seq(
      ("x", java.sql.Timestamp.from(java.time.Instant.parse("1969-12-31T23:59:30Z"))),
      ("x", java.sql.Timestamp.from(java.time.Instant.parse("1970-01-01T00:00:30Z"))))
      .toDF("k", "ts")
    g.catalog.registerTable("neg_epoch", d)
    val tumble = g.sql(
      "select w_start, count(*) as n from neg_epoch [size 1 min on ts] group by w_start order by w_start")
      .collect().map(_.getTimestamp(0).toInstant.toString)
    // floor: 23:59:30 belongs to the 23:59:00 bucket; truncation-toward-zero
    // would have put it at 00:00:00
    assert(tumble.toSeq == Seq("1969-12-31T23:59:00Z", "1970-01-01T00:00:00Z"))
    val slide = g.sql(
      "select w_start from neg_epoch [size 2 min every 1 min on ts] group by w_start order by w_start")
      .collect().map(_.getTimestamp(0).toInstant.toString)
    assert(slide.toSeq == Seq("1969-12-31T23:58:00Z", "1969-12-31T23:59:00Z", "1970-01-01T00:00:00Z"))
  }

  test("INSERT VALUES with wrong arity or unknown column raises, not silently truncates") {
    g.sql("create stream arity_t (a int, b int)")
    val e1 = intercept[graft.translate.GraftAnalysisException] {
      g.sql("insert into arity_t values (1, 2, 3)")
    }
    assert(e1.getMessage.contains("3 expressions for 2"))
    val e2 = intercept[graft.translate.GraftAnalysisException] {
      g.sql("insert into arity_t (a, nope) values (1, 2)")
    }
    assert(e2.getMessage.contains("nope"))
    g.sql("insert into arity_t values (1, 2)")
    assert(g.sql("select * from arity_t").count() == 1)
  }

  test("repeated INSERTs consolidate cached snapshots (bounded storage)") {
    g.sql("create stream acc_t (a int)")
    (1 to 10).foreach(i => g.sql(s"insert into acc_t values ($i)"))
    val got = g.sql("select a from acc_t order by a").collect().map(_.getInt(0)).toSeq
    assert(got == (1 to 10))
    // after consolidation at 8, at most (10 - 8) + 1 snapshot caches remain
    // for this relation; a second relation's caches are unaffected
    (11 to 20).foreach(i => g.sql(s"insert into acc_t values ($i)"))
    assert(g.sql("select count(*) as n from acc_t").collect().head.getLong(0) == 20L)
  }

  test("param binding preserves GroupBy flags and reaches inside OVER clauses") {
    // pre-fix: Params.bind rebuilt GroupBy positionally and dropped the new
    // cube flag, silently degrading WITH CUBE to a plain GROUP BY
    val cube = g.sql(
      "select l_returnflag as f, l_linestatus as s, count(*) as n from lineitem " +
      "where l_quantity > ? group by l_returnflag, l_linestatus with cube", 0)
    assert(cube.count() == 12) // 6 (f,s) + 3 (f,null) + 2 (null,s) + 1 total
    // `?` inside an OVER-function argument binds positionally
    val lagd = g.sql(
      "select n_nationkey as k, lag(n_nationkey, 1, ?) over (order by n_nationkey) as p " +
      "from nation order by k limit 1", -1)
    assert(lagd.collect().head.getInt(1) == -1)
  }

  test("schemaOf/EXPLAIN with a scalar subquery plans without running a Spark job") {
    g.catalog.registerTable("sq_probe", Seq((1, "a"), (2, "b")).toDF("id", "s"))
    val (schema, c) = obs.Obs.around(spark)(
      g.schemaOf("select s, (select max(id) from sq_probe) as m from sq_probe"))
    assert(schema.fieldNames.toSeq == Seq("s", "m"))
    assert(c.jobs == 0, "planning a scalar subquery must not execute it")
    // and the lazy form still computes the right value
    val v = g.sql("select (select max(id) from sq_probe) as m from sq_probe where id = 1")
      .collect().head.getInt(0)
    assert(v == 2)
  }

  test("review batch 3: ordinals, wrapped-count decorrelation, CTE dups, drop kind") {
    val g = TestSpark.session
    // SELECT * with an ORDER BY ordinal must actually sort
    val star = g.sql("select * from region order by 1 desc").collect().map(_.getInt(0))
    assert(star.toSeq == star.toSeq.sorted.reverse && star.length > 1)
    // out-of-range ordinals are clear errors, not constant sorts/groups
    val e1 = intercept[graft.translate.GraftAnalysisException] {
      g.sql("select r_regionkey as k from region order by 7").collect()
    }
    assert(e1.getMessage.contains("position 7"))
    val e2 = intercept[graft.translate.GraftAnalysisException] {
      g.sql("select r_regionkey as k, count(*) as n from region group by 5").collect()
    }
    assert(e2.getMessage.contains("position 5"))
    // an expression WRAPPING count still sees 0 for an empty group
    val wrapped = g.sql(
      "select n_nationkey as k, (select 100 - count(*) from customer c " +
      "where c.c_nationkey = n.n_nationkey and c.c_acctbal > 99999999) as x " +
      "from nation n order by k limit 2").collect().map(_.getLong(1))
    assert(wrapped.toSeq == Seq(100L, 100L), s"wrapped COUNT over empty group: ${wrapped.toSeq}")
    // duplicate CTE names are rejected
    val e3 = intercept[graft.translate.GraftAnalysisException] {
      g.sql("with x as (select 1 as a), x as (select 2 as a) select a from x")
    }
    assert(e3.getMessage.contains("duplicate"))
    // DROP TABLE keeps its keyword through the pretty-printer
    val ast = graft.parser.SqlParser.parse("drop table if exists t1").toOption.get
    assert(graft.ast.Pretty.print(ast) == "drop table if exists t1")
  }

  test("SELECT * with a correlated WHERE subquery hides internal columns") {
    val g = TestSpark.session
    val df = g.sql(
      "select * from nation n where n_nationkey < " +
      "(select count(*) from customer c where c.c_nationkey = n.n_nationkey) * 100")
    assert(!df.columns.exists(_.startsWith("__sq")),
      s"internal decorrelation columns leaked: ${df.columns.mkString(",")}")
    assert(df.columns.toSeq == g.catalog.relation("nation").columns.toSeq)
  }

  // ---- round-3 ADVICE fixes ------------------------------------------------

  test("sqlScript: trailing comment with an apostrophe is not a statement") {
    val out = g.sqlScript(
      "select count(*) as n from region; -- that's all\n")
    assert(out.collect().head.getLong(0) == 5L)
    // and a block comment with a quote char, alone after the ;
    val out2 = g.sqlScript("select 1 as a; /* don't parse me */")
    assert(out2.collect().head.getLong(0) == 1L)
  }

  test("correlated scalar subquery in an aggregating SELECT raises clearly") {
    val e = intercept[graft.translate.GraftAnalysisException] {
      g.sql(
        "select n_regionkey, count(*) as n, " +
        "(select max(c_acctbal) from customer c where c.c_nationkey = n.n_nationkey) as m " +
        "from nation n group by n_regionkey")
    }
    assert(e.getMessage.contains("aggregating"), e.getMessage)
    val e2 = intercept[graft.translate.GraftAnalysisException] {
      g.sql(
        "select n_regionkey, count(*) as n from nation n group by n_regionkey " +
        "having count(*) > (select count(*) from customer c where c.c_nationkey = n.n_regionkey)")
    }
    assert(e2.getMessage.contains("aggregating"), e2.getMessage)
    // WHERE stays supported in an aggregating SELECT (pre-aggregation)
    val ok = g.sql(
      "select n_regionkey, count(*) as n from nation n " +
      "where n_nationkey <= (select count(*) from customer c where c.c_nationkey = n.n_nationkey) " +
      "group by n_regionkey")
    assert(ok.count() >= 0)
  }

  test("OVER (ORDER BY ALL) is rejected at parse time, not in Catalyst") {
    val r = graft.parser.SqlParser.parse(
      "select rank() over (order by all) as r from region")
    assert(r.toOption.isEmpty, "ORDER BY ALL must not parse inside OVER()")
  }

  test("asof join breaks duplicate right timestamps deterministically") {
    val left = Seq((1, 10L, "L")).toDF("k", "t", "lv")
    // two right rows at the identical (key, time) with different payloads
    val right = Seq((1, 10L, "a", 1.0), (1, 10L, "b", 2.0))
      .toDF("k", "t", "rv", "rx")
    val outs = (1 to 3).map { i =>
      val r = graft.operators.AsOf.join(
        left, right.repartition(i + 1), Seq("k"), "t")
      val row = r.collect().head
      (row.getAs[String]("rv"), row.getAs[Double]("rx"))
    }
    assert(outs.distinct.size == 1, s"nondeterministic asof tiebreak: $outs")
    // documented rule: the greatest payload struct wins
    assert(outs.head == ("b", 2.0))
  }

  test("DROP TABLE/STREAM kind must match the relation's declared kind") {
    g.sql("create stream r3s (a int) as (select 1 as a)")
    val e = intercept[graft.translate.GraftAnalysisException] {
      g.sql("drop table r3s")
    }
    assert(e.getMessage.contains("is a stream"), e.getMessage)
    g.sql("drop stream r3s") // matching kind works
    assert(!g.catalog.hasRelation("r3s"))
    val e2 = intercept[graft.translate.GraftAnalysisException] {
      g.sql("drop stream region")
    }
    assert(e2.getMessage.contains("is a table"), e2.getMessage)
    assert(g.catalog.hasRelation("region"))
  }
}
