package graft.gates

import graft.GraftSession
import graft.operators.Subwords
import org.apache.spark.sql.functions.{round => rnd, sum => fsum}
import Duck._
import Family._
import Harness._

/** The dialect gates: batch SQL through `GraftSession.sql`. */
object DialectGates {

  val all: Seq[Gate] = Seq(
    // ---- P1-P5, F1, F7: projection, arithmetic, where and/or ----
    Gate("q01_project_where", Dialect, "SELECT l_orderkey + 3 AS k, l_linenumber AS ln FROM lineitem " +
      "WHERE l_linenumber = 2 OR (l_quantity > 30 AND l_discount >= 0.05) ORDER BY k, ln",
      (s, d) => g(s, d).sql("select l_orderkey + 3 as k, l_linenumber as ln from lineitem " +
      "where l_linenumber = 2 or (l_quantity > 30 and l_discount >= 0.05) order by k, ln")),
    // ---- A1-A6: group by / having / the five reference aggregates ----
    Gate("q02_agg_group_having", Dialect, "SELECT l_returnflag AS f, l_linestatus AS s, COUNT(l_orderkey) AS n, " +
      "ROUND(SUM(l_quantity), 2) AS qty, ROUND(SUM(l_extendedprice), 2) AS price, " +
      "ROUND(AVG(l_discount), 6) AS disc, MIN(l_extendedprice) AS mn, MAX(l_extendedprice) AS mx " +
      "FROM lineitem GROUP BY l_returnflag, l_linestatus HAVING COUNT(l_orderkey) > 100 ORDER BY f, s",
      (s, d) => g(s, d).sql("select l_returnflag as f, l_linestatus as s, count(l_orderkey) as n, " +
      "round(sum(l_quantity), 2) as qty, round(sum(l_extendedprice), 2) as price, " +
      "round(avg(l_discount), 6) as disc, min(l_extendedprice) as mn, max(l_extendedprice) as mx " +
      "from lineitem group by l_returnflag, l_linestatus having count(l_orderkey) > 100 order by f, s")),
    // ---- P6/P7/§2.6: case-when, scalar functions, `/`→Double ----
    Gate("q03_case_scalar_fns", Dialect, "SELECT l_orderkey AS k, l_linenumber AS ln, " +
      "CASE WHEN l_quantity > 25 THEN 'big' ELSE 'small' END AS sz, " +
      "CAST(l_extendedprice AS DOUBLE) / 2 AS half, ABS(0 - l_tax) AS t, " +
      "UPPER(l_returnflag) AS uf, LOWER(l_linestatus) AS ls, SUBSTRING(l_linestatus, 1, 1) AS s1 " +
      "FROM lineitem WHERE l_orderkey < 500 ORDER BY k, ln",
      (s, d) => g(s, d).sql("select l_orderkey as k, l_linenumber as ln, " +
      "case when l_quantity > 25 then 'big' else 'small' end as sz, " +
      // NOTE: /2 stays unrounded — binary-exact in both engines; round()
      // on .xx5 halves diverges (Spark HALF_UP on decimal string vs
      // DuckDB round-half-even on the binary double).
      "l_extendedprice / 2 as half, abs(0 - l_tax) as t, " +
      "upper(l_returnflag) as uf, lower(l_linestatus) as ls, substring(l_linestatus, 1, 1) as s1 " +
      "from lineitem where l_orderkey < 500 order by k, ln")),
    // ---- J4/J5: inner join chain with ON predicates ----
    Gate("q04_join_chain", Dialect, "SELECT c.c_custkey AS ck, n.n_name AS nation, r.r_name AS region " +
      "FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey " +
      "JOIN region r ON n.n_regionkey = r.r_regionkey WHERE c.c_acctbal > 9000 ORDER BY ck",
      (s, d) => g(s, d).sql("select c.c_custkey as ck, n.n_name as nation, r.r_name as region " +
      "from customer c join nation n on c.c_nationkey = n.n_nationkey " +
      "join region r on n.n_regionkey = r.r_regionkey where c.c_acctbal > 9000 order by ck")),
    // ---- J2/J4: left outer join (extra ON conjunct leaves unmatched rows) ----
    Gate("q05_join_left", Dialect, "SELECT c.c_custkey AS ck, o.o_orderkey AS ok FROM customer c " +
      "LEFT JOIN orders o ON c.c_custkey = o.o_custkey AND o.o_totalprice > 400000 " +
      "ORDER BY ck, ok NULLS FIRST",
      (s, d) => g(s, d).sql("select c.c_custkey as ck, o.o_orderkey as ok from customer c " +
      "left join orders o on c.c_custkey = o.o_custkey and o.o_totalprice > 400000 " +
      "order by ck, ok")),
    Gate("q06_join_right", Dialect, "SELECT n.n_name AS nation, c.c_custkey AS ck FROM customer c " +
      "RIGHT JOIN nation n ON c.c_nationkey = n.n_nationkey AND c.c_acctbal > 9999 " +
      "ORDER BY nation, ck NULLS FIRST",
      (s, d) => g(s, d).sql("select n.n_name as nation, c.c_custkey as ck from customer c " +
      "right join nation n on c.c_nationkey = n.n_nationkey and c.c_acctbal > 9999 " +
      "order by nation, ck")),
    Gate("q07_join_full", Dialect, "SELECT n.n_name AS nation, r.r_name AS region FROM nation n " +
      "FULL OUTER JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_regionkey < 2 " +
      "ORDER BY nation NULLS FIRST, region NULLS FIRST",
      (s, d) => g(s, d).sql("select n.n_name as nation, r.r_name as region from nation n " +
      "full outer join region r on n.n_regionkey = r.r_regionkey and r.r_regionkey < 2 " +
      "order by nation, region")),
    // ---- J3/J1/J6: USING join chained with CROSS JOIN ----
    Gate("q08_join_using_cross", Dialect,
      "SELECT COUNT(*) AS n FROM nation a JOIN nation b USING (n_regionkey) CROSS JOIN region",
      (s, d) => g(s, d).sql("select count(*) as n from nation a join nation b using (n_regionkey) cross join region")),
    // ---- O1/O2: multi-key sort, limit, offset ----
    Gate("q09_order_limit_offset", Dialect, "SELECT o_orderkey AS k, o_totalprice AS p FROM orders " +
      "ORDER BY o_totalprice DESC, o_orderkey LIMIT 10 OFFSET 5",
      (s, d) => g(s, d).sql("select o_orderkey as k, o_totalprice as p from orders " +
      "order by o_totalprice desc, o_orderkey limit 10 offset 5")),
    // ---- P11: DISTINCT ----
    Gate("q10_distinct", Dialect, "SELECT DISTINCT l_returnflag AS f, l_linestatus AS s FROM lineitem ORDER BY f, s",
      (s, d) => g(s, d).sql("select distinct l_returnflag as f, l_linestatus as s from lineitem order by f, s")),
    // ---- O3: set operations ----
    Gate("q11_union", Dialect, "SELECT n_regionkey AS k FROM nation UNION SELECT r_regionkey FROM region ORDER BY k",
      (s, d) => g(s, d).sql("select n_regionkey as k from nation union select r_regionkey from region order by k")),
    Gate("q12_union_all", Dialect,
      "SELECT n_regionkey AS k FROM nation UNION ALL SELECT r_regionkey FROM region ORDER BY k",
      (s, d) => g(s, d).sql("select n_regionkey as k from nation union all select r_regionkey from region order by k")),
    Gate("q13_except", Dialect, "SELECT n_regionkey AS k FROM nation EXCEPT " +
      "SELECT r_regionkey FROM region WHERE r_regionkey < 2 ORDER BY k",
      (s, d) => g(s, d).sql(
      "select n_regionkey as k from nation except select r_regionkey from region where r_regionkey < 2 order by k")),
    Gate("q14_intersect", Dialect,
      "SELECT n_regionkey AS k FROM nation INTERSECT SELECT r_regionkey FROM region ORDER BY k",
      (s, d) => g(s, d).sql("select n_regionkey as k from nation intersect select r_regionkey from region order by k")),
    // ---- F2-F5: IN-list, BETWEEN, LIKE, IS NULL ----
    Gate("q15_predicates", Dialect, "SELECT COUNT(*) AS n FROM orders WHERE o_orderstatus IN ('F', 'O') " +
      "AND o_totalprice BETWEEN 1000 AND 200000 AND o_orderpriority LIKE '1%' " +
      "AND o_custkey IS NOT NULL",
      (s, d) => g(s, d).sql("select count(*) as n from orders where o_orderstatus in ('F', 'O') " +
      "and o_totalprice between 1000 and 200000 and o_orderpriority like '1%' " +
      "and o_custkey is not null")),
    // ---- F5/F6 + Q3: IN (subquery), correlated EXISTS ----
    Gate("q16_in_exists_subq", Dialect, "SELECT c_custkey AS ck FROM customer c " +
      "WHERE c_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 1) " +
      "AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 200000) " +
      "ORDER BY ck",
      (s, d) => g(s, d).sql("select c_custkey as ck from customer c " +
      "where c_nationkey in (select n_nationkey from nation where n_regionkey = 1) " +
      "and exists (select 1 from orders o where o.o_custkey = c.c_custkey and o.o_totalprice > 200000) " +
      "order by ck")),
    Gate("q17_not_in_not_exists", Dialect, "SELECT COUNT(*) AS n FROM customer c " +
      "WHERE c_nationkey NOT IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 0) " +
      "AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)",
      (s, d) => g(s, d).sql("select count(*) as n from customer c " +
      "where c_nationkey not in (select n_nationkey from nation where n_regionkey = 0) " +
      "and not exists (select 1 from orders o where o.o_custkey = c.c_custkey)")),
    // ---- P9: scalar subquery in a comparison ----
    Gate("q18_scalar_subquery", Dialect, "SELECT o_orderkey AS k FROM orders " +
      "WHERE o_totalprice > (SELECT MAX(o_totalprice) - 1000 FROM orders) ORDER BY k",
      (s, d) => g(s, d).sql("select o_orderkey as k from orders " +
      "where o_totalprice > (select max(o_totalprice) - 1000 from orders) order by k")),
    // ---- P8: positional ? parameters (typed from context, bound in order) ----
    Gate("q19_params", Dialect, "SELECT l_orderkey AS k, l_linenumber AS ln FROM lineitem " +
      "WHERE l_quantity > 45 AND l_discount < 0.02 ORDER BY k, ln LIMIT 7",
      (s, d) => g(s, d).sql("select l_orderkey as k, l_linenumber as ln from lineitem " +
      "where l_quantity > ? and l_discount < ? order by k, ln limit ?",
      45, 0.02, 7L)),
    // ---- Q1: derived table in FROM ----
    Gate("q20_derived_table", Dialect,
      "SELECT k, cnt FROM (SELECT l_orderkey AS k, COUNT(*) AS cnt FROM lineitem GROUP BY l_orderkey) t " +
      "WHERE cnt >= 6 ORDER BY k",
      (s, d) => g(s, d).sql(
      "select k, cnt from (select l_orderkey as k, count(*) as cnt from lineitem group by l_orderkey) as t " +
      "where cnt >= 6 order by k")),
    // ---- Q5: dual (SELECT without FROM) + literals ----
    Gate("q21_dual", Dialect, "SELECT CAST(1 + 2 AS BIGINT) AS three, UPPER('ab') AS u, " +
      "CASE WHEN 1 < 2 THEN 'y' ELSE 'n' END AS c",
      (s, d) => g(s, d).sql("select 1 + 2 as three, upper('ab') as u, case when 1 < 2 then 'y' else 'n' end as c")),
    // ---- A3: WITH ROLLUP ----
    Gate("q22_rollup", Dialect, "SELECT l_returnflag AS f, l_linestatus AS s, ROUND(SUM(l_quantity), 2) AS qty " +
      "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) " +
      "ORDER BY f NULLS FIRST, s NULLS FIRST",
      (s, d) => g(s, d).sql("select l_returnflag as f, l_linestatus as s, round(sum(l_quantity), 2) as qty " +
      "from lineitem group by l_returnflag, l_linestatus with rollup order by f, s")),
    // ---- §2.5 note: distinct aggregates (parsed-and-dropped upstream, real here) ----
    Gate("q23_distinct_agg", Dialect,
      "SELECT COUNT(DISTINCT l_suppkey) AS ns, CAST(SUM(DISTINCT l_linenumber) AS BIGINT) AS sl " +
      "FROM lineitem",
      (s, d) => g(s, d).sql("select count(distinct l_suppkey) as ns, sum(distinct l_linenumber) as sl from lineitem")),
    // ---- W1/W4: tumbling event-time window ----
    Gate("q24_window_tumbling", Dialect, s"SELECT ${bucketUs("ts", 86400000000L)} AS w_start, COUNT(*) AS n, " +
      "ROUND(SUM(value), 4) AS v FROM events GROUP BY 1 ORDER BY 1",
      (s, d) => g(s, d).sql("select w_start, count(*) as n, round(sum(value), 4) as v " +
      "from events [size 1 d on ts] group by w_start order by w_start")),
    // ---- W3: sliding window (rows explode into size/every buckets) ----
    Gate("q25_window_sliding", Dialect,
      "SELECT make_timestamp((epoch_us(CAST(ts AS TIMESTAMP)) // 86400000000 - o.off) * 86400000000) AS w_start, " +
      "COUNT(*) AS n FROM events, (SELECT UNNEST([0, 1]) AS off) o GROUP BY 1 ORDER BY 1",
      (s, d) => g(s, d).sql("select w_start, count(*) as n from events [size 2 d on ts every 1 d] " +
      "group by w_start order by w_start")),
    // ---- W3 gap form (r11): every > size — rows in gaps belong to NO
    // window and are dropped; starts align to `every`, w_end = start+size ----
    Gate("q118_window_gap", Dialect,
      // q118: gap window — keep rows in the first day of each 2-day period
      s"SELECT ${bucketUs("ts", 172800000000L)} AS w_start, " +
      s"${bucketUs("ts", 172800000000L)} + INTERVAL 1 DAY AS w_end, " +
      "COUNT(*) AS n, ROUND(SUM(value), 4) AS v FROM events " +
      "WHERE epoch_us(CAST(ts AS TIMESTAMP)) % 172800000000 < 86400000000 " +
      "GROUP BY 1, 2 ORDER BY 1",
      (s, d) => g(s, d).sql("select w_start, w_end, count(*) as n, round(sum(value), 4) as v " +
      "from events [size 1 d on ts every 2 d] " +
      "group by w_start, w_end order by w_start")),
    // ---- W5: partitioned (per-key) window ----
    Gate("q26_window_partitioned", Dialect, s"SELECT ${bucketUs("ts", 86400000000L)} AS w_start, event_type AS et, " +
      "ROUND(SUM(value), 4) AS v FROM events GROUP BY 1, 2 ORDER BY 1, 2",
      (s, d) => g(s, d).sql("select w_start, event_type as et, round(sum(value), 4) as v " +
      "from events [size 1 d on ts partitioned on event_type] group by event_type order by w_start, et")),
    // ---- W2: count window (the reference's one op with no Spark primitive) ----
    Gate("q27_count_window", Dialect, "SELECT w_id, et, COUNT(*) AS n FROM (SELECT (row_number() OVER " +
      "(PARTITION BY event_type ORDER BY event_id) - 1) // 100 AS w_id, event_type AS et " +
      "FROM events) GROUP BY 1, 2 ORDER BY 2, 1",
      (s, d) => g(s, d).sql("select w_id, event_type as et, count(*) as n " +
      "from events [size 100 on event_id partitioned on event_type] group by event_type order by et, w_id")),
    // ---- W2 sliding form (r11): every < size — rows land in up to
    // ceil(size/every) overlapping count windows ----
    Gate("q120_count_window_sliding", Dialect,
      // q120/q121: window j covers per-key row indexes
      // [(j+1)*s - n, (j+1)*s - 1]  =>  row r is in j from r//s
      // to (r+n)//s - 1 (generate_series is empty when stop < start)
      "SELECT w_id, et, COUNT(*) AS n FROM (" +
      "SELECT event_type AS et, UNNEST(generate_series(r // 40, (r + 100) // 40 - 1)) AS w_id " +
      "FROM (SELECT event_type, (row_number() OVER " +
      "(PARTITION BY event_type ORDER BY event_id) - 1) AS r FROM events)) " +
      "GROUP BY 1, 2 ORDER BY 2, 1",
      (s, d) => g(s, d).sql("select w_id, event_type as et, count(*) as n " +
      "from events [size 100 every 40 on event_id partitioned on event_type] " +
      "group by event_type order by et, w_id")),
    // ---- W2 gap form (r11): every > size on the UNKEYED path (pinned
    // zipWithIndex flatMap) — rows between windows belong to none ----
    Gate("q121_count_window_gap", Dialect,
      "SELECT w_id, COUNT(*) AS n, MIN(event_id) AS mn, MAX(event_id) AS mx FROM (" +
      "SELECT event_id, UNNEST(generate_series(r // 120, (r + 50) // 120 - 1)) AS w_id " +
      "FROM (SELECT event_id, (row_number() OVER (ORDER BY event_id) - 1) AS r FROM events)) " +
      "GROUP BY 1 ORDER BY 1",
      (s, d) => g(s, d).sql("select w_id, count(*) as n, min(event_id) as mn, max(event_id) as mx " +
      "from events [size 50 every 120 on event_id] " +
      "group by w_id order by w_id")),
    // ---- W6: windowed stream-stream join (equi-join on window bucket) ----
    Gate("q28_windowed_join", Dialect, "SELECT COUNT(*) AS n FROM " +
      "(SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS b, event_type FROM events) e1 " +
      "JOIN (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS b, event_type AS et2 FROM events) e2 " +
      "ON e1.b = e2.b AND e1.event_type = e2.et2 GROUP BY e1.b ORDER BY n",
      (s, d) => g(s, d).sql("select count(*) as n from events [size 1 h on ts] as e1 " +
      "join events [size 1 h on ts] as e2 on e1.event_type = e2.event_type order by n")),
    // ---- S1/S2/S5: CREATE SCHEMA (+extends) / CREATE STREAM with derived source ----
    Gate("q29_ddl_derived_stream", Dialect, "SELECT COUNT(*) AS n FROM events WHERE value > 100", (s, d) => {
      val e = g(s, d)
      e.sql("create schema q29_base (event_id long)")
      e.sql("create stream q29_hot q29_base as (select event_id from events where value > 100)")
      e.sql("select count(*) as n from q29_hot")
    }),
    // ---- S6/S7: INSERT INTO … VALUES and INSERT INTO … SELECT ----
    Gate("q30_insert", Dialect, "SELECT a, b FROM (SELECT CAST(1 AS BIGINT) AS a, 'x' AS b UNION ALL SELECT 2, 'y' " +
      "UNION ALL SELECT l_orderkey, l_returnflag FROM lineitem WHERE l_orderkey < 3) " +
      "ORDER BY a, b",
      (s, d) => {
      val e = g(s, d)
      e.sql("create stream q30_sink (a long, b string)")
      e.sql("insert into q30_sink (a, b) values (1, 'x'), (2, 'y')")
      e.sql("insert into q30_sink select l_orderkey, l_returnflag from lineitem where l_orderkey < 3")
      e.sql("select a, b from q30_sink order by a, b")
    }),
    // ---- session (gap) windows — beyond-reference extension (SURVEY §2.9) ----
    Gate("q32_session_window", Dialect,
      "WITH x AS (SELECT event_type, value, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events), " +
      "f AS (SELECT *, CASE WHEN LAG(us) OVER (PARTITION BY event_type ORDER BY us) IS NULL " +
      "OR us - LAG(us) OVER (PARTITION BY event_type ORDER BY us) > 1800000000 THEN 1 ELSE 0 END AS nf FROM x), " +
      "s AS (SELECT *, SUM(nf) OVER (PARTITION BY event_type ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid FROM f) " +
      "SELECT make_timestamp(MIN(us)) AS w_start, make_timestamp(MAX(us) + 1800000000) AS w_end, " +
      "event_type AS et, COUNT(*) AS n, ROUND(SUM(value), 4) AS v FROM s " +
      "GROUP BY event_type, sid ORDER BY et, w_start",
      (s, d) => g(s, d).sql("select w_start, w_end, event_type as et, count(*) as n, round(sum(value), 4) as v " +
      "from events [session 30 min on ts partitioned on event_type] " +
      "group by event_type order by et, w_start")),
    // ---- analytic OVER functions — beyond-reference extension (§2.7 notes
    // the reference has no OVER anywhere; a data-pipeline engine needs them
    // for keep-first dedup, per-key ranking, running totals) ----
    Gate("q33_analytic", Dialect, "SELECT o_custkey AS ck, o_orderkey AS k, " +
      "row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn, " +
      "lag(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey) AS prev, " +
      "ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey), 2) AS tot, " +
      "ROUND(AVG(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey), 6) AS run_avg " +
      "FROM orders WHERE o_custkey < 200 ORDER BY ck, k",
      (s, d) => g(s, d).sql("select o_custkey as ck, o_orderkey as k, " +
      "row_number() over (partition by o_custkey order by o_totalprice desc, o_orderkey) as rn, " +
      "lag(o_orderkey) over (partition by o_custkey order by o_orderkey) as prev, " +
      "round(sum(o_totalprice) over (partition by o_custkey), 2) as tot, " +
      // round(6): avg of 2-decimal values lands on exact .xx5 at scale 2
      // (Spark HALF_UP vs DuckDB half-even diverge); scale 6 is boundary-free
      "round(avg(o_totalprice) over (partition by o_custkey order by o_orderkey), 6) as run_avg " +
      "from orders where o_custkey < 200 order by ck, k")),
    // ---- O5/O6: UPDATE / DELETE executed copy-on-write on session relations ----
    Gate("q34_update_delete", Dialect,
      "WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS status, o_totalprice AS amount " +
      "FROM orders WHERE o_orderkey < 100), " +
      "upd AS (SELECT k, CASE WHEN amount > 100000 THEN 'X' ELSE status END AS status, " +
      "CASE WHEN amount > 100000 THEN amount * 2 ELSE amount END AS amount FROM base), " +
      "del AS (SELECT * FROM upd WHERE NOT (status = 'O' AND amount < 50000)) " +
      "SELECT k, status, ROUND(amount, 2) AS amount FROM del ORDER BY k",
      (s, d) => {
      val e = g(s, d)
      e.sql("create stream q34_t (k long, status string, amount double)")
      e.sql("insert into q34_t select o_orderkey, o_orderstatus, o_totalprice from orders where o_orderkey < 100")
      e.sql("update q34_t set status = 'X', amount = amount * 2 where amount > 100000")
      e.sql("delete from q34_t where status = 'O' and amount < 50000")
      e.sql("select k, status, round(amount, 2) as amount from q34_t order by k")
    }),
    // ---- A3 extension: WITH CUBE (reference grammar has only ROLLUP) ----
    Gate("q35_cube", Dialect,
      "SELECT l_returnflag AS f, l_linestatus AS s, COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS qty " +
      "FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus) " +
      "ORDER BY f NULLS FIRST, s NULLS FIRST",
      (s, d) => g(s, d).sql(
      "select l_returnflag as f, l_linestatus as s, count(*) as n, round(sum(l_quantity), 2) as qty " +
      "from lineitem group by l_returnflag, l_linestatus with cube order by f, s")),
    // ---- sketch aggregates (approx distinct / percentile) — the gate
    // emits exact values plus within-tolerance flags, so the approximate
    // results stay DuckDB-checkable. The exact-distinct and the
    // object-state sketches aggregate in SEPARATE single-row subqueries
    // (cross-joined): mixing count(distinct) with HLL/percentile buffers
    // makes Spark's distinct rewrite group by the distinct key first,
    // carrying one sketch per key through the shuffle (measured 44 s vs
    // 3 s decomposed at sf0.1) ----
    Gate("q36_sketches", Dialect, "SELECT COUNT(DISTINCT o_custkey) AS exact_cd, " +
      "CAST(1 AS BIGINT) AS acd_ok, CAST(1 AS BIGINT) AS pct_ok FROM orders",
      (s, d) => g(s, d).sql("select exact_cd, " +
      // rsd 0.01 sketch, 5% acceptance: the estimate is deterministic
      // (order-independent HLL merge) and comfortably inside tolerance
      "case when abs(acd - exact_cd) <= 0.05 * exact_cd then 1 else 0 end as acd_ok, " +
      "case when abs(pa - p) <= 0.02 * p then 1 else 0 end as pct_ok " +
      "from (select count(distinct o_custkey) as exact_cd from orders) as a " +
      "cross join (select approx_count_distinct(o_custkey, 0.01) as acd, " +
      "percentile_approx(o_totalprice, 0.5) as pa, percentile(o_totalprice, 0.5) as p " +
      "from orders) as b")),
    // ---- MERGE INTO (upsert) — beyond-reference extension; actions in
    // declaration order, first match wins, cardinality-checked ----
    Gate("q37_merge", Dialect,
      "WITH base AS (SELECT o_orderkey AS k, o_orderstatus AS status, o_totalprice AS amount " +
      "FROM orders WHERE o_orderkey < 60), " +
      "s AS (SELECT o_orderkey AS k, o_totalprice AS p FROM orders " +
      "WHERE o_orderkey > 20 AND o_orderkey < 80), " +
      "m AS (SELECT b.k AS k, b.status AS status, b.amount AS amount, s.p AS p, " +
      "s.k IS NOT NULL AS mt FROM base b LEFT JOIN s ON b.k = s.k), " +
      "surv AS (SELECT k, CASE WHEN mt AND p > 150000 THEN 'H' ELSE status END AS status, " +
      "CASE WHEN mt AND p > 150000 THEN p * 2 ELSE amount END AS amount " +
      "FROM m WHERE NOT (mt AND p < 50000)), " +
      "ins AS (SELECT s.k AS k, 'N' AS status, s.p AS amount FROM s " +
      "LEFT JOIN base b ON s.k = b.k WHERE b.k IS NULL) " +
      "SELECT k, status, ROUND(amount, 2) AS amount FROM " +
      "(SELECT * FROM surv UNION ALL SELECT * FROM ins) ORDER BY k",
      (s, d) => {
      val e = g(s, d)
      e.sql("create stream q37_t (k long, status string, amount double)")
      e.sql("insert into q37_t select o_orderkey, o_orderstatus, o_totalprice from orders where o_orderkey < 60")
      e.sql(
        "merge into q37_t as t " +
        "using (select o_orderkey as k, o_totalprice as p from orders " +
        "where o_orderkey > 20 and o_orderkey < 80) as s " +
        "on t.k = s.k " +
        "when matched and s.p > 150000 then update set status = 'H', amount = s.p * 2 " +
        "when matched and s.p < 50000 then delete " +
        "when not matched then insert (k, status, amount) values (s.k, 'N', s.p)")
      e.sql("select k, status, round(amount, 2) as amount from q37_t order by k")
    }),
    // ---- WITH (CTEs) — beyond-reference extension ----
    Gate("q38_cte", Dialect, "WITH big AS (SELECT o_custkey AS ck, COUNT(*) AS n FROM orders GROUP BY o_custkey), " +
      "named AS (SELECT b.ck, b.n, c.c_acctbal AS bal FROM big b JOIN customer c ON b.ck = c.c_custkey) " +
      "SELECT ck, n, ROUND(bal, 2) AS bal FROM named WHERE n >= 15 ORDER BY ck",
      (s, d) => g(s, d).sql("with big as (select o_custkey as ck, count(*) as n from orders group by o_custkey), " +
      "named as (select b.ck, b.n, c.c_acctbal as bal from big b join customer c on b.ck = c.c_custkey) " +
      "select ck, n, round(bal, 2) as bal from named where n >= 15 order by ck")),
    // ---- QUALIFY — beyond-reference extension (keep-top-k per key, the
    // canonical training-data curation idiom) ----
    Gate("q39_qualify", Dialect, "SELECT o_custkey AS ck, o_orderkey AS k, o_totalprice AS p FROM orders " +
      "WHERE o_custkey < 100 " +
      "QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) <= 2 " +
      "ORDER BY ck, k",
      (s, d) => g(s, d).sql("select o_custkey as ck, o_orderkey as k, o_totalprice as p from orders " +
      "where o_custkey < 100 " +
      "qualify row_number() over (partition by o_custkey order by o_totalprice desc, o_orderkey) <= 2 " +
      "order by ck, k")),
    // ---- GROUP BY GROUPING SETS — beyond-reference extension ----
    Gate("q40_grouping_sets", Dialect,
      "SELECT l_returnflag AS f, l_linestatus AS s, COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS qty " +
      "FROM lineitem GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ()) " +
      "ORDER BY f NULLS FIRST, s NULLS FIRST",
      (s, d) => g(s, d).sql(
      "select l_returnflag as f, l_linestatus as s, count(*) as n, round(sum(l_quantity), 2) as qty " +
      "from lineitem group by grouping sets ((l_returnflag, l_linestatus), (l_linestatus), ()) " +
      "order by f, s")),
    // ---- scalar library breadth: date/time extraction, string functions,
    // math, COALESCE, explicit CAST — all through the dialect's Registry
    // passthrough (reference P7: unknown names type as Any and pass
    // through; ours resolve against Spark's full built-in library) ----
    Gate("q41_scalar_breadth", Dialect, "SELECT o_orderkey AS k, " +
      "CAST(year(o_orderdate) AS INTEGER) AS y, CAST(month(o_orderdate) AS INTEGER) AS m, " +
      "CAST(day(o_orderdate) AS INTEGER) AS d, " +
      "date_trunc('month', o_orderdate) AS mo, " +
      "CAST(length(o_orderpriority) AS INTEGER) AS lp, " +
      "replace(o_orderpriority, '-', '_') AS rp, " +
      "concat(o_orderstatus, '_', o_orderpriority) AS cc, " +
      "CAST(FLOOR(o_totalprice) AS BIGINT) AS tp_l, " +
      "COALESCE(NULL, o_orderstatus) AS co, " +
      "ROUND(sqrt(o_totalprice), 6) AS sq, ROUND(ln(o_totalprice), 6) AS lg, " +
      "CAST(FLOOR(o_totalprice / 1000) AS BIGINT) AS fl, " +
      "CAST(CEIL(o_totalprice / 1000) AS BIGINT) AS ce " +
      "FROM orders WHERE o_orderkey < 200 ORDER BY k",
      (s, d) => g(s, d).sql("select o_orderkey as k, " +
      "year(o_orderdate) as y, month(o_orderdate) as m, day(o_orderdate) as d, " +
      "date_trunc('month', o_orderdate) as mo, " +
      "length(o_orderpriority) as lp, " +
      "replace(o_orderpriority, '-', '_') as rp, " +
      "concat(o_orderstatus, '_', o_orderpriority) as cc, " +
      "cast(floor(o_totalprice) as long) as tp_l, " +
      "coalesce(null, o_orderstatus) as co, " +
      "round(sqrt(o_totalprice), 6) as sq, round(ln(o_totalprice), 6) as lg, " +
      "cast(floor(o_totalprice / 1000) as long) as fl, " +
      "cast(ceil(o_totalprice / 1000) as long) as ce " +
      "from orders where o_orderkey < 200 order by k")),
    // ---- ANSI sugar: `||` concat, simple CASE, GROUP BY/ORDER BY
    // ordinals — beyond-reference SQL completeness ----
    Gate("q42_ansi_sugar", Dialect, "SELECT o_orderstatus || '_' || o_orderpriority AS tag, " +
      "CASE o_orderstatus WHEN 'F' THEN 'finished' WHEN 'O' THEN 'open' ELSE 'other' END AS st, " +
      "COUNT(*) AS n FROM orders GROUP BY 1, 2 ORDER BY 1, 2",
      (s, d) => g(s, d).sql("select o_orderstatus || '_' || o_orderpriority as tag, " +
      "case o_orderstatus when 'F' then 'finished' when 'O' then 'open' else 'other' end as st, " +
      "count(*) as n from orders group by 1, 2 order by 1, 2")),
    // ---- explicit NULLS FIRST/LAST (outer join nulls sorted last) ----
    Gate("q43_nulls_last", Dialect, "SELECT n.n_name AS nation, c.c_custkey AS ck FROM customer c " +
      "RIGHT JOIN nation n ON c.c_nationkey = n.n_nationkey AND c.c_acctbal > 9998 " +
      "ORDER BY nation, ck NULLS LAST",
      (s, d) => g(s, d).sql("select n.n_name as nation, c.c_custkey as ck from customer c " +
      "right join nation n on c.c_nationkey = n.n_nationkey and c.c_acctbal > 9998 " +
      "order by nation, ck nulls last")),
    // ---- correlated scalar subqueries (decorrelated to per-key aggregate
    // left joins; COUNT's empty group yields 0 — the COUNT-bug correction) ----
    Gate("q44_correlated_scalar", Dialect, "SELECT n_name AS nation, " +
      "(SELECT COUNT(*) FROM customer c WHERE c.c_nationkey = n.n_nationkey AND c.c_acctbal > 5000) AS nc, " +
      "(SELECT ROUND(MAX(c_acctbal), 2) FROM customer c2 WHERE c2.c_nationkey = n.n_nationkey) AS mx " +
      "FROM nation n ORDER BY nation",
      (s, d) => g(s, d).sql("select n_name as nation, " +
      "(select count(*) from customer c where c.c_nationkey = n.n_nationkey and c.c_acctbal > 5000) as nc, " +
      "(select round(max(c_acctbal), 2) from customer c2 where c2.c_nationkey = n.n_nationkey) as mx " +
      "from nation n order by nation")),
    // ---- VALUES relation (inline literal table; broadcast-join fodder) ----
    Gate("q45_values_rel", Dialect, "SELECT CAST(t.a AS BIGINT) AS a, t.b AS b, n.n_name AS nation " +
      "FROM (VALUES (0, 'x'), (1, 'y'), (1, 'z')) t(a, b) " +
      "JOIN nation n ON n.n_regionkey = t.a WHERE n.n_nationkey < 10 " +
      "ORDER BY a, b, nation",
      (s, d) => g(s, d).sql("select t.a as a, t.b as b, n.n_name as nation " +
      "from (values (0, 'x'), (1, 'y'), (1, 'z')) as t(a, b) " +
      "join nation n on n.n_regionkey = t.a where n.n_nationkey < 10 " +
      "order by a, b, nation")),
    // ---- UDTF surface (§2.10): DuckDB-style select-position unnest →
    // Spark explode generator (row expansion stays a narrow operation) ----
    Gate("q46_unnest", Dialect, "SELECT doc_id, tok FROM " +
      "(SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) u " +
      "WHERE tok LIKE 'q%' ORDER BY doc_id, tok",
      (s, d) => g(s, d).sql("select doc_id, tok from " +
      "(select doc_id, unnest(split(text, ' ')) as tok from documents) as u " +
      "where tok like 'q%' order by doc_id, tok")),
    // ---- nested array functions: collect_set → sort_array → array_join
    // (deterministic set aggregation, fully codegen-composable) ----
    Gate("q47_array_agg", Dialect,
      "SELECT l_returnflag AS f, array_to_string(list_sort(list_distinct(list(l_linestatus))), ',') AS ss " +
      "FROM lineitem GROUP BY 1 ORDER BY 1",
      (s, d) => g(s, d).sql("select l_returnflag as f, array_join(sort_array(collect_set(l_linestatus)), ',') as ss " +
      "from lineitem group by l_returnflag order by f")),
    // ---- explicit window frames: ROWS/RANGE BETWEEN (rolling windows,
    // running extrema, partition-last — identical bounds in DuckDB) ----
    Gate("q48_window_frames", Dialect, "SELECT o_custkey AS ck, o_orderkey AS k, " +
      "ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey " +
      "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS roll3, " +
      "ROUND(MIN(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS rmin, " +
      "ROUND(MAX(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderkey " +
      "ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING), 2) AS fmax, " +
      "last_value(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderkey " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS lastk, " +
      "COUNT(*) OVER (PARTITION BY o_custkey ORDER BY o_orderkey " +
      "RANGE BETWEEN 1000 PRECEDING AND CURRENT ROW) AS nearby " +
      "FROM orders WHERE o_custkey < 100 ORDER BY ck, k",
      (s, d) => g(s, d).sql("select o_custkey as ck, o_orderkey as k, " +
      "round(sum(o_totalprice) over (partition by o_custkey order by o_orderkey " +
      "rows between 2 preceding and current row), 2) as roll3, " +
      "round(min(o_totalprice) over (partition by o_custkey order by o_orderkey " +
      "rows between unbounded preceding and current row), 2) as rmin, " +
      "round(max(o_totalprice) over (partition by o_custkey order by o_orderkey " +
      "rows between current row and unbounded following), 2) as fmax, " +
      "last_value(o_orderkey) over (partition by o_custkey order by o_orderkey " +
      "rows between unbounded preceding and unbounded following) as lastk, " +
      "count(*) over (partition by o_custkey order by o_orderkey " +
      "range between 1000 preceding and current row) as nearby " +
      "from orders where o_custkey < 100 order by ck, k")),
    // ---- INTERVAL literals + timestamp/date arithmetic and typed
    // literals (time-series staples; identical surface syntax in DuckDB) ----
    Gate("q49_interval_arith", Dialect, "SELECT event_id AS id, CAST(ts AS TIMESTAMP) AS ts, " +
      "CAST(ts AS TIMESTAMP) + INTERVAL 1 DAY AS next_day, " +
      "CAST(ts AS TIMESTAMP) - INTERVAL 30 MINUTE AS earlier, " +
      "CASE WHEN CAST(ts AS TIMESTAMP) + INTERVAL 2 HOUR > TIMESTAMP '2024-01-15 00:00:00' " +
      "THEN 1 ELSE 0 END AS flg, " +
      "DATE '2024-03-01' + INTERVAL 1 DAY AS d2 " +
      "FROM events WHERE event_id < 100 ORDER BY id",
      (s, d) => g(s, d).sql("select event_id as id, ts, ts + interval 1 day as next_day, " +
      "ts - interval 30 minute as earlier, " +
      "case when ts + interval 2 hour > timestamp '2024-01-15 00:00:00' then 1 else 0 end as flg, " +
      "date '2024-03-01' + interval 1 day as d2 " +
      "from events where event_id < 100 order by id")),
    // ---- ANSI FILTER (WHERE …) aggregates + EXTRACT(field FROM e) ----
    Gate("q50_filter_extract", Dialect,
      "SELECT o_orderstatus AS st, CAST(extract(year FROM o_orderdate) AS INTEGER) AS y, " +
      "count(*) FILTER (WHERE o_totalprice > 100000) AS n_big, " +
      "ROUND(SUM(o_totalprice) FILTER (WHERE o_orderpriority LIKE '1%'), 2) AS urgent_sum, " +
      "count(*) AS n FROM orders GROUP BY 1, 2 ORDER BY st, y",
      (s, d) => g(s, d).sql("select o_orderstatus as st, extract(year from o_orderdate) as y, " +
      "count(*) filter (where o_totalprice > 100000) as n_big, " +
      "round(sum(o_totalprice) filter (where o_orderpriority like '1%'), 2) as urgent_sum, " +
      "count(*) as n " +
      "from orders group by o_orderstatus, extract(year from o_orderdate) order by st, y")),
    // ---- GROUP BY ALL + ORDER BY ALL (keys inferred; DuckDB ergonomics) ----
    Gate("q51_group_by_all", Dialect, "SELECT l_returnflag AS f, l_linestatus AS s2, count(*) AS n, " +
      "ROUND(SUM(l_quantity), 2) AS qty FROM lineitem GROUP BY ALL ORDER BY ALL",
      (s, d) => g(s, d).sql("select l_returnflag as f, l_linestatus as s2, count(*) as n, " +
      "round(sum(l_quantity), 2) as qty from lineitem group by all order by all")),
    // ---- quantified comparisons: op ANY / op ALL (subquery) — lowered
    // to semi/anti joins like IN/EXISTS, ANSI NULL + empty-set semantics ----
    Gate("q52_quantified", Dialect, "SELECT o_orderkey AS k, o_totalprice AS p FROM orders " +
      "WHERE o_totalprice >= ALL (SELECT o_totalprice FROM orders WHERE o_custkey = 1) " +
      "AND o_totalprice > ANY (SELECT o_totalprice FROM orders WHERE o_custkey = 2) " +
      "AND o_orderkey = ANY (SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F') " +
      "ORDER BY k",
      (s, d) => g(s, d).sql("select o_orderkey as k, o_totalprice as p from orders " +
      "where o_totalprice >= all (select o_totalprice from orders where o_custkey = 1) " +
      "and o_totalprice > any (select o_totalprice from orders where o_custkey = 2) " +
      "and o_orderkey = any (select o_orderkey from orders where o_orderstatus = 'F') " +
      "order by k")),
    // ---- IS [NOT] DISTINCT FROM: null-safe comparison (Spark `<=>`) ----
    Gate("q53_distinct_from", Dialect, "SELECT c.c_custkey AS ck, o.o_orderkey AS ok, " +
      "CAST((o.o_orderstatus IS NOT DISTINCT FROM 'F') AS INTEGER) AS isf " +
      "FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey AND o.o_totalprice > 350000 " +
      "WHERE o.o_orderkey IS DISTINCT FROM 42 AND c.c_custkey < 500 " +
      "ORDER BY ck, ok NULLS FIRST",
      (s, d) => g(s, d).sql("select c.c_custkey as ck, o.o_orderkey as ok, " +
      "cast((o.o_orderstatus is not distinct from 'F') as int) as isf " +
      "from customer c left join orders o on c.c_custkey = o.o_custkey and o.o_totalprice > 350000 " +
      "where o.o_orderkey is distinct from 42 and c.c_custkey < 500 " +
      "order by ck, ok")),
    // ---- analytic-function breadth: ntile / lag+default / lead /
    // percent_rank / cume_dist (same names + semantics in DuckDB) ----
    Gate("q54_window_breadth", Dialect, "SELECT o_orderkey AS k, " +
      "CAST(ntile(4) OVER w AS INTEGER) AS q4, " +
      "lag(o_totalprice, 1, 0.0) OVER w AS prevp, " +
      "lead(o_orderkey) OVER w AS nxt, " +
      "ROUND(percent_rank() OVER w, 6) AS pr, " +
      "ROUND(cume_dist() OVER w, 6) AS cd " +
      "FROM orders WHERE o_orderkey < 1000 " +
      "WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey) ORDER BY k",
      (s, d) => g(s, d).sql("select o_orderkey as k, " +
      "ntile(4) over (partition by o_orderstatus order by o_totalprice, o_orderkey) as q4, " +
      "lag(o_totalprice, 1, 0.0) over (partition by o_orderstatus order by o_totalprice, o_orderkey) as prevp, " +
      "lead(o_orderkey) over (partition by o_orderstatus order by o_totalprice, o_orderkey) as nxt, " +
      "round(percent_rank() over (partition by o_orderstatus order by o_totalprice, o_orderkey), 6) as pr, " +
      "round(cume_dist() over (partition by o_orderstatus order by o_totalprice, o_orderkey), 6) as cd " +
      "from orders where o_orderkey < 1000 order by k")),
    // ---- string-function breadth through the Registry passthrough ----
    Gate("q55_string_breadth", Dialect,
      "SELECT p_partkey AS k, lpad(p_name, 12, '*') AS lp, rpad(p_brand, 12, '.') AS rp, " +
      "left(p_name, 5) AS l5, right(p_name, 4) AS r4, repeat(p_brand, 2) AS rep, " +
      "reverse(p_type) AS rev, split_part(p_type, ' ', 1) AS sp, " +
      "CAST(instr(p_name, 'a') AS BIGINT) AS pos, " +
      "CAST(levenshtein(p_brand, p_type) AS BIGINT) AS lev, md5(p_name) AS h " +
      "FROM part WHERE p_partkey < 50 ORDER BY k",
      (s, d) => g(s, d).sql("select p_partkey as k, lpad(p_name, 12, '*') as lp, rpad(p_brand, 12, '.') as rp, " +
      "left(p_name, 5) as l5, right(p_name, 4) as r4, repeat(p_brand, 2) as rep, " +
      "reverse(p_type) as rev, split_part(p_type, ' ', 1) as sp, " +
      "cast(instr(p_name, 'a') as long) as pos, " +
      "cast(levenshtein(p_brand, p_type) as long) as lev, md5(p_name) as h " +
      "from part where p_partkey < 50 order by k")),
    // ---- WITH RECURSIVE: driver-coordinated fixpoint (semi-naive,
    // delta-only iterations; UNION dedup makes cyclic graphs converge) ----
    Gate("q56_recursive_cte", Dialect, "WITH RECURSIVE reach AS (" +
      "SELECT n_nationkey AS k FROM nation WHERE n_nationkey < 2 " +
      "UNION SELECT (k * 7 + 3) % 25 AS k FROM reach) " +
      "SELECT r.k AS k, n.n_name AS name FROM reach r " +
      "JOIN nation n ON n.n_nationkey = r.k ORDER BY k",
      (s, d) => g(s, d).sql("with recursive reach as (" +
      "select n_nationkey as k from nation where n_nationkey < 2 " +
      "union select (k * 7 + 3) % 25 as k from reach) " +
      "select r.k as k, n.n_name as name from reach r " +
      "join nation n on n.n_nationkey = r.k order by k")),
    // ---- NULL-handling scalar breadth: NULLIF / IFNULL / GREATEST /
    // LEAST (same names + semantics in DuckDB) ----
    Gate("q57_null_fns", Dialect, "SELECT o_orderkey AS k, " +
      "nullif(o_orderstatus, 'F') AS nf, " +
      "ifnull(nullif(o_orderstatus, 'F'), 'was_f') AS inf, " +
      "greatest(o_totalprice, 100000.0) AS g, " +
      "least(o_totalprice, CAST(o_orderkey AS DOUBLE)) AS l, " +
      "coalesce(nullif(o_orderpriority, o_orderpriority), o_orderstatus) AS co " +
      "FROM orders WHERE o_orderkey < 300 ORDER BY k",
      (s, d) => g(s, d).sql("select o_orderkey as k, " +
      "nullif(o_orderstatus, 'F') as nf, " +
      "ifnull(nullif(o_orderstatus, 'F'), 'was_f') as inf, " +
      "greatest(o_totalprice, 100000.0) as g, " +
      "least(o_totalprice, cast(o_orderkey as double)) as l, " +
      "coalesce(nullif(o_orderpriority, o_orderpriority), o_orderstatus) as co " +
      "from orders where o_orderkey < 300 order by k")),
    // ---- PIVOT: long → wide with an explicit value list (static plan,
    // one codegen'd aggregate per value; no distinct-discovery scan) ----
    Gate("q58_pivot", Dialect, "SELECT pr, ROUND(SUM(CASE WHEN st = 'F' THEN p END), 2) AS f, " +
      "ROUND(SUM(CASE WHEN st = 'O' THEN p END), 2) AS o, " +
      "ROUND(SUM(CASE WHEN st = 'P' THEN p END), 2) AS pp " +
      "FROM (SELECT o_orderpriority AS pr, o_orderstatus AS st, o_totalprice AS p FROM orders) " +
      "GROUP BY pr ORDER BY pr",
      (s, d) => g(s, d).sql(
      "select * from (select o_orderpriority as pr, o_orderstatus as st, o_totalprice as p from orders) as t " +
      "pivot (round(sum(p), 2) for st in ('F' as f, 'O' as o, 'P' as pp)) " +
      "order by pr")),
    // ---- ASOF [LEFT] JOIN dialect surface (lowers to operators.AsOf:
    // union + ONE keyed shuffle + running window, no range-join blowup) ----
    Gate("q59_asof_dialect", Dialect,
      "WITH l AS (SELECT event_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events WHERE event_id % 10 <> 0), " +
      "r AS (SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, event_id AS ref_id, value AS ref_value " +
      "FROM events WHERE event_id % 10 = 0) " +
      "SELECT l.event_id, r.ref_id, ROUND(r.ref_value, 4) AS rv " +
      "FROM l ASOF LEFT JOIN r ON l.event_type = r.event_type AND l.ts >= r.ts " +
      "ORDER BY l.event_id",
      (s, d) => g(s, d).sql("select event_id, ref_id, round(ref_value, 4) as rv " +
      "from (select event_id, event_type, ts from events where event_id % 10 <> 0) as l " +
      "asof left join (select event_type, ts, event_id as ref_id, value as ref_value " +
      "from events where event_id % 10 = 0) as r " +
      "on l.event_type = r.event_type and l.ts >= r.ts " +
      "order by event_id")),
    // ---- UNPIVOT: wide → long (narrow per-row expansion, no shuffle) ----
    Gate("q60_unpivot", Dialect, "WITH t AS (SELECT p_partkey AS k, CAST(p_size AS DOUBLE) AS size, " +
      "p_retailprice AS price FROM part WHERE p_partkey < 30) " +
      "SELECT k, 'size' AS metric, size AS val FROM t " +
      "UNION ALL SELECT k, 'price' AS metric, price AS val FROM t " +
      "ORDER BY k, metric",
      (s, d) => g(s, d).sql("select * from (select p_partkey as k, cast(p_size as double) as size, " +
      "p_retailprice as price from part where p_partkey < 30) as t " +
      "unpivot (val for metric in (size, price)) order by k, metric")),
    // ---- DISTINCT ON (Postgres/DuckDB): one row per key tuple, picked by
    // ORDER BY — lowers to a row_number window filter, no self-join ----
    Gate("q61_distinct_on", Dialect, "SELECT DISTINCT ON (o_custkey % 100) o_custkey % 100 AS bucket, " +
      "o_orderkey, o_totalprice " +
      "FROM orders ORDER BY o_custkey % 100, o_totalprice DESC, o_orderkey",
      (s, d) => g(s, d).sql("select distinct on (o_custkey % 100) o_custkey % 100 as bucket, " +
      "o_orderkey, o_totalprice " +
      "from orders order by o_custkey % 100, o_totalprice desc, o_orderkey")),
    // ---- star modifiers: * EXCLUDE / REPLACE (DuckDB ergonomics for wide
    // frames — projection still prunes at the scan) ----
    Gate("q62_star_modifiers", Dialect, "SELECT * EXCLUDE (o_orderdate, o_orderpriority) " +
      "REPLACE (upper(o_orderstatus) AS o_orderstatus) " +
      "FROM orders WHERE o_orderkey < 50 ORDER BY o_orderkey",
      (s, d) => g(s, d).sql("select * exclude (o_orderdate, o_orderpriority) " +
      "replace (upper(o_orderstatus) as o_orderstatus) " +
      "from orders where o_orderkey < 50 order by o_orderkey")),
    // ---- explicit SEMI / ANTI JOIN (filtering joins as first-class
    // syntax; plans as broadcast/shuffled hash semi join) ----
    Gate("q63_semi_anti", Dialect,
      // EXISTS spelling keeps the oracle independent of DuckDB's own
      // SEMI/ANTI JOIN syntax — same semantics by definition
      "SELECT 'semi' AS k, count(*) AS n FROM lineitem WHERE EXISTS " +
      "(SELECT 1 FROM part WHERE l_partkey = p_partkey AND p_size > 40) " +
      "UNION ALL " +
      "SELECT 'anti' AS k, count(*) AS n FROM lineitem WHERE NOT EXISTS " +
      "(SELECT 1 FROM part WHERE l_partkey = p_partkey AND p_size > 40) " +
      "ORDER BY k",
      (s, d) => g(s, d).sql("select 'semi' as k, count(*) as n from lineitem " +
      "semi join part on l_partkey = p_partkey and p_size > 40 " +
      "union all " +
      "select 'anti' as k, count(*) as n from lineitem " +
      "anti join part on l_partkey = p_partkey and p_size > 40 " +
      "order by k")),
    // ---- NATURAL JOIN: equi-join on all shared column names, resolved
    // against both schemas at translation time ----
    Gate("q64_natural_join", Dialect, "SELECT r_name, count(*) AS n FROM nation " +
      "JOIN (SELECT r_regionkey AS n_regionkey, r_name FROM region) r USING (n_regionkey) " +
      "GROUP BY r_name ORDER BY r_name",
      (s, d) => g(s, d).sql("select r_name, count(*) as n from nation " +
      "natural join (select r_regionkey as n_regionkey, r_name from region) as r " +
      "group by r_name order by r_name")),
    // ---- array breadth: [literals], 1-based subscripts, split /
    // array_contains / size / sort_array over derived arrays ----
    Gate("q65_array_breadth", Dialect, "SELECT o_orderkey AS k, string_split(o_orderpriority, '-')[1] AS code, " +
      "CAST(len(string_split(o_orderpriority, '-')) AS INTEGER) AS nparts, " +
      "list_contains(string_split(o_orderpriority, '-'), 'URGENT') AS urgent, " +
      "CAST([10, 20, 30][3] AS BIGINT) AS third " +
      "FROM orders WHERE o_orderkey < 100 ORDER BY k",
      (s, d) => g(s, d).sql("select o_orderkey as k, split(o_orderpriority, '-')[1] as code, " +
      "size(split(o_orderpriority, '-')) as nparts, " +
      "array_contains(split(o_orderpriority, '-'), 'URGENT') as urgent, " +
      "[10, 20, 30][3] as third " +
      "from orders where o_orderkey < 100 order by k")),
    // ---- TRY_CAST: NULL on invalid input (vs ANSI CAST's runtime error) ----
    Gate("q66_try_cast", Dialect, "SELECT o_orderkey AS k, TRY_CAST(o_orderpriority AS INTEGER) AS bad, " +
      "TRY_CAST(CAST(o_orderkey AS VARCHAR) AS BIGINT) AS good, " +
      "TRY_CAST(o_orderdate AS DATE) AS dt " +
      "FROM orders WHERE o_orderkey < 30 ORDER BY k",
      (s, d) => g(s, d).sql("select o_orderkey as k, try_cast(o_orderpriority as int) as bad, " +
      "try_cast(cast(o_orderkey as string) as long) as good, " +
      "try_cast(o_orderdate as date) as dt " +
      "from orders where o_orderkey < 30 order by k")),
    // ---- IGNORE NULLS in offset/value window functions (gap-filling /
    // last-observation-carried-forward — a time-series staple) ----
    Gate("q67_ignore_nulls", Dialect, "SELECT o_orderkey AS k, " +
      "last_value(CASE WHEN o_orderkey % 7 = 0 THEN o_totalprice END IGNORE NULLS) " +
      "OVER (ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS locf, " +
      "lag(CASE WHEN o_orderkey % 5 = 0 THEN o_orderkey END, 1 IGNORE NULLS) " +
      "OVER (ORDER BY o_orderkey) AS prev5 " +
      "FROM orders WHERE o_orderkey < 200 ORDER BY k",
      (s, d) => g(s, d).sql("select o_orderkey as k, " +
      "last_value(case when o_orderkey % 7 = 0 then o_totalprice end) ignore nulls " +
      "over (order by o_orderkey rows between unbounded preceding and current row) as locf, " +
      "lag(case when o_orderkey % 5 = 0 then o_orderkey end, 1) ignore nulls " +
      "over (order by o_orderkey) as prev5 " +
      "from orders where o_orderkey < 200 order by k")),
    // ---- GROUPING() / GROUPING_ID() on rollup frames: distinguish "NULL
    // because subtotal" from "NULL data" ----
    Gate("q68_grouping_fn", Dialect, "SELECT coalesce(o_orderstatus, 'ALL') AS st, " +
      "CAST(grouping(o_orderstatus) AS INTEGER) AS gflag, count(*) AS n, " +
      "ROUND(min(o_totalprice), 2) AS lo, ROUND(max(o_totalprice), 2) AS hi " +
      "FROM orders GROUP BY ROLLUP(o_orderstatus) ORDER BY gflag, st",
      (s, d) => g(s, d).sql("select coalesce(o_orderstatus, 'ALL') as st, " +
      "cast(grouping(o_orderstatus) as int) as gflag, count(*) as n, " +
      "round(min(o_totalprice), 2) as lo, round(max(o_totalprice), 2) as hi " +
      "from orders group by o_orderstatus with rollup order by gflag, st")),
    // ---- WITHIN GROUP ordered-set aggregates: percentile_cont (exact,
    // interpolated) + deterministic ordered string_agg ----
    Gate("q69_within_group", Dialect, "SELECT n_regionkey AS k, " +
      "string_agg(n_name, '|' ORDER BY n_name) AS names, " +
      "string_agg(n_name, ',' ORDER BY n_name DESC) AS rnames, " +
      "quantile_cont(n_nationkey, 0.5) AS med " +
      "FROM nation GROUP BY n_regionkey ORDER BY k",
      (s, d) => g(s, d).sql("select n_regionkey as k, " +
      "string_agg(n_name, '|') within group (order by n_name) as names, " +
      "string_agg(n_name, ',') within group (order by n_name desc) as rnames, " +
      "percentile_cont(0.5) within group (order by n_nationkey) as med " +
      "from nation group by n_regionkey order by k")),
    // ---- LATERAL join: top-N-per-group via a correlated derived table
    // (Dataset.lateralJoin + .outer() refs; Catalyst decorrelates, so the
    // inner ORDER BY/LIMIT applies per outer row) ----
    Gate("q70_lateral", Dialect, "SELECT c.c_custkey AS ck, o.o_orderkey AS ok, o.o_totalprice AS p " +
      "FROM customer c JOIN LATERAL (SELECT o_orderkey, o_totalprice FROM orders " +
      "WHERE o_custkey = c.c_custkey ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) AS o ON true " +
      "WHERE c.c_custkey < 200 ORDER BY ck, p DESC, ok",
      (s, d) => g(s, d).sql("select c.c_custkey as ck, o.o_orderkey as ok, o.o_totalprice as p " +
      "from customer c join lateral (select o_orderkey, o_totalprice from orders " +
      "where o_custkey = c.c_custkey order by o_totalprice desc, o_orderkey limit 2) as o on true " +
      "where c.c_custkey < 200 order by ck, p desc, ok")),
    // ---- EXISTS as a scalar expression (projection / CASE / OR — beyond
    // the WHERE-conjunct semi-join path) ----
    Gate("q71_exists_expr", Dialect, "SELECT n_nationkey AS k, " +
      "EXISTS (SELECT 1 FROM customer c WHERE c.c_nationkey = n.n_nationkey " +
      "AND c.c_acctbal > 5000) AS has_rich, " +
      "CASE WHEN EXISTS (SELECT 1 FROM customer c2 WHERE c2.c_nationkey = n.n_nationkey " +
      "AND c2.c_acctbal < 100) THEN 'low' ELSE 'none' END AS low_tag " +
      "FROM nation n ORDER BY k",
      (s, d) => g(s, d).sql("select n_nationkey as k, " +
      "exists (select 1 from customer c where c.c_nationkey = n.n_nationkey " +
      "and c.c_acctbal > 5000) as has_rich, " +
      "case when exists (select 1 from customer c2 where c2.c_nationkey = n.n_nationkey " +
      "and c2.c_acctbal < 100) then 'low' else 'none' end as low_tag " +
      "from nation n order by k")),
    // ---- table functions in FROM: range (end-exclusive) /
    // generate_series (end-inclusive) → spark.range (parallel Range node,
    // not a literal list) ----
    Gate("q72_table_fns", Dialect,
      "SELECT r.range AS k, g.generate_series AS s2, r.range * g.generate_series AS prod " +
      "FROM range(1, 6) r CROSS JOIN generate_series(0, 20, 5) g " +
      "ORDER BY k, s2",
      (s, d) => g(s, d).sql("select r.range as k, g.generate_series as s2, r.range * g.generate_series as prod " +
      "from range(1, 6) as r cross join generate_series(0, 20, 5) as g " +
      "order by k, s2")),
    // ---- named WINDOW clause: one spec, many functions (parse-time
    // expansion — the plan is identical to inline OVER) ----
    Gate("q73_window_clause", Dialect, "SELECT o_orderkey AS k, " +
      "row_number() OVER w AS rn, " +
      "ROUND(sum(o_totalprice) OVER w, 2) AS running, " +
      "ROUND(lag(o_totalprice, 1, 0.0) OVER w, 2) AS prev " +
      "FROM orders WHERE o_orderkey < 300 " +
      "WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey) " +
      "ORDER BY k",
      (s, d) => g(s, d).sql("select o_orderkey as k, " +
      "cast(row_number() over w as long) as rn, " +
      "round(sum(o_totalprice) over w, 2) as running, " +
      "round(lag(o_totalprice, 1, 0.0) over w, 2) as prev " +
      "from orders where o_orderkey < 300 " +
      "window w as (partition by o_orderstatus order by o_orderkey) " +
      "order by k")),
    // ---- ANSI function-style ROLLUP(a, b) grouping (same plan as the
    // WITH ROLLUP trailer) + GROUPING disambiguation ----
    Gate("q74_rollup_fn", Dialect, "SELECT coalesce(l_returnflag, 'ALL') AS f, coalesce(l_linestatus, 'ALL') AS s2, " +
      "CAST(grouping(l_returnflag) AS INTEGER) * 2 + CAST(grouping(l_linestatus) AS INTEGER) AS g, " +
      "count(*) AS n FROM lineitem " +
      "GROUP BY ROLLUP(l_returnflag, l_linestatus) ORDER BY g, f, s2",
      (s, d) => g(s, d).sql("select coalesce(l_returnflag, 'ALL') as f, coalesce(l_linestatus, 'ALL') as s2, " +
      "cast(grouping(l_returnflag) as int) * 2 + cast(grouping(l_linestatus) as int) as g, " +
      "count(*) as n from lineitem " +
      "group by rollup(l_returnflag, l_linestatus) order by g, f, s2")),
    // ---- ordered aggregates (inline ORDER BY) + SIMILAR TO whole-string
    // regex matching ----
    Gate("q75_ordered_agg", Dialect, "SELECT n_regionkey AS k, " +
      "array_to_string(array_agg(n_name ORDER BY n_name DESC), '|') AS names, " +
      "string_agg(n_name, ',' ORDER BY n_nationkey) AS by_key, " +
      "CAST(sum(CASE WHEN n_name SIMILAR TO 'NATION_1[0-9]' THEN 1 ELSE 0 END) AS BIGINT) AS teens " +
      "FROM nation GROUP BY n_regionkey ORDER BY k",
      (s, d) => g(s, d).sql("select n_regionkey as k, " +
      "array_join(array_agg(n_name order by n_name desc), '|') as names, " +
      "string_agg(n_name, ',' order by n_nationkey) as by_key, " +
      "sum(case when n_name similar to 'NATION_1[0-9]' then 1 else 0 end) as teens " +
      "from nation group by n_regionkey order by k")),
    // ---- COLUMNS('regex') projection expansion (DuckDB wide-table
    // ergonomics): the wrapper applies per matched column ----
    Gate("q76_columns_regex", Dialect, "SELECT l_returnflag AS f, min(COLUMNS('^l_(quantity|extendedprice|tax)$')) " +
      "FROM lineitem GROUP BY l_returnflag ORDER BY f",
      (s, d) => g(s, d).sql("select l_returnflag as f, min(columns('^l_(quantity|extendedprice|tax)$')) " +
      "from lineitem group by l_returnflag order by f")),
    // ---- NON-equality correlated scalar subquery: the native .scalar()
    // path (Catalyst decorrelation), cross-checked against DuckDB ----
    Gate("q77_corr_scalar_native", Dialect, "SELECT r_regionkey AS k, " +
      "(SELECT max(n_name) FROM nation n WHERE n.n_regionkey >= r.r_regionkey) AS last_name, " +
      "(SELECT count(*) FROM nation n2 WHERE n2.n_regionkey > r.r_regionkey) AS higher " +
      "FROM region r ORDER BY k",
      (s, d) => g(s, d).sql("select r_regionkey as k, " +
      "(select max(n_name) from nation n where n.n_regionkey >= r.r_regionkey) as last_name, " +
      "(select count(*) from nation n2 where n2.n_regionkey > r.r_regionkey) as higher " +
      "from region r order by k")),
    // ---- lambda higher-order functions over arrays: transform / filter /
    // aggregate with `x -> …` syntax (array pipelines without UDFs) ----
    Gate("q78_lambdas", Dialect, "SELECT o_orderkey AS k, " +
      "array_to_string(list_transform(string_split(o_orderpriority, '-'), x -> lower(x)), '|') AS low, " +
      "CAST(len(list_filter(string_split(o_orderpriority, '-'), x -> length(x) > 4)) AS INTEGER) AS nlong, " +
      "CAST(list_reduce([0, 1, 2, 3, 4], (acc, x) -> acc + x) AS BIGINT) AS total, " +
      "'ax,by' AS zipped " + // constant inputs → constant zip, cross-checks the shape
      "FROM orders WHERE o_orderkey < 100 ORDER BY k",
      (s, d) => g(s, d).sql("select o_orderkey as k, " +
      "array_join(transform(split(o_orderpriority, '-'), x -> lower(x)), '|') as low, " +
      "size(filter(split(o_orderpriority, '-'), x -> length(x) > 4)) as nlong, " +
      "aggregate([1, 2, 3, 4], cast(0 as long), (acc, x) -> acc + x) as total, " +
      "array_join(zip_with(['a', 'b'], ['x', 'y'], (l, r) -> l || r), ',') as zipped " +
      "from orders where o_orderkey < 100 order by k")),
    // ---- map breadth: literals, subscript lookup, keys/values,
    // cardinality (typed metadata columns for multimodal rows) ----
    Gate("q79_map_breadth", Dialect, "SELECT o_orderkey AS k, " +
      "map(['lo', 'hi'], [o_orderkey, o_orderkey * 2])['hi'][1] AS hi, " +
      "CAST(cardinality(map(['a', 'b'], [1, 2])) AS INTEGER) AS n, " +
      "array_to_string(list_sort(map_keys(map(['a', 'b'], [1, 2]))), ',') AS ks, " +
      "array_to_string(list_transform(list_sort(map_values(map(['x', 'y'], [3, 4]))), v -> CAST(v AS VARCHAR)), ',') AS vs " +
      "FROM orders WHERE o_orderkey < 50 ORDER BY k",
      (s, d) => g(s, d).sql("select o_orderkey as k, " +
      "map('lo', o_orderkey, 'hi', o_orderkey * 2)['hi'] as hi, " +
      "cast(size(map('a', 1, 'b', 2)) as int) as n, " +
      "array_join(sort_array(map_keys(map('a', 1, 'b', 2))), ',') as ks, " +
      "array_join(transform(sort_array(map_values(map('x', 3, 'y', 4))), v -> cast(v as string)), ',') as vs " +
      "from orders where o_orderkey < 50 order by k")),
    // ---- temporal formatting/calendar breadth (cross-engine despite
    // different function vocabularies — the oracle recomputes each) ----
    Gate("q80_temporal", Dialect, "SELECT o_orderkey AS k, " +
      "strftime(o_orderdate, '%Y-%m') AS ym, " +
      "CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dw, " +
      "CAST(last_day(o_orderdate) AS DATE) AS ld, " +
      "CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS dd, " +
      "CAST(quarter(o_orderdate) AS INTEGER) AS q, " +
      "CAST(weekofyear(o_orderdate) AS INTEGER) AS wk " +
      "FROM orders WHERE o_orderkey < 100 ORDER BY k",
      (s, d) => g(s, d).sql("select o_orderkey as k, " +
      "date_format(o_orderdate, 'yyyy-MM') as ym, " +
      "cast(dayofweek(o_orderdate) as int) as dw, " +
      "cast(last_day(o_orderdate) as date) as ld, " +
      "cast(datediff(cast(o_orderdate as date), date '1995-01-01') as int) as dd, " +
      "cast(quarter(o_orderdate) as int) as q, " +
      "cast(weekofyear(o_orderdate) as int) as wk " +
      "from orders where o_orderkey < 100 order by k")),
    // ---- P12: fluent expression DSL (ExpressionParser.scala parity) ----
    Gate("q31_expr_dsl", Dialect, "SELECT ROUND(SUM(l_quantity), 2) AS total FROM lineitem " +
      "WHERE l_quantity > 30 AND l_discount <= 0.05",
      (s, d) => {
      val e = g(s, d)
      e.catalog.relation("lineitem")
        .filter(e.expr("l_quantity > 30 && l_discount <= 0.05"))
        .agg(rnd(e.expr("l_quantity.sum"), 2).as("total"))
    }),
    // ---- EXCEPT ALL / INTERSECT ALL (multiset set operations, round 4) ----
    Gate("q81_setop_all", Dialect,
      "(SELECT n_regionkey AS k FROM nation EXCEPT ALL SELECT r_regionkey AS k FROM region) " +
      "UNION ALL " +
      "(SELECT n_regionkey AS k FROM nation WHERE n_nationkey < 7 " +
      "INTERSECT ALL SELECT n_regionkey AS k FROM nation) ORDER BY k",
      (s, d) => g(s, d).sql("(select n_regionkey as k from nation except all select r_regionkey as k from region) " +
      "union all " +
      "(select n_regionkey as k from nation where n_nationkey < 7 " +
      "intersect all select n_regionkey as k from nation) order by k")),
    // ---- regexp breadth: extract group / like / count / global replace ----
    Gate("q82_regexp", Dialect, "SELECT doc_id, regexp_extract(text, '([a-z]+)', 1) AS first_word, " +
      "regexp_matches(text, 'spark') AS has_spark, " +
      "CAST(len(regexp_extract_all(text, 'ta')) AS INTEGER) AS n_ta, " +
      "regexp_replace(substring(text, 1, 20), '[aeiou]', '_', 'g') AS devowel " +
      "FROM documents WHERE doc_id < 50 ORDER BY doc_id",
      (s, d) => g(s, d).sql("select doc_id, regexp_extract(text, '([a-z]+)', 1) as first_word, " +
      "regexp_like(text, 'spark') as has_spark, " +
      "cast(regexp_count(text, 'ta') as int) as n_ta, " +
      "regexp_replace(substring(text, 1, 20), '[aeiou]', '_') as devowel " +
      "from documents where doc_id < 50 order by doc_id")),
    // ---- ANSI OFFSET … ROWS FETCH FIRST … ROWS ONLY ----
    Gate("q83_fetch_offset", Dialect, "SELECT c_custkey AS k, ROUND(c_acctbal, 2) AS b FROM customer " +
      "ORDER BY c_acctbal DESC, c_custkey OFFSET 5 ROWS FETCH FIRST 10 ROWS ONLY",
      (s, d) => g(s, d).sql("select c_custkey as k, round(c_acctbal, 2) as b from customer " +
      "order by c_acctbal desc, c_custkey offset 5 rows fetch first 10 rows only")),
    // ---- math/bit breadth: power/exp/logs/sign/factorial/angles, bit
    // population count, shifts, xor (the `^` operator is XOR here —
    // DuckDB spells it xor(), its ^ is POWER) ----
    Gate("q84_math_bit", Dialect, "SELECT l_orderkey AS k, l_linenumber AS ln, " +
      "ROUND(power(l_quantity, 2), 4) AS p2, ROUND(exp(l_discount), 6) AS e1, " +
      "ROUND(log10(l_quantity), 6) AS lg10, ROUND(log2(l_quantity), 6) AS lg2, " +
      "CAST(sign(l_quantity - 25) AS INTEGER) AS sg, " +
      "CAST(factorial(CAST(l_linenumber AS INTEGER)) AS BIGINT) AS fact, " +
      "ROUND(degrees(l_tax), 6) AS deg, ROUND(radians(l_quantity), 6) AS rad, " +
      "CAST(bit_count(l_orderkey) AS INTEGER) AS bc, " +
      "CAST(l_linenumber << 3 AS INTEGER) AS shl, " +
      "CAST(l_orderkey >> 2 AS BIGINT) AS shr, " +
      "CAST(xor(l_orderkey, 255) AS BIGINT) AS xr " +
      "FROM lineitem WHERE l_orderkey < 200 ORDER BY k, ln",
      (s, d) => g(s, d).sql("select l_orderkey as k, l_linenumber as ln, " +
      "round(power(l_quantity, 2), 4) as p2, round(exp(l_discount), 6) as e1, " +
      "round(log10(l_quantity), 6) as lg10, round(log2(l_quantity), 6) as lg2, " +
      "cast(sign(l_quantity - 25) as int) as sg, " +
      "cast(factorial(cast(l_linenumber as int)) as bigint) as fact, " +
      "round(degrees(l_tax), 6) as deg, round(radians(l_quantity), 6) as rad, " +
      "cast(bit_count(l_orderkey) as int) as bc, " +
      "cast(shiftleft(l_linenumber, 3) as int) as shl, " +
      "cast(shiftright(l_orderkey, 2) as bigint) as shr, " +
      "cast(l_orderkey ^ 255 as bigint) as xr " +
      "from lineitem where l_orderkey < 200 order by k, ln")),
    // ---- JSON extraction over string JSON columns (metadata sidecars) ----
    Gate("q85_json", Dialect, "SELECT k, json_extract_string(j, '$.name') AS nm, " +
      "CAST(json_extract_string(j, '$.id') AS BIGINT) AS id_n, " +
      "CAST(json_array_length(json_extract_string(j, '$.tags')) AS INTEGER) AS ntags " +
      "FROM (SELECT r_regionkey AS k, '{\"id\":' || r_regionkey || " +
      "',\"name\":\"' || r_name || '\",\"tags\":[1,2,' || r_regionkey || ']}' AS j " +
      "FROM region) t ORDER BY k",
      (s, d) => g(s, d).sql("select k, json_extract(j, '$.name') as nm, " +
      "cast(json_extract(j, '$.id') as bigint) as id_n, " +
      "cast(json_array_length(json_extract(j, '$.tags')) as int) as ntags " +
      "from (select r_regionkey as k, concat('{\"id\":', cast(r_regionkey as string), " +
      "',\"name\":\"', r_name, '\",\"tags\":[1,2,', cast(r_regionkey as string), ']}') as j " +
      "from region) as t order by k")),
    // ---- string breadth beyond q55: translate/ascii/chr/strpos plus the
    // contains/starts_with/ends_with predicates ----
    Gate("q86_string_fns2", Dialect, "SELECT n_nationkey AS k, translate(n_name, 'ni', 'NI') AS tr, " +
      "CAST(ascii(n_name) AS INTEGER) AS ac, chr(CAST(65 + n_regionkey AS INTEGER)) AS ch, " +
      "CAST(strpos(n_name, 'tion') AS INTEGER) AS sp, " +
      "contains(n_name, 'ion_1') AS has1, starts_with(n_name, 'nation') AS sw, " +
      "ends_with(n_name, '3') AS ew FROM nation ORDER BY k",
      (s, d) => g(s, d).sql("select n_nationkey as k, translate(n_name, 'ni', 'NI') as tr, " +
      "cast(ascii(n_name) as int) as ac, chr(65 + n_regionkey) as ch, " +
      "cast(strpos(n_name, 'tion') as int) as sp, " +
      "contains(n_name, 'ion_1') as has1, starts_with(n_name, 'nation') as sw, " +
      "ends_with(n_name, '3') as ew from nation order by k")),
    // ---- ILIKE + LIKE … ESCAPE (pattern-match dialect variants) ----
    Gate("q87_like_variants", Dialect, "SELECT v, v LIKE '10!%' ESCAPE '!' AS pct, v NOT LIKE '1%' AS np, " +
      "v ILIKE 'AB%' AS ci, v NOT ILIKE '%c' AS nc " +
      "FROM (VALUES ('10%'), ('10x'), ('abc'), ('ABC')) t(v) ORDER BY v",
      (s, d) => g(s, d).sql("select v, v like '10!%' escape '!' as pct, v not like '1%' as np, " +
      "v ilike 'AB%' as ci, v not ilike '%c' as nc " +
      "from (values ('10%'), ('10x'), ('abc'), ('ABC')) as t(v) order by v")),
    // ---- arg_min/arg_max (DuckDB names → min_by/max_by), exact median,
    // count_if; the arg order key is made unique so ties can't flip ----
    Gate("q88_arg_stats", Dialect, "SELECT l_returnflag AS f, " +
      "arg_min(l_orderkey, l_extendedprice * 1000000 + l_orderkey) AS cheap_k, " +
      "arg_max(l_orderkey, l_extendedprice * 1000000 + l_orderkey) AS dear_k, " +
      "median(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS med_cents, " +
      "CAST(count_if(l_quantity > 25) AS BIGINT) AS nbig " +
      "FROM lineitem GROUP BY l_returnflag ORDER BY f",
      (s, d) => g(s, d).sql("select l_returnflag as f, " +
      "arg_min(l_orderkey, l_extendedprice * 1000000 + l_orderkey) as cheap_k, " +
      "arg_max(l_orderkey, l_extendedprice * 1000000 + l_orderkey) as dear_k, " +
      // median in EXACT integer cents: prices are 2-dp, so round(x*100)
      // is an exact integer and an even-count median is an exact
      // half-integer — bit-identical across engines. round(median(price),
      // 2) was a latent flake: Spark interpolates a+(b-a)/2, DuckDB
      // (a+b)/2, and the last-ulp difference flips the .xx5 rounding
      // (reproduced at sf0.001: 52724.24 vs 52724.25)
      "median(cast(round(l_extendedprice * 100, 0) as bigint)) as med_cents, " +
      "cast(count_if(l_quantity > 25) as bigint) as nbig " +
      "from lineitem group by l_returnflag order by f")),
    // ---- ANSI keyword-argument function syntax + :: cast shorthand
    // (no double→int :: in the gate: DuckDB rounds, Spark truncates) ----
    Gate("q89_ansi_fn_syntax", Dialect, "SELECT p_partkey AS k, " +
      "trim(BOTH 'a' FROM p_name) AS tb, trim(LEADING 'p' FROM p_type) AS tl, " +
      "trim(TRAILING '0' FROM p_brand) AS tt, " +
      "CAST(position('a' IN p_name) AS INTEGER) AS pos, " +
      "substring(p_name FROM 3 FOR 4) AS s1, substring(p_type FROM 5) AS s2, " +
      "p_partkey::VARCHAR AS ks, p_size::BIGINT AS sz " +
      "FROM part WHERE p_partkey < 40 ORDER BY k",
      (s, d) => g(s, d).sql("select p_partkey as k, " +
      "trim(both 'a' from p_name) as tb, trim(leading 'p' from p_type) as tl, " +
      "trim(trailing '0' from p_brand) as tt, " +
      "cast(position('a' in p_name) as int) as pos, " +
      "substring(p_name from 3 for 4) as s1, substring(p_type from 5) as s2, " +
      "p_partkey::string as ks, p_size::bigint as sz " +
      "from part where p_partkey < 40 order by k")),
    // ---- struct values + postfix field access (incl. nested chains) ----
    Gate("q90_struct", Dialect, "SELECT n_nationkey AS k, " +
      "struct_pack(id := n_nationkey, nm := n_name).nm AS nm, " +
      "struct_pack(a := struct_pack(b := n_regionkey)).a.b AS ab " +
      "FROM nation ORDER BY k LIMIT 10",
      (s, d) => g(s, d).sql("select n_nationkey as k, " +
      "named_struct('id', n_nationkey, 'nm', n_name).nm as nm, " +
      "named_struct('a', named_struct('b', n_regionkey)).a.b as ab " +
      "from nation order by k limit 10")),
    // ---- bitwise + boolean aggregates ----
    Gate("q92_bit_bool_agg", Dialect, "SELECT l_returnflag AS f, " +
      "CAST(bit_and(l_linenumber) AS INTEGER) AS ba, " +
      "CAST(bit_or(l_linenumber) AS INTEGER) AS bo, " +
      "CAST(bit_xor(l_linenumber) AS INTEGER) AS bx, " +
      "bool_and(l_quantity > 0) AS ca, bool_or(l_discount > 0.09) AS co " +
      "FROM lineitem GROUP BY l_returnflag ORDER BY f",
      (s, d) => g(s, d).sql("select l_returnflag as f, " +
      "cast(bit_and(l_linenumber) as int) as ba, " +
      "cast(bit_or(l_linenumber) as int) as bo, " +
      "cast(bit_xor(l_linenumber) as int) as bx, " +
      "bool_and(l_quantity > 0) as ca, bool_or(l_discount > 0.09) as co " +
      "from lineitem group by l_returnflag order by f")),
    // ---- linear-regression aggregates (normalized outputs rounded:
    // corr/slope/r2 are scale-free so 6 dp sits far above sum-order
    // noise; intercept rounded coarser) ----
    Gate("q93_regr_agg", Dialect, "SELECT o_orderstatus AS st, " +
      "ROUND(corr(o_totalprice, o_custkey), 6) AS c, " +
      "ROUND(regr_slope(o_totalprice, o_custkey), 6) AS rs, " +
      "ROUND(regr_intercept(o_totalprice, o_custkey), 2) AS ri, " +
      "ROUND(regr_r2(o_totalprice, o_custkey), 6) AS r2, " +
      "CAST(regr_count(o_totalprice, o_custkey) AS BIGINT) AS rn " +
      "FROM orders GROUP BY o_orderstatus ORDER BY st",
      (s, d) => g(s, d).sql("select o_orderstatus as st, " +
      "round(corr(o_totalprice, o_custkey), 6) as c, " +
      "round(regr_slope(o_totalprice, o_custkey), 6) as rs, " +
      "round(regr_intercept(o_totalprice, o_custkey), 2) as ri, " +
      "round(regr_r2(o_totalprice, o_custkey), 6) as r2, " +
      "cast(regr_count(o_totalprice, o_custkey) as bigint) as rn " +
      "from orders group by o_orderstatus order by st")),
    // ---- array set operations (sorted + stringified: Spark and DuckDB
    // disagree on result ORDER, not membership) ----
    Gate("q91_array_setops", Dialect, "SELECT l_orderkey AS k, l_linenumber AS ln, " +
      "array_to_string(list_sort(list_distinct([l_orderkey, 1] || [l_orderkey + 1])), ',') AS un, " +
      "array_to_string(list_sort(list_intersect([1, 2, l_linenumber], [2, 3])), ',') AS it, " +
      "array_to_string(list_sort(list_filter([1, 2, 3], x -> NOT list_contains([l_linenumber], x))), ',') AS ex, " +
      "CAST(list_position([5, 6, 7], 6) AS BIGINT) AS pos, " +
      "array_to_string(list_sort(list_distinct(flatten([[l_linenumber], [1, 2]]))), ',') AS fl " +
      "FROM lineitem WHERE l_orderkey < 100 ORDER BY k, ln",
      (s, d) => g(s, d).sql("select l_orderkey as k, l_linenumber as ln, " +
      "array_join(transform(sort_array(array_union(array(l_orderkey, 1), array(l_orderkey + 1))), v -> cast(v as string)), ',') as un, " +
      "array_join(transform(sort_array(array_intersect(array(1, 2, l_linenumber), array(2, 3))), v -> cast(v as string)), ',') as it, " +
      "array_join(transform(sort_array(array_except(array(1, 2, 3), array(l_linenumber))), v -> cast(v as string)), ',') as ex, " +
      "cast(array_position(array(5, 6, 7), 6) as bigint) as pos, " +
      "array_join(transform(sort_array(array_distinct(flatten(array(array(l_linenumber), array(1, 2))))), v -> cast(v as string)), ',') as fl " +
      "from lineitem where l_orderkey < 100 order by k, ln")),
    // ---- UNION [ALL] BY NAME: name-aligned set union (absent cols NULL);
    // the final distinct union collapses branch-3 rows back into branch-1's ----
    Gate("q94_union_by_name", Dialect, "SELECT n_nationkey AS k, n_name AS nm FROM nation WHERE n_nationkey < 4 " +
      "UNION ALL BY NAME " +
      "SELECT r_regionkey + 100 AS k, r_name AS nm, r_regionkey AS extra FROM region " +
      "UNION BY NAME " +
      "SELECT n_nationkey AS k, n_name AS nm FROM nation WHERE n_nationkey < 2 " +
      "ORDER BY k",
      (s, d) => g(s, d).sql("select n_nationkey as k, n_name as nm from nation where n_nationkey < 4 " +
      "union all by name " +
      "select r_regionkey + 100 as k, r_name as nm, r_regionkey as extra from region " +
      "union by name " +
      "select n_nationkey as k, n_name as nm from nation where n_nationkey < 2 " +
      "order by k")),
    // ---- statistical aggregate breadth (samp/pop forms share exact
    // textbook definitions across engines; rounded against sum-order noise) ----
    Gate("q95_stats_agg", Dialect, "SELECT o_orderstatus AS st, " +
      "ROUND(stddev_samp(o_totalprice), 4) AS sds, " +
      "ROUND(stddev_pop(o_totalprice), 4) AS sdp, " +
      "ROUND(var_samp(o_totalprice) / 1e6, 4) AS vs, " +
      "ROUND(var_pop(o_totalprice) / 1e6, 4) AS vp, " +
      "ROUND(covar_samp(o_totalprice, o_custkey) / 1e6, 4) AS cs, " +
      "ROUND(covar_pop(o_totalprice, o_custkey) / 1e6, 4) AS cp " +
      "FROM orders GROUP BY o_orderstatus ORDER BY st",
      (s, d) => g(s, d).sql("select o_orderstatus as st, " +
      "round(stddev_samp(o_totalprice), 4) as sds, " +
      "round(stddev_pop(o_totalprice), 4) as sdp, " +
      "round(var_samp(o_totalprice) / 1e6, 4) as vs, " +
      "round(var_pop(o_totalprice) / 1e6, 4) as vp, " +
      "round(covar_samp(o_totalprice, o_custkey) / 1e6, 4) as cs, " +
      "round(covar_pop(o_totalprice, o_custkey) / 1e6, 4) as cp " +
      "from orders group by o_orderstatus order by st")),
    // ---- CREATE TABLE AS (batch CTAS): the registered relation is a lazy
    // plan downstream queries compose with (filters/pruning push through) ----
    Gate("q97_ctas", Dialect, "WITH big_cust AS (SELECT c_custkey, c_acctbal, c_nationkey " +
      "FROM customer WHERE c_acctbal > 5000) " +
      "SELECT n.n_name AS nation, count(*) AS n, ROUND(SUM(b.c_acctbal), 2) AS bal " +
      "FROM big_cust b JOIN nation n ON b.c_nationkey = n.n_nationkey " +
      "GROUP BY n.n_name ORDER BY nation",
      (s, d) => g(s, d).sqlScript("create table big_cust as select c_custkey, c_acctbal, c_nationkey " +
      "from customer where c_acctbal > 5000; " +
      "select n.n_name as nation, count(*) as n, round(sum(b.c_acctbal), 2) as bal " +
      "from big_cust b join nation n on b.c_nationkey = n.n_nationkey " +
      "group by n.n_name order by nation")),
    // ---- ANSI FETCH FIRST n ROWS WITH TIES (rank-filter lowering;
    // DuckDB 1.0 lacks the syntax, so the oracle recomputes via rank) ----
    Gate("q100_fetch_ties", Dialect, "SELECT ck, pr FROM (SELECT o_custkey AS ck, o_orderpriority AS pr, " +
      "rank() OVER (ORDER BY o_orderpriority) AS rk " +
      "FROM orders WHERE o_custkey < 200) t WHERE rk <= 10 ORDER BY ck, pr",
      (s, d) => g(s, d).sql("select ck, pr from (select o_custkey as ck, o_orderpriority as pr " +
      "from orders where o_custkey < 200 " +
      "order by pr fetch first 10 rows with ties) as t order by ck, pr")),
    // ---- composite headline canaries (TPC-H shapes): multi-join + agg +
    // subquery plans whose regressions single-operator micro gates miss ----
    // Q3 shape: 3-way join, filter both fact sides, grouped revenue, top-n
    Gate("q101_shipping_priority", Dialect, "SELECT l.l_orderkey AS k, " +
      "ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue, " +
      "CAST(o.o_orderdate AS TIMESTAMP) AS od " +
      "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey " +
      "JOIN lineitem l ON l.l_orderkey = o.o_orderkey " +
      "WHERE c.c_mktsegment = 'BUILDING' " +
      "AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00' " +
      "AND l.l_shipdate > TIMESTAMP '1997-06-30 00:00:00' " +
      "GROUP BY l.l_orderkey, o.o_orderdate " +
      "ORDER BY revenue DESC, k LIMIT 10",
      (s, d) => g(s, d).sql("select l.l_orderkey as k, " +
      "round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) as revenue, " +
      "o.o_orderdate as od " +
      "from customer c join orders o on c.c_custkey = o.o_custkey " +
      "join lineitem l on l.l_orderkey = o.o_orderkey " +
      "where c.c_mktsegment = 'BUILDING' " +
      "and o.o_orderdate < timestamp '1998-01-01 00:00:00' " +
      "and l.l_shipdate > timestamp '1997-06-30 00:00:00' " +
      "group by l.l_orderkey, o.o_orderdate " +
      "order by revenue desc, k limit 10")),
    // Q5 shape: 6-way snowflake join through region, grouped by nation
    Gate("q102_local_supplier_volume", Dialect, "SELECT n.n_name AS nation, " +
      "ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue " +
      "FROM customer c " +
      "JOIN orders o ON c.c_custkey = o.o_custkey " +
      "JOIN lineitem l ON l.l_orderkey = o.o_orderkey " +
      "JOIN supplier s2 ON l.l_suppkey = s2.s_suppkey AND c.c_nationkey = s2.s_nationkey " +
      "JOIN nation n ON s2.s_nationkey = n.n_nationkey " +
      "JOIN region r ON n.n_regionkey = r.r_regionkey " +
      "WHERE r.r_name = 'ASIA' " +
      "GROUP BY n.n_name ORDER BY revenue DESC, nation",
      (s, d) => g(s, d).sql("select n.n_name as nation, " +
      "round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) as revenue " +
      "from customer c " +
      "join orders o on c.c_custkey = o.o_custkey " +
      "join lineitem l on l.l_orderkey = o.o_orderkey " +
      "join supplier s2 on l.l_suppkey = s2.s_suppkey and c.c_nationkey = s2.s_nationkey " +
      "join nation n on s2.s_nationkey = n.n_nationkey " +
      "join region r on n.n_regionkey = r.r_regionkey " +
      "where r.r_name = 'ASIA' " +
      "group by n.n_name order by revenue desc, nation")),
    // Q10 shape: returned-item revenue per customer, 4-way join, top 20
    Gate("q103_returned_items", Dialect, "SELECT c.c_custkey AS ck, c.c_name AS cn, n.n_name AS nation, " +
      "ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue " +
      "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey " +
      "JOIN lineitem l ON l.l_orderkey = o.o_orderkey " +
      "JOIN nation n ON c.c_nationkey = n.n_nationkey " +
      "WHERE l.l_returnflag = 'R' " +
      "GROUP BY c.c_custkey, c.c_name, n.n_name " +
      "ORDER BY revenue DESC, ck LIMIT 20",
      (s, d) => g(s, d).sql("select c.c_custkey as ck, c.c_name as cn, n.n_name as nation, " +
      "round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) as revenue " +
      "from customer c join orders o on c.c_custkey = o.o_custkey " +
      "join lineitem l on l.l_orderkey = o.o_orderkey " +
      "join nation n on c.c_nationkey = n.n_nationkey " +
      "where l.l_returnflag = 'R' " +
      "group by c.c_custkey, c.c_name, n.n_name " +
      "order by revenue desc, ck limit 20")),
    // Q17 shape: correlated scalar AVG subquery gating a join
    Gate("q104_small_qty_revenue", Dialect, "SELECT ROUND(SUM(l.l_extendedprice) / 7.0, 2) AS avg_yearly, " +
      "COUNT(*) AS n " +
      "FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey " +
      "WHERE p.p_brand = 'Brand#23' " +
      "AND l.l_quantity < (SELECT 0.3 * AVG(l2.l_quantity) FROM lineitem l2 " +
      "WHERE l2.l_partkey = p.p_partkey)",
      (s, d) => g(s, d).sql("select round(sum(l.l_extendedprice) / 7.0, 2) as avg_yearly, " +
      "count(*) as n " +
      "from lineitem l join part p on p.p_partkey = l.l_partkey " +
      "where p.p_brand = 'Brand#23' " +
      "and l.l_quantity < (select 0.3 * avg(l2.l_quantity) from lineitem l2 " +
      "where l2.l_partkey = p.p_partkey)")),
    // Q18 shape: IN over a grouped-HAVING subquery, 3-way join, top 20
    Gate("q105_large_volume_customers", Dialect, "SELECT c.c_name AS cn, o.o_orderkey AS k, " +
      "ROUND(o.o_totalprice, 2) AS tp, ROUND(SUM(l.l_quantity), 2) AS qty " +
      "FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey " +
      "JOIN lineitem l ON o.o_orderkey = l.l_orderkey " +
      "WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem " +
      "GROUP BY l_orderkey HAVING SUM(l_quantity) > 250) " +
      "GROUP BY c.c_name, o.o_orderkey, o.o_totalprice " +
      "ORDER BY tp DESC, k LIMIT 20",
      (s, d) => g(s, d).sql("select c.c_name as cn, o.o_orderkey as k, " +
      "round(o.o_totalprice, 2) as tp, round(sum(l.l_quantity), 2) as qty " +
      "from customer c join orders o on c.c_custkey = o.o_custkey " +
      "join lineitem l on o.o_orderkey = l.l_orderkey " +
      "where o.o_orderkey in (select l_orderkey from lineitem " +
      "group by l_orderkey having sum(l_quantity) > 250) " +
      "group by c.c_name, o.o_orderkey, o.o_totalprice " +
      "order by tp desc, k limit 20")),
    // ---- q106: hot-key fact-fact join canary (the 100 TB skew risk the
    // uniform TPC-H canaries never exercise). A derived view sends 50% of
    // lineitem to ONE orderkey; the gate asserts (a) DuckDB-oracle
    // correctness of the plain join's aggregate and (b) Skew.saltedJoin
    // returns exactly the plain join's groups (salting is a pure spray —
    // flag column salted_matches_plain) ----
    Gate("q106_skew_join", Dialect,
      // q106: the oracle checks the plain-join aggregate; the gate itself
      // computed the salted join and folded equality into the flag column
      "WITH sk AS (SELECT CASE WHEN l_linenumber % 2 = 0 THEN 1 ELSE l_orderkey END AS k, " +
      "l_quantity FROM lineitem) " +
      "SELECT o_orderpriority AS pr, CAST(count(*) AS BIGINT) AS n, " +
      "ROUND(SUM(l_quantity), 2) AS qty, CAST(1 AS INTEGER) AS salted_matches_plain " +
      "FROM sk JOIN orders ON k = o_orderkey " +
      "GROUP BY o_orderpriority ORDER BY pr",
      (s, d) => {
      import org.apache.spark.sql.functions._
      val gs = g(s, d)
      val skewed = gs.catalog.relation("lineitem")
        .withColumn("k", when(col("l_linenumber") % 2 === 0, lit(1L))
          .otherwise(col("l_orderkey")))
        .select(col("k"), col("l_quantity"))
      val dim = gs.catalog.relation("orders")
        .select(col("o_orderkey").as("k"), col("o_orderpriority"))
      def summ(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("o_orderpriority"))
          .agg(count(lit(1)).as("n"), round(sum(col("l_quantity")), 2).as("qty"))
      val plain = summ(skewed.join(dim, Seq("k")))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted
      val salted = summ(graft.operators.Skew.saltedJoin(skewed, dim, Seq("k"),
          buckets = 8))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sorted
      val flag = if (plain.toSeq == salted.toSeq && plain.nonEmpty) 1 else 0
      import s.implicits._
      plain.toSeq.map { case (pr, n, qty) => (pr, n, qty, flag) }
        .toDF("pr", "n", "qty", "salted_matches_plain")
        .orderBy("pr")
    }),
    // ---- q107: UNKEYED session window — the range-partition +
    // boundary-merge path (no partitioned on; previously untested by any
    // gate). Thinned to median ~2.9 h spacing; the 3 h gap then produces a
    // real mix of multi-row sessions (boundary merges) and splits ----
    // (the pinned range-partitioned RDD is released by the harness AFTER
    // the result is consumed — releasing here, pre-consumption, risks the
    // silent-recompute drift ADVICE r7 documented on releasePinned)
    Gate("q107_session_unkeyed", Dialect,
      // q107: gaps-and-islands with a GLOBAL (unkeyed) order — same recipe
      // as q32's oracle minus the PARTITION BY
      "WITH x AS (SELECT value, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events " +
      "WHERE event_id % 40 = 0), " +
      "f AS (SELECT *, CASE WHEN LAG(us) OVER (ORDER BY us) IS NULL " +
      "OR us - LAG(us) OVER (ORDER BY us) > 10800000000 THEN 1 ELSE 0 END AS nf FROM x), " +
      "s AS (SELECT *, SUM(nf) OVER (ORDER BY us ROWS UNBOUNDED PRECEDING) AS sid FROM f) " +
      "SELECT make_timestamp(MIN(us)) AS w_start, make_timestamp(MAX(us) + 10800000000) AS w_end, " +
      "CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value), 4) AS v FROM s " +
      "GROUP BY sid ORDER BY w_start",
      (s, d) => g(s, d).sql("select w_start, w_end, count(*) as n, round(sum(value), 4) as v " +
      "from (select * from events where event_id % 40 = 0) as e " +
      "[session 180 min on ts] group by w_start, w_end order by w_start")),
    // ---- q108: time-range predicate over the (naive-encoded) event
    // timestamps — locks the NTZ-as-UTC read convention into the oracle
    // (values must equal DuckDB's naive comparison) and exercises the
    // scan-level pushdown path the round-8 reader conf preserves ----
    Gate("q108_time_pushdown", Dialect, "SELECT event_id AS k, event_type AS et, ROUND(value, 4) AS v FROM events " +
      "WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-10 00:00:00' " +
      "AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-10 12:00:00' ORDER BY k",
      (s, d) => g(s, d).sql("select event_id as k, event_type as et, round(value, 4) as v from events " +
      "where ts >= timestamp '2024-01-10 00:00:00' " +
      "and ts < timestamp '2024-01-10 12:00:00' order by k")),
    // ---- q109: relation-valued table functions (round 8) — the M4
    // pipeline reached FROM SQL, composed through a join with a literal
    // parameter; oracle re-derives both pipelines in DuckDB ----
    Gate("q109_pipeline_fns", Dialect,
      // q109: both table-function pipelines re-derived in DuckDB (gopher
      // keep flag ≡ x65's rule set; oov_rate ≡ x61's with vocabK=50)
      "WITH base AS (SELECT doc_id, text, " +
      "list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> w <> '') AS ws, " +
      "list_filter(string_split(text, chr(10)), l -> trim(l) <> '') AS lns FROM documents), " +
      "gf AS (SELECT doc_id AS id, CAST( " +
      "(len(ws) >= 50 AND len(ws) <= 100000) " +
      "AND (ROUND(CAST(COALESCE(list_sum(list_transform(ws, w -> length(w))), 0) AS DOUBLE) / GREATEST(len(ws), 1), 6) " +
      "BETWEEN 3.0 AND 10.0) " +
      "AND ((length(text) - length(replace(text, '#', '')) + (length(text) - length(replace(text, '...', ''))) // 3) * 10 < len(ws)) " +
      "AND (len(list_filter(lns, l -> regexp_matches(trim(l), '^[-*•]'))) * 10 <= GREATEST(len(lns), 1) * 9) " +
      "AND (len(list_filter(lns, l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$'))) * 10 <= GREATEST(len(lns), 1) * 3) " +
      "AND (len(list_filter(ws, w -> regexp_matches(w, '[A-Za-z]'))) * 10 >= len(ws) * 8) " +
      "AND (len(list_filter(['the','be','to','of','and','that','have','with'], " +
      "sw -> list_contains(list_transform(ws, w -> lower(w)), sw))) >= 2) AS INTEGER) AS gkeep FROM base), " +
      "toks AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok FROM documents), " +
      "t AS (SELECT doc_id, tok FROM toks WHERE tok <> ''), " +
      "v AS (SELECT tok AS term FROM (SELECT tok, count(*) AS n FROM t GROUP BY tok " +
      "ORDER BY n DESC, tok LIMIT 50)), " +
      "s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks, " +
      "CAST(SUM(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov " +
      "FROM t LEFT JOIN v ON t.tok = v.term GROUP BY doc_id) " +
      "SELECT gf.id AS id, gf.gkeep AS gkeep, " +
      "ROUND(CAST(s.n_oov AS DOUBLE) / s.n_toks, 6) AS oov_rate " +
      // LEFT: a blank doc has no token rows in s but oov_rate(documents)
      // still emits it (NULL rate) — the inner gate join keeps it too
      "FROM gf LEFT JOIN s ON gf.id = s.doc_id ORDER BY id",
      (s, d) => g(s, d).sql("select gfl.id as id, gfl.keep as gkeep, o.oov_rate as oov_rate " +
      "from gopher_flags(documents) as gfl " +
      "join oov_rate(documents, 50) as o on gfl.id = o.id " +
      "order by id")),
    // ---- q110: grouped exact quantiles via the `percentile` aggregate
    // (exact interpolated — per-group state is group-sized, the right
    // tool when groups are bounded; the GLOBAL unbounded case is
    // Quantiles' histogram selection, x68). Median of ints interpolates
    // at .5 exactly; p90 rounds at 6 dp on both engines ----
    // ---- q111: the BOUNDED-state grouped quantile path reached FROM SQL
    // (r9): grouped_quantiles table function = Quantiles.
    // groupedExactQuantiles (histogram refinement, executor state ≤
    // tasks·buckets) — the documented complement of q110's group-buffering
    // `percentile` aggregate; same quantile_cont oracle shape ----
    Gate("q111_grouped_quantiles_fn", Dialect,
      // q110: DuckDB quantile_cont uses the same linear interpolation as
      // Spark's exact percentile; 6-dp round absorbs float assoc noise
      "SELECT source, ROUND(quantile_cont(n_chars, 0.5), 6) AS med, " +
      "count(n_chars) AS n FROM documents GROUP BY source ORDER BY source",
      (s, d) => g(s, d).sql("select source, round(q, 6) as med, n " +
      "from grouped_quantiles(documents, 'source', 'n_chars', 0.5) " +
      "order by source")),
    Gate("q110_group_quantiles", Dialect, "SELECT source, ROUND(quantile_cont(n_chars, 0.5), 6) AS med, " +
      "ROUND(quantile_cont(n_chars, 0.9), 6) AS p90, " +
      "count(*) AS n FROM documents GROUP BY source ORDER BY source",
      (s, d) => g(s, d).sql("select source, round(percentile(n_chars, 0.5), 6) as med, " +
      "round(percentile(n_chars, 0.9), 6) as p90, " +
      "count(*) as n from documents group by source order by source")),
    // ---- q112: BPE tokenization reached FROM SQL with an already-
    // trained merge list passed as the literal model artifact — the
    // same X86_MERGES constant as the x86 operator gate and its oracle,
    // composed with a relational filter to show it's an ordinary
    // relation (train-mode `bpe_tokenize(documents, 8)` is TableFnSpec:
    // its merges depend on the corpus, so no closed-form SQL oracle) ----
    Gate("q112_bpe_tokenize_fn", Dialect,
      // q112: x86's generated replace-chain oracle, filtered like the gate
      s"SELECT * FROM (${duckBpeTokenize
       .stripSuffix(" ORDER BY id")}) WHERE n_words >= 40 ORDER BY id",
      (s, d) => g(s, d).sql("select id, n_words, n_tokens from bpe_tokenize(documents, '" +
      X86_MERGES
        .map { case (a, b) => s"$a $b" }.mkString(",") +
      "') where n_words >= 40 order by id")),
    // ---- q113: hard-negative mining reached FROM SQL — the query
    // sample registered via CTAS, then the table function composed with
    // projection/ORDER BY like any relation; same parameters and DuckDB
    // recompute as the x89 operator gate ----
    Gate("q113_hard_negatives_fn", Dialect,
      // q113: the SQL path produces exactly the x89 operator result
      duckHardNegatives,
      (s, d) => {
      val e = g(s, d)
      e.sql("create table q113_q as select vec_id, embedding, label " +
        "from embeddings where vec_id < 10")
      e.sql("select qid, vec_id, cos from " +
        "hard_negatives(embeddings, q113_q, 5, 0.98, 0.0) " +
        "order by qid, cos desc, vec_id")
    }),
    // ---- q114: BPE ENCODING reached from SQL — the token-id stream
    // (x97's model: same X86 merges, same cap-12 cut), aggregated per
    // doc with the id range as the cross-engine witness ----
    Gate("q114_bpe_encode_fn", Dialect,
      // q114: the x97 encode CTEs aggregated per doc
      s"WITH ${duckBpeEncodeCtes} " +
      "SELECT doc_id AS id, CAST(count(*) AS BIGINT) AS n_tokens, " +
      "MIN(token_id) AS mn, MAX(token_id) AS mx " +
      "FROM j GROUP BY doc_id ORDER BY id",
      (s, d) => g(s, d).sql("select id, cast(count(*) as bigint) as n_tokens, " +
      "min(token_id) as mn, max(token_id) as mx " +
      "from bpe_encode(documents, '" +
      X86_MERGES
        .map { case (a, b) => s"$a $b" }.mkString(",") +
      "', 12) group by id order by id")),
    // ---- q115: PQ ANN serve reached FROM SQL via a REGISTERED MODEL
    // NAME — build the flat PQ layout, CREATE MODEL it, serve with
    // pq_topk and assert exact parity with the operator API (recall
    // itself is x99's job; this pins the SQL/model-resolution path) ----
    Gate("q115_pq_topk_fn", Dialect,
      // q115: SQL/model-resolution parity flag; the query count is the
      // recomputable half (x99 carries the recall audit)
      "SELECT count(*) AS n_queries, CAST(1 AS INTEGER) AS sql_matches_api " +
      "FROM embeddings WHERE vec_id < 5",
      (s, d) => {
      import s.implicits._
      val e = g(s, d)
      val embT = e.catalog.relation("embeddings")
      // gate hygiene (r11 advisory): re-runs in one session must not
      // collide on the model/table names; the layout is the shared
      // deterministic fixture (r11) — identical bytes to a per-gate
      // build, minus the repeated training cost
      val dir = pqIndexFixture(s, d)
      e.sql("drop model if exists q115_pq")
      e.sql("drop table if exists q115_q")
      e.sql(s"create model q115_pq kind 'pq' at '$dir'")
      e.sql("create table q115_q as select vec_id, embedding from embeddings where vec_id < 5")
      val viaSql = e.sql(
        "select qid, vec_id, cos from pq_topk(q115_q, 'q115_pq', 5, 50) " +
        "order by qid, cos desc, vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val viaApi = graft.operators.IvfIndex.pqTopKIndexed(s, dir,
          embT.where(org.apache.spark.sql.functions.col("vec_id") < 5),
          k = 5, shortlist = 50)
        .orderBy(org.apache.spark.sql.functions.col("qid"),
          org.apache.spark.sql.functions.col("cos").desc,
          org.apache.spark.sql.functions.col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      Seq((viaSql.map(_._1).distinct.length.toLong,
          if (viaSql == viaApi && viaSql.nonEmpty) 1 else 0))
        .toDF("n_queries", "sql_matches_api")
    }),
    // ---- q116: IVF-PQ serve reached FROM SQL via the fourth model
    // kind ('ivfpq') — register the composed layout, serve with
    // ivfpq_topk, assert exact parity with the operator API (recall +
    // pruning are x101's job; this pins SQL/model resolution) ----
    // ---- residual-IVFADC SQL serve (r12): ivfpq_topk AUTO-DETECTS the
    // layout's residual meta through a registered model name, and the
    // SQL result must equal the API serve row-for-row ----
    // ---- ivfsq8_topk table fn (r12): the IVF+SQ8 composed serve by
    // MODEL NAME through the SQL surface ≡ the API serve over the same
    // layout — fifth model kind 'ivfsq8' ----
    Gate("q133_ivfsq8_topk_fn", Dialect, "SELECT count(*) AS n_queries, CAST(1 AS INTEGER) AS sql_matches_api " +
      "FROM embeddings WHERE vec_id < 5",
      (s, d) => {
      import s.implicits._
      val e = g(s, d)
      val embT = e.catalog.relation("embeddings")
      val dir = ivfIndexFixture(s, d,
        graft.operators.IvfIndex.Sq8)
      e.sql("drop model if exists q133_ivfsq8")
      e.sql("drop table if exists q133_q")
      e.sql(s"create model q133_ivfsq8 kind 'ivfsq8' at '$dir'")
      e.sql("create table q133_q as select vec_id, embedding from embeddings where vec_id < 5")
      val viaSql = e.sql(
        "select qid, vec_id, cos from ivfsq8_topk(q133_q, 'q133_ivfsq8', 5, 4) " +
        "order by qid, cos desc, vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val viaApi = graft.operators.IvfIndex.topK(s, dir,
          embT.where(org.apache.spark.sql.functions.col("vec_id") < 5),
          k = 5, nprobe = 4)
        .orderBy(org.apache.spark.sql.functions.col("qid"),
          org.apache.spark.sql.functions.col("cos").desc,
          org.apache.spark.sql.functions.col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      Seq((viaSql.map(_._1).distinct.length.toLong,
          if (viaSql == viaApi && viaSql.nonEmpty) 1 else 0))
        .toDF("n_queries", "sql_matches_api")
    }),
    Gate("q128_ivfpq_residual_fn", Dialect,
      // q128: the residual layout served by model name — same contract
      "SELECT count(*) AS n_queries, CAST(1 AS INTEGER) AS sql_matches_api " +
      "FROM embeddings WHERE vec_id < 5",
      (s, d) => {
      import s.implicits._
      val e = g(s, d)
      val embT = e.catalog.relation("embeddings")
      val dir = ivfIndexFixture(s, d,
        graft.operators.IvfIndex.Pq(residual = true))
      e.sql("drop model if exists q128_ivfpq")
      e.sql("drop table if exists q128_q")
      e.sql(s"create model q128_ivfpq kind 'ivfpq' at '$dir'")
      e.sql("create table q128_q as select vec_id, embedding from embeddings where vec_id < 5")
      val viaSql = e.sql(
        "select qid, vec_id, cos from ivfpq_topk(q128_q, 'q128_ivfpq', 5, 4, 50) " +
        "order by qid, cos desc, vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val viaApi = graft.operators.IvfIndex.topK(s, dir,
          embT.where(org.apache.spark.sql.functions.col("vec_id") < 5),
          k = 5, nprobe = 4, shortlist = 50)
        .orderBy(org.apache.spark.sql.functions.col("qid"),
          org.apache.spark.sql.functions.col("cos").desc,
          org.apache.spark.sql.functions.col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      Seq((viaSql.map(_._1).distinct.length.toLong,
          if (viaSql == viaApi && viaSql.nonEmpty) 1 else 0))
        .toDF("n_queries", "sql_matches_api")
    }),
    Gate("q116_ivfpq_topk_fn", Dialect,
      // q116: the same parity-flag shape for the composed IVF-PQ serve
      // (x101 carries the recall + pruning audit)
      "SELECT count(*) AS n_queries, CAST(1 AS INTEGER) AS sql_matches_api " +
      "FROM embeddings WHERE vec_id < 5",
      (s, d) => {
      import s.implicits._
      val e = g(s, d)
      val embT = e.catalog.relation("embeddings")
      val dir = ivfIndexFixture(s, d,
        graft.operators.IvfIndex.Pq())
      e.sql("drop model if exists q116_ivfpq")
      e.sql("drop table if exists q116_q")
      e.sql(s"create model q116_ivfpq kind 'ivfpq' at '$dir'")
      e.sql("create table q116_q as select vec_id, embedding from embeddings where vec_id < 5")
      val viaSql = e.sql(
        "select qid, vec_id, cos from ivfpq_topk(q116_q, 'q116_ivfpq', 5, 4, 50) " +
        "order by qid, cos desc, vec_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      val viaApi = graft.operators.IvfIndex.topK(s, dir,
          embT.where(org.apache.spark.sql.functions.col("vec_id") < 5),
          k = 5, nprobe = 4, shortlist = 50)
        .orderBy(org.apache.spark.sql.functions.col("qid"),
          org.apache.spark.sql.functions.col("cos").desc,
          org.apache.spark.sql.functions.col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      Seq((viaSql.map(_._1).distinct.length.toLong,
          if (viaSql == viaApi && viaSql.nonEmpty) 1 else 0))
        .toDF("n_queries", "sql_matches_api")
    }),
    // ---- image_phash table fn (r11): the x108 resolution families
    // through the SQL surface — distinct-phash count is pure doc_id
    // arithmetic (one group per 5-member family) ----
    Gate("q122_image_phash_fn", Dialect,
      // q122: one dHash group per 5-member resolution family
      "SELECT COUNT(DISTINCT doc_id - doc_id % 5) AS n_groups, " +
      "CAST(count(*) AS BIGINT) AS n, CAST(1 AS INTEGER) AS all_ok " +
      "FROM documents",
      (s, d) => {
      import s.implicits._
      val e = g(s, d)
      val media = e.catalog.relation("documents")
        .select(org.apache.spark.sql.functions.col("doc_id"))
        // r16 opt: PNG encode is the cost; spread the one-split documents
        // scan before the codec kernel (the q123 discipline, guide §2.5)
        .repartition(s.sparkContext.defaultParallelism,
          org.apache.spark.sql.functions.col("doc_id"))
        .as[Long].mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.map { id =>
            val leader = id - id % 5
            (id, graft.operators.Multimodal
              .synthPatternPngBytes(leader, 4 + (id % 5).toInt))
          }
        }.toDF("media_id", "payload")
      e.catalog.registerTable("q122_media", media)
      e.sql("select count(distinct phash) as n_groups, count(*) as n, " +
        "min(cast(ok as int)) as all_ok from image_phash(q122_media)")
    }),
    // ---- hamming_pairs table fn (r11): banded candidates over the x108
    // family signatures — within-family pair count is pure arithmetic ----
    Gate("q123_hamming_pairs_fn", Dialect,
      // q123: within-family candidate pairs at hamming 0 = sum g·(g−1)/2
      "SELECT CAST(SUM(g * (g - 1) // 2) AS BIGINT) AS n_pairs FROM " +
      "(SELECT count(*) AS g FROM documents GROUP BY doc_id - doc_id % 5)",
      (s, d) => {
      import s.implicits._
      val e = g(s, d)
      val sig = e.catalog.relation("documents")
        .select(org.apache.spark.sql.functions.col("doc_id"))
        // r15 opt: PNG encode + dHash is the cost; spread it over the
        // cluster instead of the one-split documents scan (guide §2.5)
        .repartition(s.sparkContext.defaultParallelism,
          org.apache.spark.sql.functions.col("doc_id"))
        .as[Long].mapPartitions { it =>
          javax.imageio.ImageIO.setUseCache(false)
          it.map { id =>
            val leader = id - id % 5
            (id, graft.operators.Multimodal
              .synthPatternPngBytes(leader, 4 + (id % 5).toInt))
          }
        }.toDF("media_id", "payload")
      e.catalog.registerTable("q123_sig",
        graft.operators.Multimodal.dHash(sig)
          .select(org.apache.spark.sql.functions.col("id"),
            org.apache.spark.sql.functions.col("phash").as("sh")))
      e.sql("select count(*) as n_pairs from hamming_pairs(q123_sig, 0) " +
        "where ida - ida % 5 = idb - idb % 5")
    }),
    // ---- decontaminate table fn (r11): the x20 removal from SQL ----
    Gate("q124_decontaminate_fn", Dialect,
      // q124: the x20 gram recompute flipped to SURVIVING train ids
      "WITH d AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws FROM documents), " +
      "g AS (SELECT doc_id, CASE WHEN len(ws) < 3 THEN [array_to_string(ws,' ')] " +
      "ELSE list_distinct([array_to_string(ws[i:i+2],' ') for i in range(1, len(ws)-1)]) END AS grams FROM d), " +
      "b AS (SELECT DISTINCT unnest(grams) AS sh FROM g WHERE doc_id % 97 = 0), " +
      "t AS (SELECT doc_id, unnest(grams) AS sh FROM g WHERE doc_id % 97 <> 0), " +
      "f AS (SELECT DISTINCT t.doc_id FROM t JOIN b USING (sh)) " +
      "SELECT doc_id FROM d WHERE doc_id % 97 <> 0 AND doc_id NOT IN (SELECT doc_id FROM f) " +
      "ORDER BY doc_id",
      (s, d) => {
      val e = g(s, d)
      e.sql("drop table if exists q124_train")
      e.sql("drop table if exists q124_bench")
      e.sql("create table q124_train as select doc_id, text from documents where doc_id % 97 <> 0")
      e.sql("create table q124_bench as select doc_id, text from documents where doc_id % 97 = 0")
      e.sql("select doc_id from decontaminate(q124_train, q124_bench, 3) order by doc_id")
    }),
    // ---- compression-ratio table fn (r11): per-doc UTF-8 byte counts
    // are EXACT against DuckDB strlen; the deflate side is pinned by a
    // per-doc sanity flag (x104 carries the quality-inequality audit) ----
    // ok must hold for EMPTY docs too: compressionRatio reports
    // (0, 0, 1.0) for empty/null text, so the sanity flag is "empty or
    // the deflate produced bytes" — matching the oracle's unconditional
    // 1 on any corpus, not just one without empty documents (r11 advice)
    Gate("q119_compression_ratio_fn", Dialect,
      // q119: UTF-8 byte length recomputed exactly; deflate pinned by flag
      "SELECT doc_id AS id, CAST(strlen(text) AS BIGINT) AS n_bytes, " +
      "CAST(1 AS INTEGER) AS ok FROM documents ORDER BY id",
      (s, d) => g(s, d).sql("select id, n_bytes, cast(n_bytes = 0 or n_deflated > 0 as int) as ok " +
      "from compression_ratio(documents) order by id")),
    // ---- audio_stats table fn (r12): sample-level WAV quality signals
    // through the SQL surface; every count is an exact integer recompute
    // of the synthetic waveform formula ----
    Gate("q125_audio_stats_fn", Dialect,
      // q125: x110's waveform-formula recompute through the SQL surface
      "WITH st AS (SELECT doc_id, (16 + doc_id % 32) * (1 + doc_id % 2) AS n, " +
      "(SELECT list(((doc_id * 131 + g.i * 17) % 65536) - 32768) " +
      " FROM generate_series(0, 95) AS g(i) " +
      " WHERE g.i < (16 + doc_id % 32) * (1 + doc_id % 2)) AS ss " +
      "FROM documents WHERE doc_id % 3 = 1) " +
      "SELECT doc_id AS media_id, CAST(1 AS INTEGER) AS ok, " +
      "CAST(n AS BIGINT) AS n_samples, " +
      "CAST(list_sum(list_transform(ss, s -> s * s)) AS BIGINT) AS sum_sq, " +
      "CAST(list_sum(list_transform(ss, s -> CASE WHEN abs(s) < 1024 THEN 1 ELSE 0 END)) AS BIGINT) AS n_silent, " +
      "CAST(list_sum(list_transform(ss, s -> CASE WHEN s = 32767 OR s = -32768 THEN 1 ELSE 0 END)) AS BIGINT) AS n_clipped " +
      "FROM st " +
      "UNION ALL " +
      "SELECT doc_id, CAST(0 AS INTEGER), 0, 0, 0, 0 FROM documents WHERE doc_id % 3 <> 1 " +
      "ORDER BY media_id",
      (s, d) => {
      val e = g(s, d)
      e.catalog.registerTable("q125_media",
        graft.operators.Multimodal.synthesize(e.catalog.relation("documents")))
      e.sql("select media_id, cast(ok as int) as ok, n_samples, sum_sq, " +
        "n_silent, n_clipped from audio_stats(q125_media) order by media_id")
    }),
    // ---- audio_fingerprint table fn (r12): the x112 volume-family
    // construction through the SQL surface — one fingerprint per
    // 3-recording family, counts pure doc_id arithmetic ----
    Gate("q127_audio_fingerprint_fn", Dialect,
      // q127: one fingerprint per 3-member volume family
      "SELECT CAST(count(DISTINCT doc_id - doc_id % 3) AS BIGINT) AS n_fp, " +
      "CAST(count(*) AS BIGINT) AS n, CAST(1 AS INTEGER) AS all_ok " +
      "FROM documents",
      (s, d) => {
      import s.implicits._
      val e = g(s, d)
      val media = e.catalog.relation("documents")
        .select(org.apache.spark.sql.functions.col("doc_id"))
        // r16 opt: spread the one-split scan before the WAV synth kernel
        .repartition(s.sparkContext.defaultParallelism,
          org.apache.spark.sql.functions.col("doc_id"))
        .as[Long].mapPartitions { it =>
          it.map { id =>
            val leader = id - id % 3
            (id, graft.operators.Multimodal
              .synthToneWavBytes(leader, 1 << (id % 3).toInt))
          }
        }.toDF("media_id", "payload")
      e.catalog.registerTable("q127_media", media)
      e.sql("select count(distinct afp) as n_fp, count(*) as n, " +
        "min(cast(ok as int)) as all_ok from audio_fingerprint(q127_media)")
    }),
    // ---- pii_redact table fn (r12): deterministic PII injected per
    // doc_id, counts + redacted text recomputed by the oracle with the
    // IDENTICAL RE2-compatible regexes ----
    Gate("q126_pii_redact_fn", Dialect,
      // q126: identical injection + identical RE2-compatible regex family
      // recomputed in DuckDB (counts AND the replaced text)
      "WITH inj AS (SELECT doc_id, text || CASE WHEN doc_id % 5 = 0 THEN " +
      "' mail bob' || CAST(doc_id % 9 AS VARCHAR) || '@site.org from 10.' || " +
      "CAST(doc_id % 200 AS VARCHAR) || '.3.44 ref ' || " +
      "CAST(1000000 + doc_id % 999999 AS VARCHAR) ELSE '' END AS t FROM documents) " +
      "SELECT doc_id AS id, " +
      "CAST(len(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_emails, " +
      "CAST(len(regexp_extract_all(t, '\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b')) AS BIGINT) AS n_ipv4, " +
      "CAST(len(regexp_extract_all(t, '\\b\\d{7,15}\\b')) AS BIGINT) AS n_digit_runs, " +
      "regexp_replace(regexp_replace(regexp_replace(t, " +
      "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
      "'\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b', '<IP>', 'g'), " +
      "'\\b\\d{7,15}\\b', '<NUM>', 'g') AS text_redacted " +
      "FROM inj ORDER BY id",
      (s, d) => {
      import org.apache.spark.sql.functions._
      val e = g(s, d)
      val injected = e.catalog.relation("documents").select(col("doc_id"),
        concat(col("text"), when(col("doc_id") % 5 === 0,
          concat(lit(" mail bob"), (col("doc_id") % 9).cast("string"),
            lit("@site.org from 10."), (col("doc_id") % 200).cast("string"),
            lit(".3.44 ref "),
            (lit(1000000) + col("doc_id") % 999999).cast("string")))
          .otherwise(lit(""))).as("text"))
      e.catalog.registerTable("q126_docs", injected)
      e.sql("select id, n_emails, n_ipv4, n_digit_runs, text_redacted " +
        "from pii_redact(q126_docs) order by id")
    }),
    // ---- url_normalize table fn (r12): canonical URL + host +
    // registered domain over the deterministic messy-URL fixture; the
    // oracle derives every canonical component by doc_id ARITHMETIC,
    // independent of the normalizer's regex chain ----
    Gate("q129_url_normalize_fn", Dialect,
      // q129/q130: every canonical URL component is doc_id arithmetic —
      // the oracle builds the expected strings directly, never running a
      // normalizer of its own
      s"WITH u AS ($duckSynthUrlCte) " +
      "SELECT doc_id AS id, scheme || '://' || sub || dom || pth || qq AS url_norm, " +
      "sub || dom AS host, dom AS domain FROM u ORDER BY id",
      (s, d) => {
      val e = g(s, d)
      e.catalog.registerTable("q129_urls",
        graft.operators.UrlCuration.synthUrls(e.catalog.relation("documents")))
      e.sql("select id, url_norm, host, domain " +
        "from url_normalize(q129_urls) order by id")
    }),
    // ---- domain_stats table fn (r12): the per-domain scoreboard —
    // counts and distinct hosts recomputed from the same arithmetic ----
    Gate("q130_domain_stats_fn", Dialect, s"WITH u AS ($duckSynthUrlCte) " +
      "SELECT dom AS domain, CAST(count(*) AS BIGINT) AS n_docs, " +
      "CAST(count(DISTINCT sub || dom) AS BIGINT) AS n_hosts " +
      "FROM u GROUP BY dom ORDER BY domain",
      (s, d) => {
      val e = g(s, d)
      e.catalog.registerTable("q130_urls",
        graft.operators.UrlCuration.synthUrls(e.catalog.relation("documents")))
      e.sql("select domain, n_docs, n_hosts " +
        "from domain_stats(q130_urls) order by domain")
    }),
    // ---- int8_quantize table fn (r12): SQ8 embedding storage through
    // the SQL surface (x45's quantizer — qscale = 127/max|v|, codes
    // clamp(floor(v·qscale+0.5))). The codes column (array<tinyint>) is
    // not hash-comparable across engines, so the gate compares EXACT
    // integer functionals of the codes (count, sum, sum-of-squares,
    // max |code|) plus the scale at fixed precision — every one
    // recomputed by DuckDB from the same parquet floats with the same
    // engine-portable floor(x+0.5) half-handling ----
    Gate("q131_int8_quantize_fn", Dialect,
      // q131: full quantizer recompute — qscale = 127/max|v| and every
      // code clamp(floor(v·qscale+0.5)) derived from the same parquet
      // floats (double-widened) with the engine-portable floor
      // half-handling; all code comparisons exact integers
      "WITH b AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), " +
      "m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS mx FROM b), " +
      "c AS (SELECT vec_id, " +
      "CASE WHEN mx > 0 THEN 127.0 / mx ELSE 0.0 END AS qscale, " +
      "CASE WHEN mx > 0 THEN list_transform(v, x -> CAST(greatest(-127, " +
      "least(127, floor(x * (127.0 / mx) + 0.5))) AS BIGINT)) " +
      "ELSE list_transform(v, x -> CAST(0 AS BIGINT)) END AS codes FROM m) " +
      "SELECT vec_id AS id, CAST(round(qscale * 1e6) AS BIGINT) AS qscale_e6, " +
      "CAST(len(codes) AS BIGINT) AS n_dims, " +
      "CAST(list_sum(codes) AS BIGINT) AS sum_codes, " +
      "CAST(list_sum(list_transform(codes, c -> c * c)) AS BIGINT) AS sum_sq, " +
      "CAST(list_max(list_transform(codes, c -> abs(c))) AS BIGINT) AS max_abs " +
      "FROM c ORDER BY id",
      (s, d) => {
      import org.apache.spark.sql.functions._
      val e = g(s, d)
      val out = e.sql("select vec_id, qvec, qscale from int8_quantize(embeddings)")
      out.select(col("vec_id").as("id"),
        round(col("qscale") * lit(1e6)).cast("long").as("qscale_e6"),
        size(col("qvec")).cast("long").as("n_dims"),
        aggregate(col("qvec"), lit(0L), (a, c) => a + c.cast("long")).as("sum_codes"),
        graft.expr.Int8Ops.dotCodes(col("qvec"), col("qvec")).as("sum_sq"),
        array_max(transform(col("qvec"), c => abs(c.cast("int")))).cast("long")
          .as("max_abs"))
        .orderBy("id")
    }),
    // ---- script_stats table fn (r12): Unicode-script + mojibake
    // detection through the SQL surface. Non-Latin text is INJECTED
    // deterministically per doc_id (the q126 pattern) so every script
    // branch and the encoding flags are exercised; the oracle recomputes
    // every count with the IDENTICAL ranges in RE2 spelling ----
    Gate("q132_script_stats_fn", Dialect,
      // q132: identical injection; every range count recomputed with the
      // SAME Unicode ranges in RE2 spelling; script argmax + tie priority
      // and both encoding flags recomputed in SQL
      "WITH inj AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN '' ELSE text END || " +
      "CASE doc_id % 5 WHEN 1 THEN ' Привет мир' WHEN 2 THEN ' 你好世界' " +
      "WHEN 3 THEN ' مرحبا' WHEN 4 THEN ' bad' || chr(65533) || chr(65533) || 'text' " +
      "ELSE '' END AS t FROM documents), " +
      "c AS (SELECT doc_id, t, " +
      "len(regexp_extract_all(t, '[A-Za-z]')) AS lat, " +
      "len(regexp_extract_all(t, '[\\x{0400}-\\x{04FF}]')) AS cyr, " +
      "len(regexp_extract_all(t, '[\\x{4E00}-\\x{9FFF}]')) AS cjk, " +
      "len(regexp_extract_all(t, '[\\x{0600}-\\x{06FF}]')) AS ara, " +
      "len(regexp_extract_all(t, '\\x{FFFD}')) AS rep, " +
      "len(regexp_extract_all(t, '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]')) AS ctl " +
      "FROM inj) " +
      "SELECT doc_id AS id, CAST(lat AS BIGINT) AS n_latin, " +
      "CAST(cyr AS BIGINT) AS n_cyrillic, CAST(cjk AS BIGINT) AS n_cjk, " +
      "CAST(ara AS BIGINT) AS n_arabic, CAST(rep AS BIGINT) AS n_replacement, " +
      "CAST(ctl AS BIGINT) AS n_control, " +
      "CASE WHEN lat + cyr + cjk + ara = 0 THEN 'und' " +
      "WHEN lat >= cyr AND lat >= cjk AND lat >= ara THEN 'latin' " +
      "WHEN cyr >= cjk AND cyr >= ara THEN 'cyrillic' " +
      "WHEN cjk >= ara THEN 'cjk' ELSE 'arabic' END AS script, " +
      "CAST(CASE WHEN rep = 0 AND ctl = 0 THEN 1 ELSE 0 END AS INTEGER) AS ok_encoding " +
      "FROM c ORDER BY id",
      (s, d) => {
      import org.apache.spark.sql.functions._
      val e = g(s, d)
      val suffix =
        when(col("doc_id") % 5 === 1, lit(" Привет мир")) // 9 cyrillic
          .when(col("doc_id") % 5 === 2, lit(" 你好世界")) // 4 cjk
          .when(col("doc_id") % 5 === 3, lit(" مرحبا"))   // 5 arabic
          .when(col("doc_id") % 5 === 4, lit(" bad\uFFFD\uFFFDtext"))
          .otherwise(lit(""))
      // every 7th doc keeps ONLY the injected suffix, so the non-Latin
      // dominant branches (and 'und' at %5=0) actually fire in the gate
      val injected = e.catalog.relation("documents").select(col("doc_id"),
        when(col("doc_id") % 7 === 0, suffix)
          .otherwise(concat(col("text"), suffix)).as("text"))
      e.catalog.registerTable("q132_docs", injected)
      e.sql("select id, n_latin, n_cyrillic, n_cjk, n_arabic, " +
        "n_replacement, n_control, script, ok_encoding " +
        "from script_stats(q132_docs) order by id")
    }),
    // ---- bpe_decode table fn (r12): the full encode→decode round trip
    // through the SQL surface. The oracle derives the expected
    // detokenization from the RAW corpus text alone (lowercase
    // [a-z]+-word normalization), so a pass proves BOTH codecs —
    // encode lost nothing, decode reassembled exactly ----
    Gate("q134_bpe_roundtrip_fn", Dialect,
      // q134: the expected detokenization derives from the RAW text —
      // independent of both the encoder and decoder under test. Docs with
      // no [a-z] word at all produce no encode rows and are rightly absent
      "SELECT doc_id AS id, array_to_string(list_filter(" +
      "regexp_split_to_array(lower(text), '[^a-z]+'), w -> w <> ''), ' ') AS text_detok " +
      "FROM documents " +
      "WHERE len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), w -> w <> '')) > 0 " +
      "ORDER BY id",
      (s, d) => {
      val e = g(s, d)
      // LAZY registration: the encode fuses into the decode pipeline —
      // a `create table as` here materialized the full token relation
      // (~50M rows at the 100× sweep) just to re-shuffle it
      e.catalog.registerTable("q134_enc",
        Subwords.encode(e.catalog.relation("documents"), "text", "doc_id",
          Subwords.Bpe(Seq(("e", "r"), ("i", "n"), ("t", "h"), ("a", "n")))))
      e.sql("select id, text_detok from bpe_decode(q134_enc) order by id")
    }),
    // ---- domain_split table fn (r12): the FULL per-row assignment
    // (domain + split) is recomputed by DuckDB — md5-of-domain with
    // exact integer bucket arithmetic is engine-portable ----
    Gate("q135_domain_split_fn", Dialect,
      // q135: full assignment recompute — same domain arithmetic, same
      // md5 bucket, same integer threshold
      s"WITH u AS ($duckSynthUrlCte) " +
      "SELECT doc_id AS id, dom AS domain, " +
      "CASE WHEN CAST(('0x' || substr(md5(dom), 1, 4)) AS BIGINT) * 100 " +
      "< 25 * 65536 THEN 'test' ELSE 'train' END AS split " +
      "FROM u ORDER BY id",
      (s, d) => {
      val e = g(s, d)
      e.catalog.registerTable("q135_urls",
        graft.operators.UrlCuration.synthUrls(e.catalog.relation("documents")))
      e.sql("select doc_id as id, domain, split " +
        "from domain_split(q135_urls, 25) order by id")
    }),
    // ---- URL scalar fns (r12): the canonicalization family in
    // EXPRESSION position through the dialect translator (q129 proves
    // the table-fn path; this proves scalar composition — a WHERE on
    // url_domain rides the same call) ----
    Gate("q136_url_scalar_fns", Dialect,
      // q136: scalar-position recompute — same arithmetic as q129
      s"WITH u AS ($duckSynthUrlCte) " +
      "SELECT doc_id AS id, scheme || '://' || sub || dom || pth || qq AS cu, " +
      "sub || dom AS h, dom AS dom FROM u ORDER BY id",
      (s, d) => {
      val e = g(s, d)
      // r16 opt: register the synthesized table MATERIALIZED and spread.
      // Unmaterialized, Catalyst pushes the url_domain() predicate below
      // the synth projection, inlining the whole synth+host-regex chain
      // into the filter (~8 copies; plans/r16 before/after), and the
      // one-file scan runs it all on a single core. The checkpoint is
      // rebuilt inside every run — a lineage cut, not a cross-run cache.
      e.catalog.registerTable("q136_urls",
        graft.operators.UrlCuration.synthUrls(e.catalog.relation("documents"))
          .repartition(s.sparkContext.defaultParallelism,
            org.apache.spark.sql.functions.col("doc_id"))
          .localCheckpoint())
      e.sql("select doc_id as id, url_canonical(url) as cu, url_host(url) as h, " +
        "url_domain(url) as dom from q136_urls " +
        "where url_domain(url) <> 'nosuch.example' order by id")
    }),
    // ---- unigram_encode → bpe_decode through the SQL surfaces (r13):
    // the q134 round trip for the SECOND tokenizer family, riding a
    // registered model artifact (train → CREATE MODEL → encode by name);
    // nested table-function calls exercise the composition path ----
    Gate("q141_unigram_roundtrip_fn", Dialect,
      // q141: the q134 detok oracle verbatim — expected text derives from
      // the RAW corpus, independent of the unigram codec pair
      "SELECT doc_id AS id, array_to_string(list_filter(" +
      "regexp_split_to_array(lower(text), '[^a-z]+'), w -> w <> ''), ' ') AS text_detok " +
      "FROM documents " +
      "WHERE len(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), w -> w <> '')) > 0 " +
      "ORDER BY id",
      (s, d) => {
      val e = g(s, d)
      val dir = java.nio.file.Files.createTempDirectory("q141_").toString
      val path = s"$dir/vocab.tsv"
      Subwords.Unigram(Subwords.unigramTrain(
        Subwords.vocab(e.catalog.relation("documents"), "text", "doc_id"), vocabSize = 256, iters = 2))
        .save(s, path)
      // idempotent re-run (Bench passes share the session catalog)
      try e.sql("drop model q141uni") catch { case _: Exception => }
      e.sql(s"create model q141uni kind 'unigram' at '$path'")
      e.sql("select id, text_detok from " +
        "bpe_decode(unigram_encode(documents, 'q141uni')) order by id")
    }),
    // ---- trained linear classifier artifact (r14): the x59 swap-in
    // point made real — a (bucket, weight) parquet registered via
    // CREATE MODEL KIND 'linear' and served through quality_classifier's
    // model branch; weights follow a DuckDB-recomputable formula so the
    // oracle rebuilds every score exactly (x59 BIGINT discipline) ----
    Gate("q142_linear_model", Dialect,
      // q142: the x59 oracle shape with the TRAINED weight table's formula
      // inlined — DuckDB rebuilds bucket → weight → exact BIGINT sum →
      // sigmoid, never reading the parquet artifact
      "WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS tok FROM documents), " +
      "t AS (SELECT doc_id, (strpos('0123456789abcdef', substring(md5(tok), 1, 1)) - 1) * 16 + " +
      "(strpos('0123456789abcdef', substring(md5(tok), 2, 1)) - 1) AS b FROM toks WHERE tok <> ''), " +
      "s AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks, " +
      "SUM((b * 2862933555 + 12345) % 4096 - 2048) AS sw FROM t GROUP BY 1) " +
      "SELECT d.doc_id AS id, COALESCE(s.n_toks, 0) AS n_toks, " +
      "ROUND(1.0/(1.0 + exp(-(8.0 * sw / (4096.0 * s.n_toks)))), 6) AS score, " +
      "CAST(CASE WHEN COALESCE(ROUND(1.0/(1.0 + exp(-(8.0 * sw / (4096.0 * s.n_toks)))), 6) >= 0.5, FALSE) " +
      "THEN 1 ELSE 0 END AS INTEGER) AS keep " +
      "FROM documents d LEFT JOIN s USING (doc_id) ORDER BY id",
      (s, d) => {
      val e = g(s, d)
      val dir = java.nio.file.Files.createTempDirectory("q142_").toString
      // multiplier > 2^31 on purpose: DuckDB parses it as BIGINT, so the
      // oracle's b * 2862933555 never overflows an INTEGER (the x59 trick)
      s.range(0, 256).select(
        org.apache.spark.sql.functions.col("id").as("bucket"),
        ((org.apache.spark.sql.functions.col("id") * 2862933555L + 12345L)
          % 4096L - 2048L).as("weight"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/weights")
      try e.sql("drop model q142lin") catch { case _: Exception => }
      e.sql(s"create model q142lin kind 'linear' at '$dir/weights'")
      e.sql("select id, n_toks, score, keep from " +
        "quality_classifier(documents, 'q142lin') order by id")
    }),
    // ---- persisted DSIR model served by name (r15): the last
    // save/load-less broadcast model promoted to a catalog artifact —
    // trainDsirModel lands the log-ratio table, CREATE MODEL KIND
    // 'dsir' registers it (eager validation + content hash + sidecar
    // journal), dsir_apply scores through the stateless online path.
    // Saved log-ratios round-trip bit-identically (Double.toString), so
    // the x71/x73 batch DuckDB oracle pins the served scores verbatim ----
    Gate("q143_dsir_model", Dialect,
      // q143: the shared batch-DSIR recompute (the x71/x73 oracle) — the
      // served scores must match the batch path bit-for-bit, proving the
      // artifact save/load cycle loses nothing
      duckDsirScores + " ORDER BY id",
      (s, d) => {
      val e = g(s, d)
      val dir = java.nio.file.Files.createTempDirectory("q143_").toString
      val path = s"$dir/dsir.tsv"
      graft.operators.Importance.trainDsirModel(
        e.catalog.relation("documents"), "text", "doc_id",
        isTarget = org.apache.spark.sql.functions.col("source") === "src0",
        buckets = 256, path = path)
      // idempotent re-run (Bench passes share the session catalog)
      try e.sql("drop model q143dsir") catch { case _: Exception => }
      e.sql(s"create model q143dsir kind 'dsir' at '$path'")
      e.sql("select id, n_toks, score from " +
        "dsir_apply(documents, 'q143dsir') order by id")
    }),
    // ---- warc_responses table fn (r13): the crawl entry point through
    // the dialect — x121 proves the byte kernel row-for-row; this proves
    // the SQL surface (WHERE on status rides the same call) ----
    Gate("q140_warc_fn", Dialect,
      // q140: 200-status records are every doc_id % 50 <> 0; text is the
      // raw corpus text, so n_chars recomputes from documents directly
      "SELECT doc_id AS id, 200 AS status, " +
      "CAST(length(text) AS BIGINT) AS n_chars FROM documents " +
      "WHERE doc_id % 50 <> 0 ORDER BY id",
      (s, d) => {
      val e = g(s, d)
      val withUrl = e.catalog.relation("documents").select(
        org.apache.spark.sql.functions.col("doc_id"),
        graft.operators.UrlCuration.synthCanonicalUrl(
          org.apache.spark.sql.functions.col("doc_id")).as("url"),
        org.apache.spark.sql.functions.col("text"))
      e.catalog.registerTable("q140_warcs",
        graft.operators.WebArchive.synthesizeWarc(withUrl))
      e.sql("select record_id as id, status, length(text) as n_chars " +
        "from warc_responses(q140_warcs) where status = 200 order by id")
    }),
    // ---- warc_scan table fn (r15): the crawl entry point over file
    // PATHS through the dialect — synthesized .warc.gz files land on
    // disk, the split parse (record-aligned member-boundary ranges at a
    // 64 KiB target, so files genuinely split) must recover exactly the
    // q140 response rows ----
    Gate("q144_warc_scan_fn", Dialect,
      // q144: the q140 oracle verbatim — the split path must be
      // record-identical to the whole-payload parse
      "SELECT doc_id AS id, 200 AS status, " +
      "CAST(length(text) AS BIGINT) AS n_chars FROM documents " +
      "WHERE doc_id % 50 <> 0 ORDER BY id",
      (s, d) => {
      val e = g(s, d)
      val withUrl = e.catalog.relation("documents").select(
        org.apache.spark.sql.functions.col("doc_id"),
        graft.operators.UrlCuration.synthCanonicalUrl(
          org.apache.spark.sql.functions.col("doc_id")).as("url"),
        org.apache.spark.sql.functions.col("text"))
      val dir = java.nio.file.Files.createTempDirectory("q144_")
      val paths = graft.operators.WebArchive.synthesizeWarc(withUrl)
        .select("warc_file", "payload").collect().map { r =>
          val p = dir.resolve(r.getString(0))
          java.nio.file.Files.write(p, r.getAs[Array[Byte]](1))
          p.toString
        }
      import s.implicits._
      e.catalog.registerTable("q144_files", paths.toSeq.toDF("path"))
      e.sql("select record_id as id, status, length(text) as n_chars " +
        "from warc_scan(q144_files, 65536) where status = 200 order by id")
    }),
    // ---- S8 driver gate (r13): the q117 pattern for JDBC — the gate
    // parquet is loaded into an embedded Derby table, registered through
    // registerJdbc (live-connection schema introspection), and aggregated
    // THROUGH the dialect; the oracle recomputes over the parquet alone,
    // so a pass proves the JDBC source path end-to-end without the oracle
    // ever seeing Derby ----
    Gate("q137_jdbc_source", Dialect,
      // q137: the Derby-loaded rows ARE the nation table — the oracle
      // recomputes the aggregate from the parquet, never touching JDBC
      "SELECT n_regionkey AS rk, count(*) AS n, min(n_name) AS mn_name, " +
      "CAST(max(n_nationkey) AS BIGINT) AS mx_key FROM nation " +
      "GROUP BY n_regionkey ORDER BY rk",
      (s, d) => {
      val e = g(s, d)
      val url = "jdbc:derby:memory:graftq137;create=true"
      val rows = e.catalog.relation("nation")
        .select(org.apache.spark.sql.functions.col("n_nationkey").cast("long"),
          org.apache.spark.sql.functions.col("n_name"),
          org.apache.spark.sql.functions.col("n_regionkey").cast("long"))
        .collect() // nation: 25 rows at every sf — bounded by schema, not data
      val conn = java.sql.DriverManager.getConnection(url)
      try {
        val st = conn.createStatement()
        // idempotent re-run (Bench passes share the JVM-wide memory db);
        // Derby has no DROP TABLE IF EXISTS
        try st.execute("DROP TABLE nation_jdbc") catch { case _: java.sql.SQLException => }
        st.execute("CREATE TABLE nation_jdbc (n_nationkey BIGINT, " +
          "n_name VARCHAR(64), n_regionkey BIGINT)")
        st.close()
        val ps = conn.prepareStatement("INSERT INTO nation_jdbc VALUES (?, ?, ?)")
        rows.foreach { r =>
          ps.setLong(1, r.getLong(0)); ps.setString(2, r.getString(1))
          ps.setLong(3, r.getLong(2)); ps.addBatch()
        }
        ps.executeBatch(); ps.close()
      } finally conn.close()
      e.registerJdbc("nation_jdbc", url, "nation_jdbc",
        introspectConstraints = true)
      e.sql("select n_regionkey as rk, count(*) as n, min(n_name) as mn_name, " +
        "max(n_nationkey) as mx_key from nation_jdbc group by n_regionkey " +
        "order by rk")
    }),
    // ---- O7 driver gate (r13): a composed script — DDL, parameterized
    // INSERT-SELECT, final aggregate — whose LAST statement's result is
    // oracle-checkable as plain SQL over lineitem ----
    Gate("q138_sql_script", Dialect,
      // q138: the script's final SELECT folded into one statement (sum of
      // integer-valued doubles is binary-exact, so ROUND is order-stable)
      "SELECT l_orderkey AS k, ROUND(SUM(l_quantity), 2) AS sq, " +
      "count(*) AS n FROM lineitem WHERE l_quantity > 45.0 " +
      "GROUP BY l_orderkey ORDER BY k",
      (s, d) => g(s, d).sqlScript(
      """create stream q138_sel (k long, qty double);
        |insert into q138_sel (k, qty) select l_orderkey, l_quantity from lineitem where l_quantity > ?;
        |select k, round(sum(qty), 2) as sq, count(*) as n from q138_sel group by k order by k""".stripMargin,
      45.0)),
    // ---- A7 driver gate (r13): an aggregate registered through the
    // extension hook participates in GROUP BY through the dialect; the
    // oracle recomputes the same formula with builtins ----
    Gate("q139_agg_hook", Dialect,
      // q139: the hook-registered aggregate recomputed with builtins
      "SELECT l_returnflag AS f, ROUND(SUM(l_quantity * l_quantity), 2) AS ssq, " +
      "count(*) AS n FROM lineitem GROUP BY l_returnflag ORDER BY f",
      (s, d) => {
      graft.functions.Registry.registerAggregate("q139_sum_sq")(args =>
        org.apache.spark.sql.functions.sum(args.head * args.head))
      g(s, d).sql("select l_returnflag as f, round(q139_sum_sq(l_quantity), 2) as ssq, " +
        "count(*) as n from lineitem group by l_returnflag order by f")
    }),
    // ---- datetime constructors: field-wise date/timestamp assembly ----
    Gate("q99_datetime_ctor", Dialect, "SELECT o_orderkey AS k, " +
      "make_date(2024, CAST(o_orderkey % 12 + 1 AS INT), 15) AS d, " +
      "make_timestamp(2024, 3, CAST(o_orderkey % 28 + 1 AS INT), 10, 30, 0) AS t, " +
      "CAST(make_date(2023, 2, 28) + INTERVAL 1 DAY AS DATE) AS mar1 " +
      "FROM orders WHERE o_orderkey < 50 ORDER BY k",
      (s, d) => g(s, d).sql("select o_orderkey as k, " +
      "make_date(2024, cast(o_orderkey % 12 + 1 as int), 15) as d, " +
      "make_timestamp(2024, 3, cast(o_orderkey % 28 + 1 as int), 10, 30, 0) as t, " +
      "make_date(2023, 2, 28) + interval 1 day as mar1 " +
      "from orders where o_orderkey < 50 order by k")),
    // ---- DuckDB-style end-inclusive list slicing (open ends included) ----
    Gate("q98_slice", Dialect, "SELECT p_partkey AS k, " +
      "array_to_string(string_split(p_name, ' ')[2:3], ',') AS mid, " +
      "array_to_string(string_split(p_name, ' ')[2:], ',') AS tl, " +
      "array_to_string(string_split(p_name, ' ')[:2], ',') AS hd, " +
      "array_to_string(list_transform([10, 20, 30, 40][2:3], v -> CAST(v AS VARCHAR)), ',') AS lits " +
      "FROM part WHERE p_partkey < 30 ORDER BY k",
      (s, d) => g(s, d).sql("select p_partkey as k, " +
      "array_join(split(p_name, ' ')[2:3], ',') as mid, " +
      "array_join(split(p_name, ' ')[2:], ',') as tl, " +
      "array_join(split(p_name, ' ')[:2], ',') as hd, " +
      "array_join(transform([10, 20, 30, 40][2:3], v -> cast(v as string)), ',') as lits " +
      "from part where p_partkey < 30 order by k")),
    // ---- time-based RANGE frames: INTERVAL bounds over a timestamp key ----
    Gate("q96_range_interval", Dialect, "SELECT event_id AS k, " +
      "count(*) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) " +
      "RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS cnt, " +
      "ROUND(sum(value) OVER (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP) " +
      "RANGE BETWEEN INTERVAL 30 MINUTE PRECEDING AND CURRENT ROW), 3) AS sv " +
      "FROM events WHERE event_id < 2000 ORDER BY k",
      (s, d) => g(s, d).sql("select event_id as k, " +
      "count(*) over (partition by user_id order by ts " +
      "range between interval 1 hour preceding and current row) as cnt, " +
      "round(sum(value) over (partition by user_id order by ts " +
      "range between interval 30 minute preceding and current row), 3) as sv " +
      "from events where event_id < 2000 order by k"))
  )
}
