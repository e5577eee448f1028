package graft
// Sample user code through the library's public surface (GraftSession).
object VerifyDrive {
  def main(a: Array[String]): Unit = {
    val spark = TestSpark.spark
    val g = GraftSession.forDir(spark, "/root/testdata/sf0.001")
    def show(tag: String, sql: String, args: Any*): Unit = {
      println(s"=== $tag: $sql")
      try g.sql(sql, args: _*).show(5, false)
      catch { case e: Exception => println(s"  ERROR(${e.getClass.getSimpleName}): ${e.getMessage}") }
    }
    show("agg", "select l_returnflag as f, sum(l_quantity) as q from lineitem group by l_returnflag order by f")
    show("join+window", "select w_start, event_type, count(*) as n from events [size 1 d on ts partitioned on event_type] group by event_type order by n desc limit 3")
    show("params", "select o_orderkey from orders where o_totalprice > ? order by o_orderkey limit ?", 400000, 3L)
    // probes: things a user types wrong
    show("probe: parse error", "select from where")
    show("probe: unknown table", "select * from nosuchtable")
    show("probe: unknown column", "select nope from lineitem")
    show("probe: update with ORDER BY rejected", "update lineitem set l_quantity = 0 order by l_orderkey limit 1")
    show("probe: missing param", "select * from orders where o_orderkey = ?")
    show("probe: extra param", "select count(*) as n from orders", 42)
    show("probe: ambiguous column", "select n_nationkey from nation a join nation b on a.n_nationkey = b.n_nationkey")
    // JDBC + windowed-insert surface (S8/S9, W7)
    try {
      val url = "jdbc:derby:memory:drive_db;create=true"
      val c = java.sql.DriverManager.getConnection(url)
      val st = c.createStatement()
      st.execute("CREATE TABLE t1 (id BIGINT, v DOUBLE)")
      st.execute("INSERT INTO t1 VALUES (1, 1.5), (2, 2.5)")
      st.close(); c.close()
      g.registerJdbc("t1", url, "t1")
      show("jdbc table via dialect", "select id, v from t1 where v > 2 order by id")
    } catch { case e: Exception => println("JDBC drive failed: " + e) }
    show("windowed insert", "create stream wsink (w_start timestamp, w_end timestamp, ts timestamp, v double)")
    show("windowed insert 2", "insert into wsink [size 1 h on ts] select ts, value as v from events where event_id < 3")
    show("windowed insert 3", "select * from wsink")
    println("=== sqlScript: ")
    g.sqlScript("create stream drv_s (a long); insert into drv_s (a) values (1), (2); select count(*) as n from drv_s").show()
    println("=== bucketed join plan (expect no Exchange on join keys):")
    g.writeBucketed("region", "region_b", Seq("r_regionkey"), 4)
    g.writeBucketed("nation", "nation_b", Seq("n_regionkey"), 4)
    val bj = g.sql("select count(*) as n from nation_b n join region_b r on n.n_regionkey = r.r_regionkey")
    println(bj.queryExecution.executedPlan.toString.linesIterator.filter(l => l.contains("Exchange") || l.contains("SortMergeJoin") || l.contains("Scan")).take(6).mkString("\n"))
    bj.show()
    show("vec functions in dialect", "select vec_id as k, round(vec_cosine(embedding, embedding), 4) as c from embeddings order by k limit 2")
    // round-2 surface: VALUES, unnest, frames, intervals, sample
    show("values relation", "select t.a as a, t.b as b from (values (1, 'x'), (2, 'y')) as t(a, b) order by a")
    show("unnest", "select doc_id, unnest(split(text, ' ')) as tok from documents order by doc_id limit 4")
    show("window frame", "select o_orderkey as k, sum(o_totalprice) over (order by o_orderkey rows between 1 preceding and current row) as r from orders order by k limit 3")
    show("interval arithmetic", "select ts + interval 1 day as d from events order by d limit 2")
    show("sample", "select count(*) as n from lineitem sample (50 percent) seed 7")
    show("group by all", "select l_returnflag as f, count(*) as n from lineitem group by all order by all")
    show("describe query", "describe (select l_orderkey + 1 as k, upper(l_returnflag) as f from lineitem where l_quantity > ?)", 10)
    show("filter + extract", "select count(*) filter (where l_quantity > 45) as nq, extract(year from l_shipdate) as y from lineitem group by all order by y limit 3")
    show("probe: VALUES arity", "select * from (values (1, 2), (3)) as t(a, b)")
    show("probe: FILTER on first()", "select first(l_quantity) filter (where l_orderkey > 0) as f from lineitem")
    show("probe: frame without ORDER BY", "select sum(o_totalprice) over (partition by o_custkey rows between 1 preceding and current row) as r from orders")
    println("=== pretty-print round-trip: " + {
      val q = "select w_start, count(*) as n from events [session 30 min on ts partitioned on event_type] group by w_start"
      val ast = graft.parser.SqlParser.parse(q).toOption.get
      val printed = graft.ast.Pretty.print(ast)
      s"${graft.parser.SqlParser.parse(printed).toOption.get == ast} -> $printed"
    })
    show("avg distinct", "select avg(distinct l_linenumber) as a, avg(l_linenumber) as b from lineitem")
    show("same-name IN subquery", "select count(*) as n from nation where n_regionkey in (select n_regionkey from nation where n_name like 'NATION_1%')")
    show("backquoted idents", "select `l_orderkey` as k, l.`l_quantity` from lineitem as l order by k limit 2")
    show("explain", "explain select count(*) as n from lineitem where l_quantity > 40")
    println("=== expr DSL: " + g.expr("l_quantity.sum as total"))
    println("=== schemaOf: " + g.schemaOf("select l_orderkey as k, l_quantity/2 as h from lineitem"))
    // round-2 surfaces
    show("cte", "with big as (select o_custkey as ck, count(*) as n from orders group by o_custkey) " +
      "select ck, n from big where n >= 5 order by ck limit 3")
    show("qualify", "select o_custkey as ck, o_orderkey as k from orders where o_custkey < 5 " +
      "qualify row_number() over (partition by o_custkey order by o_totalprice desc) = 1 order by ck")
    show("grouping sets", "select l_returnflag as f, l_linestatus as s, count(*) as n from lineitem " +
      "group by grouping sets ((l_returnflag), (l_linestatus)) order by f nulls first, s nulls first limit 4")
    show("cast + sugar", "select cast(o_totalprice as long) as t, o_orderstatus || '!' as st, " +
      "case o_orderstatus when 'F' then 1 else 0 end as fo from orders order by o_orderkey limit 2")
    println("=== merge lifecycle:")
    g.sqlScript(
      """create stream drv_m (k long, v double);
        |insert into drv_m values (1, 10.0), (2, 20.0);
        |merge into drv_m as t using (select o_orderkey as k, o_totalprice as p from orders where o_orderkey < 4) as s
        |  on t.k = s.k
        |  when matched then update set v = s.p
        |  when not matched then insert (k, v) values (s.k, s.p)""".stripMargin)
    g.sql("select k, round(v, 2) as v from drv_m order by k").show()
    show("show tables", "show tables")
    show("describe", "describe drv_m")
    show("drop", "drop stream drv_m")
    show("probe: describe after drop", "describe drv_m")
    show("probe: merge cardinality", {
      g.sqlScript("create stream drv_t2 (k long, v long); insert into drv_t2 values (1, 0); " +
        "create stream drv_d (k long); insert into drv_d values (1), (1)")
      "merge into drv_t2 as t using drv_d as s on t.k = s.k when matched then update set v = 9"
    })
    // round-3 surfaces
    show("distinct on", "select distinct on (n_regionkey) n_regionkey as k, n_name from nation order by n_regionkey, n_name")
    show("star modifiers", "select * exclude (n_nationkey) replace (lower(n_name) as n_name) from nation order by n_name limit 2")
    show("semi/anti join", "select 'semi' as j, count(*) as n from nation semi join region on n_regionkey = r_regionkey " +
      "union all select 'anti' as j, count(*) as n from nation anti join region on n_regionkey = r_regionkey order by j")
    show("natural join", "select count(*) as n from nation natural join (select r_regionkey as n_regionkey, r_name from region) as r")
    show("try_cast", "select try_cast('x' as int) as bad, try_cast('7' as int) as good")
    show("ignore nulls", "select n_nationkey as k, last_value(case when n_nationkey % 3 = 0 then n_nationkey end) ignore nulls " +
      "over (order by n_nationkey) as locf from nation order by k limit 4")
    show("within group", "select string_agg(r_name, '|') within group (order by r_name) as names, " +
      "percentile_cont(0.5) within group (order by r_regionkey) as med from region")
    show("grouping()", "select coalesce(n_name, 'ALL') as n2, cast(grouping(n_name) as int) as gf, count(*) as c " +
      "from nation where n_regionkey = 0 group by n_name with rollup order by gf, n2 limit 3")
    show("array breadth", "select [1, 2, 3][2] as second, array_contains(split('a-b', '-'), 'b') as hasb")
    show("probe: distinct on + group by", "select distinct on (n_name) n_name, count(*) as n from nation group by n_name")
    show("probe: ignore nulls without over", "select last_value(n_name) ignore nulls from nation")
    show("lateral top-1 per group", "select n.n_name, t.ck, t.bal from nation n " +
      "join lateral (select c_custkey as ck, c_acctbal as bal from customer c " +
      "where c.c_nationkey = n.n_nationkey order by c_acctbal desc, c_custkey limit 1) as t on true " +
      "order by n.n_name limit 4")
    show("left join lateral", "select n.n_nationkey as k, t.ck from nation n " +
      "left join lateral (select c_custkey as ck from customer c " +
      "where c.c_nationkey = n.n_nationkey and c.c_acctbal > 99999999 limit 1) as t order by k limit 3")
    show("exists in projection", "select n_nationkey as k, exists (select 1 from customer c " +
      "where c.c_nationkey = n.n_nationkey and c.c_acctbal > 9000) as rich from nation n order by k limit 4")
    show("non-equality corr scalar", "select r_regionkey as k, (select min(n_name) from nation n " +
      "where n.n_regionkey >= r.r_regionkey) as nm from region r order by k limit 3")
    show("table functions", "select range as k, range * range as sq from range(1, 5) order by k")
    show("named window clause", "select n_nationkey as k, cast(rank() over w as long) as r2 from nation " +
      "window w as (partition by n_regionkey order by n_name) order by k limit 4")
    show("lambdas", "select transform([1, 2, 3], x -> x * n_regionkey) as scaled " +
      "from nation where n_nationkey = 5")
    show("columns regex", "select min(columns('^n_(nationkey|regionkey)$')) from nation")
    show("map breadth", "select map('a', 1, 'b', 2)['b'] as v, size(map('a', 1)) as n")
    show("ordered agg", "select string_agg(r_name, '|' ) within group (order by r_name desc) as s2 from region")
    show("probe: lambda outside HOF", "select upper(x -> x) as bad from nation")
    show("probe: columns no match", "select columns('^zz') from nation")
    // round-4 surface
    show("except all", "select n_regionkey as k from nation except all select r_regionkey as k from region order by k limit 4")
    show("ansi offset/fetch", "select n_nationkey as k from nation order by k offset 20 rows fetch first 3 rows only")
    show("ilike + escape", "select 'ABC' ilike 'ab%' as ci, '10%' like '10!%' escape '!' as esc")
    show("json extraction", "select json_extract('{\"a\":{\"b\":7}}', '$.a.b') as b")
    show("arg stats", "select arg_min(n_name, n_nationkey) as first_n, round(median(n_nationkey), 1) as med from nation")
    show("ansi trim/position/substring", "select trim(both 'n' from n_name) as t, " +
      "position('_' in n_name) as p, substring(n_name from 1 for 6) as s from nation order by n_nationkey limit 2")
    show(":: cast chain", "select n_nationkey::string as s, ('4'||'2')::int + 0 as n from nation order by n_nationkey limit 1")
    show("window in order by", "select n_name from nation window w as (order by n_name) order by row_number() over w desc limit 1")
    show("union by name", "select n_nationkey as k from nation where n_nationkey < 2 union all by name select r_name as nm, r_regionkey as k from region where r_regionkey = 0 order by k, nm")
    show("range interval frame", "select event_id as k, count(*) over (partition by user_id order by ts range between interval 1 hour preceding and current row) as c from events order by k limit 3")
    show("probe: bad escape", "select 'x' like 'y' escape '!!'")
    // round-6 surface: WITH TIES on non-projected keys, cardinality API
    show("with ties on hidden key", "select o_orderkey as k from orders " +
      "order by o_totalprice desc fetch first 3 rows with ties")
    show("probe: limit past Int.MaxValue", "select n_name from nation limit 987654321987")
    // round 9: explain analyze (executed metrics) + catalog persistence
    println("=== explain analyze: " + {
      val p = g.sql("explain analyze select count(*) as n from nation").head().getString(0)
      s"has-metrics=${p.contains("numOutputRows=")} lines=${p.linesIterator.size}"
    })
    println("=== catalog sidecar: " + {
      val sc = java.nio.file.Files.createTempDirectory("vd_cat_").resolve("cat.json")
      val g1 = new GraftSession(spark).registerDir(TestSpark.sf).persistTo(sc.toString)
      g1.sql("create table vd_small as select n_nationkey as k from nation where n_nationkey < 5")
      val g2 = new GraftSession(spark).registerDir(TestSpark.sf).persistTo(sc.toString)
      val n = g2.sql("select cast(count(*) as bigint) as n from vd_small").head().getLong(0)
      java.nio.file.Files.deleteIfExists(sc); java.nio.file.Files.deleteIfExists(sc.getParent)
      s"replayed-ctas-count=$n"
    })
    // round 12: audio + PII surfaces
    println("=== pii_redact: " + {
      val r = g.sql("select cast(sum(n_emails) + sum(n_ipv4) + " +
        "sum(n_digit_runs) as bigint) as n from pii_redact(documents)").head()
      s"clean-corpus-hits=${r.getLong(0)}"
    })
    println("=== audio surfaces: " + {
      import spark.implicits._
      val media = (0L until 9L).map { id =>
        (id, graft.operators.Multimodal.synthToneWavBytes(id - id % 3,
          1 << (id % 3).toInt), "audio/wav")
      }.toDF("media_id", "payload", "mime")
      g.catalog.registerTable("vd_media", media)
      val fp = g.sql("select count(distinct afp) as nfp, min(cast(ok as int)) " +
        "as ok from audio_fingerprint(vd_media)").head()
      val st = g.sql("select min(cast(ok as int)) as ok, min(n_samples) as n " +
        "from audio_stats(vd_media)").head()
      s"families=${fp.getLong(0)} fp-ok=${fp.getInt(1)} stats-ok=${st.getInt(0)} n>=650=${st.getLong(1) >= 650}"
    })
    // round 12: URL curation + int8 quantization surfaces
    println("=== url surfaces: " + {
      val urls = graft.operators.UrlCuration.synthUrls(
        g.catalog.relation("documents"))
      g.catalog.registerTable("vd_urls", urls)
      val n = g.sql("select count(*) as n, count(distinct domain) as nd " +
        "from url_normalize(vd_urls)").head()
      val dd = g.sql("select count(*) as n from url_dedup(vd_urls)").head()
      val ds = g.sql("select max(n_docs) as mx from domain_stats(vd_urls)").head()
      s"rows=${n.getLong(0)} domains=${n.getLong(1)} deduped=${dd.getLong(0)} " +
        s"max-domain-docs=${ds.getLong(0)}"
    })
    println("=== script_stats: " + {
      val r = g.sql("select count(distinct script) as ns, " +
        "min(cast(ok_encoding as int)) as ok from script_stats(documents)").head()
      s"scripts=${r.getLong(0)} clean-corpus-ok=${r.getInt(1)}"
    })
    println("=== cluster_sample: " + {
      val r = g.sql("select count(*) as n, count(distinct cluster) as nc " +
        "from cluster_sample(embeddings, 20)").head()
      s"kept=${r.getLong(0)} clusters=${r.getLong(1)}"
    })
    println("=== domain_split: " + {
      val r = g.sql("select count(distinct split) as ns, count(*) as n " +
        "from domain_split(vd_urls, 25)").head()
      s"splits=${r.getLong(0)} rows=${r.getLong(1)}"
    })
    println("=== url scalars: " + {
      val r = g.sql("select count(distinct url_domain(url)) as nd from vd_urls " +
        "where url_host(url) <> '' and url_canonical(url) like 'http%'").head()
      s"domains-via-scalar=${r.getLong(0)}"
    })
    println("=== bpe round trip: " + {
      g.catalog.registerTable("vd_enc",
        graft.operators.Subwords.encode(
          g.catalog.relation("documents"), "text", "doc_id", graft.operators.Subwords.Bpe(Seq(("e", "r")))))
      val r = g.sql("select count(*) as n, min(length(text_detok)) as mn " +
        "from bpe_decode(vd_enc)").head()
      s"docs=${r.getLong(0)} min-len=${r.getInt(1)}"
    })
    println("=== int8 surfaces: " + {
      val r = g.sql("select min(cast(qscale > 0 as int)) as pos, " +
        "max(int8_dot(qvec, qvec)) as mxdot from int8_quantize(embeddings)").head()
      s"all-scales-pos=${r.getInt(0)} max-selfdot=${r.getLong(1)}"
    })
    println("=== substring_dedup levers: " + {
      // stride/buckets through the SQL surface: bucketed ≡ plain, stride
      // approximate-but-bounded; error path for stride > k
      val plain = g.sql("select sum(n_removed) as nr from substring_dedup(documents, 12)").head().getLong(0)
      val bucketed = g.sql("select sum(n_removed) as nr from substring_dedup(documents, 12, 1, 3)").head().getLong(0)
      val strided = g.sql("select sum(n_removed) as nr from substring_dedup(documents, 12, 4)").head().getLong(0)
      val err = try { g.sql("select * from substring_dedup(documents, 5, 9)"); "NO-ERROR" }
      catch { case e: Exception => if (e.getMessage.contains("stride must be <= k")) "stride>k rejected" else e.getMessage }
      s"plain=$plain bucketed-eq=${plain == bucketed} strided<=plain=${strided <= plain} [$err]"
    })
    println("=== linear model serve: " + {
      val dir = java.nio.file.Files.createTempDirectory("vd_lin_").toString
      spark.range(0, 256).selectExpr("id as bucket", "(id * 7) % 64 - 32 as weight")
        .coalesce(1).write.mode("overwrite").parquet(dir)
      g.sql(s"create model vdlin kind 'linear' at '$dir'")
      val r = g.sql("select count(*) as n, min(score) as mn, max(score) as mx " +
        "from quality_classifier(documents, 'vdlin') where n_toks > 0").head()
      val wrong = try { g.sql("select * from bpe_tokenize(documents, 'vdlin')"); "NO-ERROR" }
      catch { case e: Exception => if (e.getMessage.contains("expected 'bpe'")) "wrong-kind rejected" else e.getMessage }
      s"docs=${r.getLong(0)} score-range=[${r.getDouble(1)},${r.getDouble(2)}] [$wrong]"
    })
    println("=== unigram model-branch arity: " + {
      val dir = java.nio.file.Files.createTempDirectory("vd_uni_").toString
      import graft.operators.Subwords
      Subwords.Unigram(Subwords.unigramTrain(
        Subwords.vocab(g.catalog.relation("documents"), "text", "doc_id"), vocabSize = 64, iters = 1))
        .save(spark, s"$dir/v.tsv")
      g.sql(s"create model vduni kind 'unigram' at '$dir/v.tsv'")
      try { g.sql("select * from unigram_tokenize(documents, 'vduni', 5)"); "NO-ERROR" }
      catch { case e: Exception =>
        if (e.getMessage.contains("iters only applies")) "model+iters rejected" else e.getMessage }
    })
    println("=== curation model kinds: " + {
      // r15: the persisted curation artifacts served by name — DSIR
      // log-ratio table, hot-span set, benchmark shingles — plus the
      // eager wrong-kind error across the new kinds
      val base = java.nio.file.Files.createTempDirectory("vd_cur_")
      val docsT = g.catalog.relation("documents")
      graft.operators.Importance.trainDsirModel(docsT, "text", "doc_id",
        org.apache.spark.sql.functions.col("source") === "src0",
        buckets = 64, path = base.resolve("dsir.tsv").toString)
      graft.operators.Dedup.saveHotSpans(
        graft.operators.Dedup.hotSpans(docsT, "text", "doc_id", 8, 2L),
        base.resolve("spans").toString)
      graft.operators.Decontaminate.saveBenchShingles(
        graft.operators.Decontaminate.benchShingleHashes(
          docsT.where(org.apache.spark.sql.functions.col("doc_id") < 5),
          "text", "doc_id"),
        base.resolve("sh").toString)
      g.sql(s"create model vddsir kind 'dsir' at '${base.resolve("dsir.tsv")}'")
      g.sql(s"create model vdspan kind 'spans' at '${base.resolve("spans")}'")
      g.sql(s"create model vdsh kind 'shingles' at '${base.resolve("sh")}'")
      val ds = g.sql("select count(*) as n from dsir_apply(documents, 'vddsir') where score is not null").head().getLong(0)
      val sp = g.sql("select count(*) as n from span_excise(documents, 'vdspan')").head().getLong(0)
      val dc = g.sql("select count(*) as n from decontaminate_apply(documents, 'vdsh')").head().getLong(0)
      val wrong = try { g.sql("select * from dsir_apply(documents, 'vdspan')"); "NO-ERROR" }
      catch { case e: Exception =>
        if (e.getMessage.contains("expected 'dsir'")) "wrong-kind rejected" else e.getMessage }
      s"dsir-docs=$ds span-docs=$sp decontam-docs=$dc [$wrong]"
    })
    try {
      val url = "jdbc:derby:memory:drive_card;create=true"
      val c = java.sql.DriverManager.getConnection(url)
      val st = c.createStatement()
      st.execute("CREATE TABLE kv (k BIGINT PRIMARY KEY, v VARCHAR(16))")
      st.execute("INSERT INTO kv VALUES (1, 'one'), (2, 'two')")
      st.close(); c.close()
      g.registerJdbc("kv", url, "kv", introspectConstraints = true)
      import spark.implicits._
      println("=== cardinality: pk eq=" + g.cardinalityOf("select v from kv where k = 1") +
        " scan=" + g.cardinalityOf("select v from kv") +
        " agg=" + g.cardinalityOf("select count(*) as n from kv"))
      println("    one() = " + g.one[String]("select v from kv where k = ?", 2L))
      println("    optional(miss) = " + g.optional[String]("select v from kv where k = 9"))
      try g.one[String]("select v from kv")
      catch { case e: Exception => println(s"    ERROR(${e.getClass.getSimpleName}): ${e.getMessage}") }
    } catch { case e: Exception => println(s"  ERROR(card): ${e.getMessage}") }
  }
}
