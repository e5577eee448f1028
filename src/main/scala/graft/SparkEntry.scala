package graft
import org.apache.spark.sql.{SparkSession, DataFrame}

/** Driver contract — see SURVEY.md §7.
  *
  * `entry` is the flagship smoke query. `queries` and `oracleSql` are
  * derived from the one list of [[graft.gates.Gate]] records
  * ([[graft.gates.Gates.all]]): per gate name, the run, which routes
  * through `GraftSession.sql` or the `graft.operators` kernel its name
  * refers to, and the DuckDB SQL that recomputes its result over the same
  * parquet tables. Every gate has an oracle, so the two maps have the
  * same keys.
  */
object SparkEntry {

  private def g(spark: SparkSession, dir: String): GraftSession =
    GraftSession.forDir(spark, dir)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    g(spark, "/root/testdata/sf0.001").sql(
      """select l_returnflag as f, l_linestatus as s, count(*) as n,
        |round(sum(l_extendedprice), 2) as revenue
        |from lineitem group by l_returnflag, l_linestatus order by f, s""".stripMargin)

  /** Gate name -> run on (session, table directory). */
  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    gates.Gates.all.map(g => g.name -> g.run).toMap

  /** Gate name -> DuckDB SQL over the same parquet tables. */
  lazy val oracleSql: Map[String, String] =
    gates.Gates.all.map(g => g.name -> g.oracle).toMap
}
