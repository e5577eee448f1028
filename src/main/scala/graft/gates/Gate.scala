package graft.gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One oracle gate: `run` builds its result through the engine on a
  * session and a table directory, and `oracle` is the DuckDB SQL that
  * recomputes the same rows over the same parquet tables. Column names
  * match the engine output exactly (the compare hashes by sorted column
  * name).
  *
  * Determinism conventions shared by both sides:
  *   - every query ORDER BYs a unique key (DuckDB default is NULLS LAST on
  *     ASC; Spark's is NULLS FIRST, so oracles say NULLS FIRST explicitly
  *     where nullable keys occur);
  *   - double aggregates are ROUND()ed so sum-order nondeterminism cannot
  *     flip the hash;
  *   - DuckDB integer SUMs are CAST(.. AS BIGINT) (DuckDB widens to
  *     HUGEINT, Spark to long);
  *   - stream-window starts are epoch-microsecond bucket arithmetic on both
  *     sides (identical floor semantics, see Translator.applyWindow).
  */
final case class Gate(name: String, family: Family, oracle: String,
                      run: (SparkSession, String) => DataFrame)

/** The list a gate is declared in. */
sealed trait Family
object Family {
  /** Batch SQL through `GraftSession.sql` ([[DialectGates]]). */
  case object Dialect extends Family
  /** Batch runs of the `graft.operators` kernels ([[OperatorGates]]). */
  case object Operator extends Family
  /** Gates that start a streaming query ([[StreamGates]]). */
  case object Stream extends Family
}

object Gates {
  val all: Seq[Gate] = DialectGates.all ++ OperatorGates.all ++ StreamGates.all
}
