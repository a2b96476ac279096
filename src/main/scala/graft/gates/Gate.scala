package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gate of the driver contract (SURVEY §7): the Spark query `run` on
  * an sf directory's parquet tables, declared beside the DuckDB
  * `oracleSql` that checks it on the same tables. Column names and row
  * order are pinned identically on both sides.
  *
  * `oracleSql` is read each time it is asked for. An oracle built from
  * what its own query fitted ([[Gate.captured]]) is absent until that
  * query has run in the same JVM; Verify writes oracle_sql.json after the
  * queries, so it reads them then.
  *
  * Oracle-exactness notes:
  *  - `events.ts` carries microsecond fractions; the engine's append path
  *    floors to the stream's highest granularity (seconds), so every
  *    stream-shaped query floors ts on BOTH sides
  *    (`floor(epoch(ts))` in DuckDB = `unix_timestamp` in Spark).
  *  - DuckDB `sum(BIGINT)` is HUGEINT and `len(...)` is BIGINT — both sides
  *    are cast so output schemas agree.
  *  - std_dev uses the reference's naive `sqrt(q/c − m²)` formula in both
  *    engines (never Spark's Welford `stddev_pop`).
  */
final class Gate private (val name: String,
    val run: (SparkSession, String) => DataFrame,
    oracle: => Option[String]) {
  def oracleSql: Option[String] = oracle
}

object Gate {
  def apply(name: String, run: (SparkSession, String) => DataFrame,
      oracleSql: String): Gate = new Gate(name, run, Some(oracleSql))

  /** A gate whose oracle SQL carries literals its own query captured
    * (a fitted model, a learned merge table): `None` until it has run. */
  def captured(name: String, run: (SparkSession, String) => DataFrame,
      oracleSql: => Option[String]): Gate = new Gate(name, run, oracleSql)
}
