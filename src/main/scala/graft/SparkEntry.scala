package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.Queries

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * The query catalog lives in [[graft.queries.Queries]]; this object is
  * the stable facade the driver harness invokes.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * fact-through-broadcast-dims join + aggregation (SURVEY §2.3/§2.4).
    */
  def entry(spark: SparkSession): DataFrame =
    Queries.q03RegionRevenue(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Queries.all

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted (rows-only check) for q42, q51 and
    * q84, whose output depends on a fitted quantizer or corpus-sized
    * LSH bits that a static SQL oracle can't replay.
    */
  def oracleSql: Map[String, String] = Queries.oracles
}
