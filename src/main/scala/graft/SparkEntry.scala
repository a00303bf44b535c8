package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries.Q

/** The engine's entry contract — see SURVEY.md §7.
  *
  * Every implemented SURVEY §2 operator is registered as a named query in
  * [[queries]]; hash-checkable ones carry DuckDB oracle SQL in
  * [[oracleSql]].
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001: the reference's signature
    * "latest version of every key" (`get_lastest_version`, DMS.py:385-392)
    * generalized to one ranking window. Driver smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("w1_latest_per_key")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Q.registry.map(q => q.name -> q.fn).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    Q.registry.flatMap(q => q.oracle.map(sql => q.name -> sql)).toMap
}
