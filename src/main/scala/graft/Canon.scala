package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Canonicalization discipline for oracle-checked queries (SURVEY.md §2):
  * every hash-mode result is fully ordered, every double rounded to 4
  * decimals, every timestamp rendered as a UTC string. The DuckDB oracle
  * SQL applies the identical discipline, so both engines hash the same
  * bytes.
  */
object Canon {

  /** Round a double column to 4 decimals (HALF_UP, matching DuckDB). */
  def r4(c: Column): Column = round(c, 4)

  /** Exact decimal view of a 2-decimal money column: makes SUM order-
    * independent and bit-identical across engines (double summation is
    * neither).
    */
  def money(c: Column): Column = c.cast("decimal(18,4)")

  /** Render a timestamp as `yyyy-MM-dd HH:mm:ss` (UTC session) — sidesteps
    * any parquet physical-type mismatch between engines in the compare.
    */
  def tstr(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss")

  /** Microsecond-precision rendering (event ts granularity). */
  def tus(c: Column): Column = date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")

  /** Total order over every output column, left to right, NULLS FIRST —
    * mirrored by `ORDER BY ALL NULLS FIRST` on the DuckDB side.
    */
  def ordered(df: DataFrame): DataFrame =
    df.orderBy(df.columns.map(c => col(c).asc_nulls_first).toIndexedSeq: _*)
}
