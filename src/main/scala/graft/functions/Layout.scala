package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Data-layout keys — the write-side half of 100 TB read performance.
  *
  * A single-column sort gives parquet files tight min/max on ONE
  * dimension; queries filtering the other dimension skip nothing. The
  * Morton (Z-order) key interleaves the bits of two dimensions so one
  * sort key clusters BOTH: range-partitioned files get bounded min/max
  * on each dimension simultaneously, and two-dimensional predicates
  * (user AND time window) prune files instead of scanning the corpus.
  *
  * Everything here is plain integer expressions (shift/and/or) — whole-
  * stage codegen'd, reproducible digit-for-digit in any engine.
  */
object Layout {

  /** Morton/Z-order key: interleaves the low `bits` bits of two
    * non-negative long columns — `a` on even bit positions, `b` on odd.
    * Total key width = 2*bits (<= 62 so the sum stays a positive long).
    */
  def zValue(a: Column, b: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, "bits must be in [1, 31]")
    (0 until bits).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)
  }

  /** Recover dimension `a` (even bit positions) from a z-key. */
  def unzA(z: Column, bits: Int = 16): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(z, 2 * i).bitwiseAND(lit(1L)), i)
    }.reduce(_ + _)

  /** Recover dimension `b` (odd bit positions) from a z-key. */
  def unzB(z: Column, bits: Int = 16): Column =
    (0 until bits).map { i =>
      shiftleft(shiftright(z, 2 * i + 1).bitwiseAND(lit(1L)), i)
    }.reduce(_ + _)

  /** The matching DuckDB SQL fragment for [[zValue]] — kept next to the
    * expression so oracle queries can't drift from the engine. */
  def zValueSql(a: String, b: String, bits: Int = 16): String =
    (0 until bits).map { i =>
      s"((($a >> $i) & 1) << ${2 * i}) + ((($b >> $i) & 1) << ${2 * i + 1})"
    }.mkString(" + ")
}
