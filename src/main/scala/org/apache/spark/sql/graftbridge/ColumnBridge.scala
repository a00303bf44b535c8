package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Column <-> Expression bridge. ExpressionUtils is private[sql], so this
  * one-file shim lives under the org.apache.spark.sql namespace — the
  * conventional hook for libraries that ship native Catalyst expressions.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Execute a LOGICAL-PLAN FRAGMENT as a DataFrame (classic
    * Dataset.ofRows is private[sql]). Used by the ScaleShapeSpec fence
    * to run its reduction-ratio probe on an Aggregate node lifted out
    * of a query's optimized plan — measurement, not a name list — and
    * by the test suites to hand each consumer of the once-built query
    * registry a fresh Dataset over the shared plan. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
