package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, IntegerType}

/** Intersection SIZE of two ASC-sorted bigint arrays — the PPJoin+
  * verify step's inner loop (SURVEY.md §4.2: custom Expression only
  * where profiling shows the hotspot; guide §4).
  *
  * `size(array_intersect(a, b))` builds a per-row hash set over one
  * side and allocates the intersection array just to take its length —
  * measured at ~7 µs/pair over the d5_jaccard_prefix candidates. On
  * inputs sorted ascending with nulls LAST (exactly `array_sort`'s
  * order) the same count is a linear merge with zero allocation.
  *
  * Semantics match `size(array_intersect(a, b))` exactly on such
  * inputs: the count of DISTINCT values present in both arrays, null
  * counting as one matchable value (array_intersect keeps a single
  * null when both sides contain one), and NULL out on NULL input.
  * Sortedness is the caller's precondition (the verify step sorts each
  * doc's shingle set once, not once per pair) — parity-spec'd against
  * the retired spelling over the real candidate pairs.
  */
object ArrayKernels {
  /** The linear merge count over two ASC-sorted, nulls-LAST arrays. */
  def intersectCountSorted(x: ArrayData, y: ArrayData): Int = {
    val na = x.numElements(); val nb = y.numElements()
    var i = 0; var j = 0; var c = 0
    var done = false
    while (!done && i < na && j < nb) {
      if (x.isNullAt(i)) {
        if (y.isNullAt(j)) { c += 1; done = true } // null tails: one match
        else j += 1 // non-null sorts before the null tail
      } else if (y.isNullAt(j)) {
        i += 1
      } else {
        val av = x.getLong(i); val bv = y.getLong(j)
        if (av == bv) {
          c += 1
          while (i < na && !x.isNullAt(i) && x.getLong(i) == av) i += 1
          while (j < nb && !y.isNullAt(j) && y.getLong(j) == av) j += 1
        } else if (av < bv) i += 1
        else j += 1
      }
    }
    c
  }
}

/** Catalyst shell over [[ArrayKernels.intersectCountSorted]]. */
case class IntersectCountSortedI64(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    ExprTypes.check(this, Seq(ExprTypes.I64s), Seq(ExprTypes.I64s))
  override def dataType: DataType = IntegerType
  override def prettyName: String = "arr_isect_count_sorted_i64"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    ArrayKernels.intersectCountSorted(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.plans.ArrayKernels.intersectCountSorted($a, $b)")

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
