package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}

/** Native Catalyst expressions for the vector hot path — SURVEY.md
  * §4.2 ("custom Expression only if profiling shows UDF hotspots").
  *
  * The higher-order-function formulation (`aggregate(zip_with(a, b, *))`)
  * is semantically identical but interpreted: per element it allocates
  * lambda variables and boxes doubles. Each expression here is a thin
  * shell around one static kernel in [[VectorKernels]], which generated
  * code calls directly, keeping ANN rerank inside whole-stage codegen.
  * Accumulation is the SAME strict left fold in double, so results are
  * bit-identical with the HOF version (and the DuckDB oracle).
  */
object VectorKernels {

  /** dot(x, y) of two float vectors in double; NaN on a NULL pair. */
  def dotF32(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    if (n != y.numElements()) return Double.NaN
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return Double.NaN
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  /** cosine(x, y) in ONE pass (three accumulators, each folding in the
    * separate-fold order); 0.0 when either norm is zero; NaN on a NULL
    * pair. */
  def cosineF32(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    if (n != y.numElements()) return Double.NaN
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return Double.NaN
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      d += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    val nna = math.sqrt(na); val nnb = math.sqrt(nb)
    if (nna == 0.0 || nnb == 0.0) 0.0 else d / (nna * nnb)
  }

  /** Squared L2 distance of two float vectors in double: per element
    * the diff is computed once in double and squared; NaN on a NULL
    * pair. */
  def l2sqF32(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    if (n != y.numElements()) return Double.NaN
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return Double.NaN
      val d = x.getFloat(i).toDouble - y.getFloat(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  /** dot(x, y) of a float vector with a double vector in double (the
    * float widens exactly); NaN on a NULL pair. */
  def dotF32D64(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    if (n != y.numElements()) return Double.NaN
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return Double.NaN
      acc += x.getFloat(i).toDouble * y.getDouble(i)
      i += 1
    }
    acc
  }

  /** Exact dot of two bigint vectors with Java long wrap (Spark's
    * bigint arithmetic); Long.MinValue on a NULL pair. */
  def dotI64(x: ArrayData, y: ArrayData): Long = {
    val n = x.numElements()
    if (n != y.numElements()) return Long.MinValue
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return Long.MinValue
      acc += x.getLong(i) * y.getLong(i)
      i += 1
    }
    acc
  }

  /** True when the HOF maps the pair to NULL: the lengths differ
    * (zip_with pads the shorter side with null) or an element is null.
    * The kernels return a sentinel for such pairs, so only a sentinel
    * result, which a genuine NaN or wrapped sum can also produce, pays
    * this second scan. */
  def nullPair(x: ArrayData, y: ArrayData): Boolean = {
    val n = x.numElements()
    if (n != y.numElements()) return true
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return true
      i += 1
    }
    false
  }
}

/** Shell of a vector pair kernel returning double. Both paths
  * call the [[VectorKernels]] method named `kernel` (eval through
  * `compute`); a NaN result is NULL exactly when
  * [[VectorKernels.nullPair]] holds. Serializable so that tasks can
  * deserialize its subclasses (Java needs a no-arg constructor on the
  * first non-serializable ancestor). */
abstract class VectorPairExpression(kernel: String) extends BinaryExpression with Serializable {
  protected def compute(x: ArrayData, y: ArrayData): Double

  override def checkInputDataTypes(): TypeCheckResult =
    ExprTypes.check(this, Seq(ExprTypes.F32s), Seq(ExprTypes.F32s))
  override def dataType: DataType = DoubleType
  // can produce null from non-null inputs (ragged / null-element arrays)
  override def nullable: Boolean = true

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val r = compute(x, y)
    if (r.isNaN && VectorKernels.nullPair(x, y)) null else r
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.value} = graft.plans.VectorKernels.$kernel($a, $b);
         |${ev.isNull} = java.lang.Double.isNaN(${ev.value}) &&
         |  graft.plans.VectorKernels.nullPair($a, $b);""".stripMargin)
}

/** dot(a, b) over two array<float> columns, accumulated in double.
  * Matches the HOF (`zip_with`) formulation exactly, including its null
  * semantics: NULL when the lengths differ or any element is null. */
case class DotF32(left: Expression, right: Expression)
    extends VectorPairExpression("dotF32") {
  override def prettyName: String = "vec_dot_f32"
  override protected def compute(x: ArrayData, y: ArrayData): Double =
    VectorKernels.dotF32(x, y)
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** cosine(a, b) over two array<float> columns; values match
  * [[graft.functions.Vectors.cosine]] bit-for-bit, including its null
  * semantics. */
case class CosineF32(left: Expression, right: Expression)
    extends VectorPairExpression("cosineF32") {
  override def prettyName: String = "vec_cosine_f32"
  override protected def compute(x: ArrayData, y: ArrayData): Double =
    VectorKernels.cosineF32(x, y)
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Squared L2 distance over two array<float> columns. Matches
  * [[graft.functions.Pq.d2]]'s HOF formulation
  * (`aggregate(zip_with(a, b, (x,y) => (x-y)*(x-y)), 0.0, +)`)
  * bit-for-bit, so the ADC tables, PQ codes and exact reranks built on
  * it hash-match the DuckDB `list_reduce` oracle unchanged. */
case class L2F32(left: Expression, right: Expression)
    extends VectorPairExpression("l2sqF32") {
  override def prettyName: String = "vec_l2sq_f32"
  override protected def compute(x: ArrayData, y: ArrayData): Double =
    VectorKernels.l2sqF32(x, y)
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** dot(a, b) where `a` is array<float> and `b` is array<double> —
  * the sign-LSH projection's inner fold
  * (`aggregate(zip_with(a.cast(array<double>), b, *), 0.0, +)`), so
  * projections (and the bucket keys built on their signs) are
  * bit-identical to the HOF spelling — parity-spec'd. The double side
  * is the driver-computed hyperplane literal, so no cast runs per row
  * on either side. */
case class DotF32D64(left: Expression, right: Expression)
    extends VectorPairExpression("dotF32D64") {
  override def checkInputDataTypes(): TypeCheckResult =
    ExprTypes.check(this, Seq(ExprTypes.F32s), Seq(ExprTypes.F64s))
  override def prettyName: String = "vec_dot_f32d64"
  override protected def compute(x: ArrayData, y: ArrayData): Double =
    VectorKernels.dotF32D64(x, y)
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Exact integer dot of two bigint vectors — the retired
  * `aggregate(zip_with(a, b, *), 0, +)` of the int8 codec: Java long
  * wrap semantics, NULL when the lengths differ or any element is
  * null. */
case class DotI64(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    ExprTypes.check(this, Seq(ExprTypes.I64s), Seq(ExprTypes.I64s))
  override def dataType: DataType = LongType
  // can produce null from non-null inputs (ragged / null-element arrays)
  override def nullable: Boolean = true
  override def prettyName: String = "vec_dot_i64"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val r = VectorKernels.dotI64(x, y)
    if (r == Long.MinValue && VectorKernels.nullPair(x, y)) null else r
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""${ev.value} = graft.plans.VectorKernels.dotI64($a, $b);
         |${ev.isNull} = ${ev.value} == Long.MIN_VALUE &&
         |  graft.plans.VectorKernels.nullPair($a, $b);""".stripMargin)

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
