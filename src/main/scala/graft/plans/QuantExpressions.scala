package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType}

/** Native spellings of the int8 similarity-search codec's per-vector
  * HOFs (guide §4: the L2F32 recipe applied to the quantization
  * family; the codec's integer dot is [[DotI64]]). Each kernel
  * replicates its retired higher-order-function formulation
  * bit-for-bit — same strict left folds in double, same float→double
  * exact widening, same null/edge semantics — and keeps the widened
  * quantize/rerank map sides in whole-stage codegen. At 100 TB
  * quantization is the ingest-side storage codec: one pass per corpus
  * vector, so per-element interpreter frames are the multiplier that
  * matters. `isFloat` selects the element type and is a literal in
  * generated code.
  */
object QuantKernels {
  /** Read element i as double, widening float exactly like
    * `cast(array<double>)`. */
  @inline private def elem(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** The retired spelling: n = sqrt(strict-left-fold of x²); each
    * element x/n, 0.0 for every element when n == 0. Null ELEMENTS
    * poison the norm fold to null, which the retired `when(n === 0.0,
    * 0.0).otherwise(x / n)` turns into an all-null array
    * (when-condition null takes the otherwise branch, x/null is
    * null) — replicated exactly. */
  def normalizeL2(x: ArrayData, isFloat: Boolean): ArrayData = {
    val n = x.numElements()
    var hasNull = false
    var ss = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) hasNull = true
      else if (!hasNull) {
        val v = elem(x, i, isFloat)
        ss += v * v
      }
      i += 1
    }
    if (hasNull) return new GenericArrayData(new Array[AnyRef](n)) // all null
    val norm = math.sqrt(ss)
    val out = new Array[AnyRef](n)
    i = 0
    while (i < n) {
      val v = elem(x, i, isFloat)
      out(i) = java.lang.Double.valueOf(if (norm == 0.0) 0.0 else v / norm)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** q_i = floor(x_i·127/max|x| + 0.5) with the retired spelling's
    * semantics exactly: the max|x| fold SKIPS null elements and ranks
    * NaN greatest (array_max's ordering); per element, m == 0.0 gives
    * 0 even for a null element (the retired `when(m === 0.0, 0L)`
    * fires before the element is read), a null element under m != 0
    * gives null, and an all-null/empty max (m null) gives an all-null
    * array. */
  def quantizeInt8(x: ArrayData, isFloat: Boolean): ArrayData = {
    val n = x.numElements()
    // max|x| ignoring nulls; NaN greatest (Spark's double ordering)
    var m = 0.0
    var seen = false
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i)) {
        val v = math.abs(elem(x, i, isFloat))
        if (!seen || java.lang.Double.compare(v, m) > 0) m = v
        seen = true
      }
      i += 1
    }
    val out = new Array[AnyRef](n)
    i = 0
    while (i < n) {
      out(i) =
        if (seen && m == 0.0) java.lang.Long.valueOf(0L)
        else if (!seen || x.isNullAt(i)) null
        else java.lang.Long.valueOf(
          math.floor(elem(x, i, isFloat) * 127.0 / m + 0.5).toLong)
      i += 1
    }
    new GenericArrayData(out)
  }

  def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
}

/** L2-normalized copy of a float/double vector, as array<double>
  * ([[QuantKernels.normalizeL2]]). NULL input → NULL. */
case class NormalizeL2(child: Expression) extends UnaryExpression {

  private lazy val isFloat = QuantKernels.isFloat(child)

  override def checkInputDataTypes(): TypeCheckResult =
    ExprTypes.check(this, Seq(ExprTypes.F32s, ExprTypes.F64s))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
  override def prettyName: String = "vec_l2_normalize"

  override protected def nullSafeEval(a: Any): Any =
    QuantKernels.normalizeL2(a.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.plans.QuantKernels.normalizeL2($a, $isFloat)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Symmetric int8 quantization of a float/double vector, as
  * array<long> ([[QuantKernels.quantizeInt8]]). NULL input → NULL. */
case class QuantizeInt8(child: Expression) extends UnaryExpression {

  private lazy val isFloat = QuantKernels.isFloat(child)

  override def checkInputDataTypes(): TypeCheckResult =
    ExprTypes.check(this, Seq(ExprTypes.F32s, ExprTypes.F64s))
  override def dataType: DataType = ArrayType(LongType, containsNull = true)
  override def prettyName: String = "vec_quantize_int8"

  override protected def nullSafeEval(a: Any): Any =
    QuantKernels.quantizeInt8(a.asInstanceOf[ArrayData], isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.plans.QuantKernels.quantizeInt8($a, $isFloat)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
