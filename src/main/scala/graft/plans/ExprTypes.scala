package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, StringType}

/** The one input-type check of the native expressions
  * (ExpectsInputTypes needs private[sql] types). Array element
  * nullability is ignored: `array<float>` matches either way. */
private[plans] object ExprTypes {
  val F32s: DataType = ArrayType(FloatType)
  val F64s: DataType = ArrayType(DoubleType)
  val I64s: DataType = ArrayType(LongType)
  val Strs: DataType = ArrayType(StringType)

  /** Success when child i's type is one of `accepted(i)`. */
  def check(e: Expression, accepted: Seq[DataType]*): TypeCheckResult = {
    val got = e.children.map(_.dataType match {
      case ArrayType(t, _) => ArrayType(t)
      case t => t
    })
    if (got.corresponds(accepted)((t, ok) => ok.contains(t))) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"${e.prettyName} expects (${accepted.map(_.map(_.sql).mkString(" or ")).mkString(", ")}), " +
        s"got (${e.children.map(_.dataType.sql).mkString(", ")})")
  }
}
