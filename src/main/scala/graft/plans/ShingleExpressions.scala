package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Word n-gram shingles over a token array — the native spelling of
  * [[graft.functions.Text.shingles]]'s HOF pipeline (guide §4: the
  * L2F32 recipe applied to the dedup family's ingest-side hot path).
  *
  * The retired spelling built each shingle through an interpreted
  * `transform(sequence(1, |ts|-n+1), i => concat_ws(" ",
  * element_at(ts, i), ..., element_at(ts, i+n-1)))` — per position a
  * lambda frame, n boxed element_at calls and an interpreted ConcatWs.
  * This expression emits the identical array in one compiled loop over
  * the token UTF8Strings, joining each window with the SAME
  * `UTF8String.concatWs` primitive Catalyst's concat_ws lowers to — so
  * every shingle string is byte-identical, including the skip-null
  * semantics (concat_ws drops NULL elements) and the short-doc guard
  * (fewer than n tokens → empty array). A NULL token ARRAY also yields
  * the empty array, exactly like the retired wrapper's
  * `when(size(ts) >= n, ...).otherwise(array())` under a null-poisoned
  * size — hence this expression is NOT null-propagating (nullable =
  * false, eval handles null itself). At 100 TB the shingle build is
  * the per-byte ingest multiplier under every MinHash / Jaccard /
  * containment / PPJoin+ pass; locally it keeps the widened map sides
  * in whole-stage codegen.
  */
object ShinglesUtil {
  private val Sep = UTF8String.fromString(" ")
  private val Empty = new GenericArrayData(new Array[AnyRef](0))

  /** Static entry shared by eval and codegen — one implementation, so
    * the interpreted and generated paths cannot drift. Null-tolerant:
    * a null token array yields the empty shingle array. */
  def compute(tokens: ArrayData, n: Int): ArrayData = {
    if (tokens == null) return Empty
    val sz = tokens.numElements()
    if (sz < n) return Empty
    val toks = new Array[UTF8String](sz)
    var i = 0
    while (i < sz) {
      toks(i) = if (tokens.isNullAt(i)) null else tokens.getUTF8String(i)
      i += 1
    }
    val out = new Array[AnyRef](sz - n + 1)
    val win = new Array[UTF8String](n)
    var p = 0
    while (p <= sz - n) {
      var k = 0
      while (k < n) { win(k) = toks(p + k); k += 1 }
      // the same primitive ConcatWs lowers to: skips null inputs,
      // never returns null
      out(p) = UTF8String.concatWs(Sep, win: _*)
      p += 1
    }
    new GenericArrayData(out)
  }
}

/** See [[ShinglesUtil]]. `n` is a plan-time constant (every call site
  * passes a literal width), so it compiles into the generated code. */
case class Shingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"shingles: width must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult =
    ExprTypes.check(this, Seq(ExprTypes.Strs))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  // a NULL input maps to the empty array (the retired wrapper's
  // semantics), so the output is never null
  override def nullable: Boolean = false
  override def prettyName: String = "shingles"

  override def eval(input: InternalRow): Any =
    ShinglesUtil.compute(child.eval(input).asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(
      code = code"""
        ${c.code}
        $javaType ${ev.value} = graft.plans.ShinglesUtil.compute(
          ${c.isNull} ? null : ${c.value}, $n);
      """,
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
