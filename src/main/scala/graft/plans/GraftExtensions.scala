package graft.plans

import scala.reflect.ClassTag

import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.types.IntegerType

/** SparkSessionExtensions hook: registers the engine's native expressions
  * so they are usable from SQL (`vec_cosine_f32(a, b)`) as well as the
  * Column API. Wire up with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")` or
  * `SparkSession.builder.withExtensions(new GraftExtensions)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // epsilon-band joins: abs(l - r) <= eps rewritten to a quantized
    // equi-join so the naive formulation never plans a nested loop
    ext.injectOptimizerRule(_ => BandJoinRewrite)
    // planar radius joins: (x1-x2)² + (y1-y2)² <= r² rewritten to the
    // 3x3 grid-cell equi-join — BandJoinRewrite's 2D sibling
    ext.injectOptimizerRule(_ => SpatialJoinRewrite)
  }
}

object GraftExtensions {

  /** One SQL function: its name, arity, builder and usage. The builder
    * runs only on an argument list of the right length; the result's
    * class is what DESCRIBE FUNCTION shows. */
  private def fn[E <: Expression](name: String, arity: Int, usage: String)(
      build: Seq[Expression] => E)(implicit ct: ClassTag[E])
      : (FunctionIdentifier, ExpressionInfo, FunctionBuilder) = {
    val checked: FunctionBuilder = args => {
      if (args.size != arity)
        throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
          "functionName" -> s"`$name`", "expectedNum" -> arity.toString,
          "actualNum" -> args.size.toString, "docroot" -> org.apache.spark.SPARK_DOC_ROOT))
      build(args)
    }
    (FunctionIdentifier(name),
      new ExpressionInfo(ct.runtimeClass.getName, null, name, s"$name$usage", ""),
      checked)
  }

  /** shingles' width is compiled into the plan: a constant INT. */
  private def shingleWidth(n: Expression): Int = {
    if (!n.foldable)
      throw new AnalysisException("NON_FOLDABLE_ARGUMENT", Map(
        "funcName" -> "`shingles`", "paramName" -> "`n`", "paramType" -> "\"INT\""))
    n.eval() match {
      case w: Int if n.dataType == IntegerType => w
      case _ => throw new AnalysisException("UNEXPECTED_INPUT_TYPE", Map(
        "paramIndex" -> "second", "functionName" -> "`shingles`",
        "requiredType" -> "\"INT\"", "inputSql" -> s"\"${n.sql}\"",
        "inputType" -> s"\"${n.dataType.sql}\""))
    }
  }

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn("vec_dot_f32", 2, "(a, b) - dot product of two float vectors in double.")(
      a => DotF32(a(0), a(1))),
    fn("vec_cosine_f32", 2, "(a, b) - cosine similarity of two float vectors.")(
      a => CosineF32(a(0), a(1))),
    fn("vec_l2sq_f32", 2, "(a, b) - squared L2 distance of two float vectors in double.")(
      a => L2F32(a(0), a(1))),
    fn("vec_dot_f32d64", 2, "(a, b) - dot of a float vector with a double vector in double.")(
      a => DotF32D64(a(0), a(1))),
    fn("vec_dot_i64", 2, "(a, b) - exact integer dot product of two bigint vectors.")(
      a => DotI64(a(0), a(1))),
    fn("vec_l2_normalize", 1,
      "(v) - L2-normalized copy of a float/double vector (zeros when the norm is zero).")(
      a => NormalizeL2(a(0))),
    fn("vec_quantize_int8", 1, "(v) - symmetric int8 quantization floor(x*127/max|x| + 0.5).")(
      a => QuantizeInt8(a(0))),
    fn("arr_isect_count_sorted_i64", 2,
      "(a, b) - intersection size of two ASC-sorted bigint arrays.")(
      a => IntersectCountSortedI64(a(0), a(1))),
    fn("cdc_boundaries", 1,
      "(codes) - rolling Karp-Rabin CDC boundary positions of a code array.")(
      a => CdcBoundaries(a(0))),
    fn("cdc_boundaries_str", 1,
      "(text) - rolling Karp-Rabin CDC boundary positions over a string's code points.")(
      a => CdcBoundariesStr(a(0))),
    fn("karp_rabin_fp", 1, "(text) - Karp-Rabin fingerprint fold acc*31 + codepoint mod 1e9+7.")(
      a => KarpRabinFp(a(0))),
    fn("shingles", 2, "(tokens, n) - word n-gram shingles of a token array, space-joined.")(
      a => Shingles(a(0), shingleWidth(a(1)))),
    fn("jaro_winkler", 2, "(a, b) - Jaro-Winkler similarity of two strings.")(
      a => JaroWinkler(a(0), a(1))))
}
