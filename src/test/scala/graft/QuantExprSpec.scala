package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Vectors
import graft.sources.Tables

/** Native quantization-family expressions (graft.plans.NormalizeL2 /
  * QuantizeInt8 / DotI64): bit-parity with the retired HOF spellings
  * over the real embeddings (float AND double inputs, composed as the
  * d6_sq_rerank pipeline composes them) plus the zero-norm, null, NaN
  * and ragged edges, each on both evaluation paths ([[EvalPaths]]).
  */
class QuantExprSpec extends AnyFunSuite with EvalPathTests {
  import SharedSpark._

  // the retired HOF spellings, inlined verbatim — the parity oracles
  private def hofNormalized(v: Column): Column =
    flatten(transform(array(v.cast("array<double>")), dv =>
      flatten(transform(
        array(sqrt(aggregate(transform(dv, x => x * x), lit(0.0), (acc, x) => acc + x))),
        n => transform(dv, x => when(n === 0.0, lit(0.0)).otherwise(x / n))))))

  private def hofQuantize(v: Column): Column =
    flatten(transform(array(v.cast("array<double>")), dv =>
      flatten(transform(array(array_max(transform(dv, x => abs(x)))), m =>
        transform(dv, x => when(m === 0.0, lit(0L))
          .otherwise(floor(x * 127.0 / m + 0.5)))))))

  private def hofDotInt(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L),
      (acc: Column, x: Column) => acc + x)

  testBoth("NormalizeL2 and QuantizeInt8 are bit-identical to the HOFs over real embeddings") {
    val e = Tables(spark, sf).embeddings
    // float input, and the composed double input quantize(normalized(v))
    // — exactly d6_sq_rerank's shape
    val both = e.select(
      hofNormalized(col("embedding")).as("hn"),
      Vectors.normalized(col("embedding")).as("nn"),
      hofQuantize(col("embedding")).as("hq"),
      Vectors.quantizeInt8(col("embedding")).as("nq"),
      hofQuantize(hofNormalized(col("embedding"))).as("hqn"),
      Vectors.quantizeInt8(Vectors.normalized(col("embedding"))).as("nqn"))
    assert(both.filter(col("hn") =!= col("nn")).isEmpty)
    assert(both.filter(col("hq") =!= col("nq")).isEmpty)
    assert(both.filter(col("hqn") =!= col("nqn")).isEmpty)
    assert(both.count() > 100)
  }

  testBoth("DotI64 matches the HOF integer dot over quantized pairs") {
    val e = Tables(spark, sf).embeddings.limit(60)
    val q = e.select(col("vec_id"),
      Vectors.quantizeInt8(col("embedding")).as("qv"))
    val both = q.as("x").join(q.as("y"), col("x.vec_id") < col("y.vec_id"))
      .select(hofDotInt(col("x.qv"), col("y.qv")).as("hof"),
        Vectors.dotInt(col("x.qv"), col("y.qv")).as("native"))
    assert(both.filter(col("hof") =!= col("native")).isEmpty)
    assert(both.count() > 500)
  }

  test("quantization-family edges: zero vectors, empty/null arrays, null elements, ragged dot") {
    import spark.implicits._
    val df = EvalPaths.nonLocal(Seq(
      (1L, Seq(0.0f, 0.0f)),     // zero norm -> zeros / zero quant
      (2L, Seq(3.0f, -4.0f)),    // plain
      (3L, Seq.empty[Float]),    // empty -> empty
      (4L, Seq(Float.NaN, 1.0f)) // NaN norm and max: NaN / floor(NaN)
    ).toDF("id", "v"))
    val r = EvalPaths.rows(df.select(col("id"),
        hofNormalized(col("v")).as("hn"), Vectors.normalized(col("v")).as("nn"),
        hofQuantize(col("v")).as("hq"), Vectors.quantizeInt8(col("v")).as("nq"))
      .orderBy(col("id")))
    r.foreach { row =>
      // rendered, so NaN elements compare equal
      assert(String.valueOf(row.get(1)) == String.valueOf(row.get(2)), s"norm id ${row.getLong(0)}")
      assert(String.valueOf(row.get(3)) == String.valueOf(row.get(4)), s"quant id ${row.getLong(0)}")
    }
    assert(String.valueOf(r(3).get(2)) == "ArraySeq(NaN, NaN)")
    assert(r(0).getSeq[Double](2) == Seq(0.0, 0.0))
    assert(r(0).getSeq[Long](4) == Seq(0L, 0L))
    // null ELEMENTS poison the norm fold / the max's consumers exactly
    // like the HOFs (all-null normalized; null quants under m != 0)
    val withNull: Seq[java.lang.Double] =
      Seq(java.lang.Double.valueOf(1.0), null, java.lang.Double.valueOf(2.0))
    val nrow = EvalPaths.rows(EvalPaths.nonLocal(Seq(Tuple1(withNull)).toDF("v"))
      .select(hofNormalized(col("v")).as("hn"), Vectors.normalized(col("v")).as("nn"),
        hofQuantize(col("v")).as("hq"), Vectors.quantizeInt8(col("v")).as("nq")))
      .head
    assert(nrow.getSeq[java.lang.Double](0) == nrow.getSeq[java.lang.Double](1))
    assert(nrow.getSeq[java.lang.Long](2) == nrow.getSeq[java.lang.Long](3))
    // NULL input and SQL registration; ragged dot is NULL like zip_with
    val s = spark.sql(
      """SELECT vec_l2_normalize(CAST(NULL AS ARRAY<FLOAT>)) AS a,
        |       vec_quantize_int8(CAST(NULL AS ARRAY<DOUBLE>)) AS b,
        |       vec_dot_i64(array(1L, 2L), array(3L)) AS ragged,
        |       vec_dot_i64(array(1L, 2L), array(3L, 4L)) AS d
        |""".stripMargin).head()
    assert(s.isNullAt(0) && s.isNullAt(1) && s.isNullAt(2))
    assert(s.getLong(3) == 11L)
    // the integer dot over DataFrame rows: a wrapped sum that lands on
    // Long.MinValue (the kernel's NULL sentinel) is still a value
    def l(xs: java.lang.Long*): Seq[java.lang.Long] = xs
    val dots = EvalPaths.rows(EvalPaths.nonLocal(Seq(
      (1, l(1L, 2L), l(3L, 4L)),   // 11
      (2, l(1L, 2L), l(3L)),       // ragged: NULL
      (3, l(1L, null), l(3L, 4L)), // null element: NULL
      (4, l(), l()),               // empty: 0
      (5, l(Long.MinValue), l(1L)),
      (6, null, l(1L))             // NULL input
    ).toDF("id", "a", "b")).select(col("id"),
      hofDotInt(col("a"), col("b")), Vectors.dotInt(col("a"), col("b"))))
    dots.foreach(r => assert(String.valueOf(r.get(1)) == String.valueOf(r.get(2)), s"dot id ${r.getInt(0)}"))
    assert(dots.map(r => String.valueOf(r.get(2))) ==
      Seq("11", "null", "null", "0", Long.MinValue.toString, "null"))
  }
}
