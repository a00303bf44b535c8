package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Vectors
import graft.sources.Tables

/** Native codegen'd vector expressions (graft.plans.DotF32/CosineF32/
  * L2F32/DotF32D64/IntersectCountSortedI64): bit-parity with the
  * higher-order-function formulation on both evaluation paths
  * ([[EvalPaths]]), SQL-callable via GraftExtensions, null behavior.
  */
class VectorExprSpec extends AnyFunSuite with EvalPathTests {
  import SharedSpark._

  // the retired HOF spellings, inlined verbatim — the parity oracles
  private def hofD2(a: Column, b: Column) =
    aggregate(
      zip_with(a, b, (x, y) =>
        (x.cast("double") - y.cast("double")) *
          (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc: Column, x: Column) => acc + x)
  private def hofProj(v: Column, coefs: Column) =
    aggregate(zip_with(v.cast("array<double>"), coefs, (x, c) => x * c),
      lit(0.0), (acc: Column, x: Column) => acc + x)

  testBoth("cosineFast is bit-identical to the HOF cosine over real embeddings") {
    import spark.implicits._
    val e = Tables(spark, sf).embeddings.limit(100)
    val both = e.as("x").join(e.as("y"), col("x.vec_id") < col("y.vec_id"))
      .select(
        Vectors.cosine(col("x.embedding"), col("y.embedding")).as("hof"),
        Vectors.cosineFast(col("x.embedding"), col("y.embedding")).as("native"))
    val diff = both.filter(col("hof") =!= col("native")).count()
    assert(diff == 0)
    // not trivially zero rows
    assert(both.count() > 1000)
  }

  testBoth("dotFast matches the HOF dot bit-for-bit") {
    import spark.implicits._
    val e = Tables(spark, sf).embeddings.limit(50)
    val both = e.as("x").join(e.as("y"), col("x.vec_id") =!= col("y.vec_id"))
      .select(Vectors.dot(col("x.embedding"), col("y.embedding")).as("hof"),
        Vectors.dotFast(col("x.embedding"), col("y.embedding")).as("native"))
    assert(both.filter(col("hof") =!= col("native")).isEmpty)
  }

  testBoth("Pq.d2 (native L2F32) is bit-identical to the HOF squared-L2 over real embeddings") {
    val e = Tables(spark, sf).embeddings.limit(100)
    val both = e.as("x").join(e.as("y"), col("x.vec_id") < col("y.vec_id"))
      .select(
        hofD2(col("x.embedding"), col("y.embedding")).as("hof"),
        graft.functions.Pq.d2(col("x.embedding"), col("y.embedding")).as("native"))
    assert(both.filter(col("hof") =!= col("native")).isEmpty)
    assert(both.count() > 1000)
    // subvector slices (the ADC/train call shape) agree too
    val sub = e.as("x").join(e.as("y"), col("x.vec_id") < col("y.vec_id")).limit(500)
      .select(
        hofD2(slice(col("x.embedding"), 9, 8), slice(col("y.embedding"), 9, 8)).as("hof"),
        graft.functions.Pq.d2(
          slice(col("x.embedding"), 9, 8), slice(col("y.embedding"), 9, 8)).as("native"))
    assert(sub.filter(col("hof") =!= col("native")).isEmpty)
  }

  test("vec_l2sq_f32: ragged lengths and null elements yield NULL; empty arrays 0.0; SQL-registered") {
    val rows = spark.sql(
      """SELECT vec_l2sq_f32(array(1.0F, 2.0F), array(1.0F)) AS ragged,
        |       vec_l2sq_f32(array(1.0F, CAST(NULL AS FLOAT)), array(1.0F, 2.0F)) AS nullel,
        |       vec_l2sq_f32(CAST(array() AS ARRAY<FLOAT>), CAST(array() AS ARRAY<FLOAT>)) AS empty,
        |       vec_l2sq_f32(array(3.0F, 4.0F), array(0.0F, 0.0F)) AS v
        |""".stripMargin).head()
    assert(rows.isNullAt(0) && rows.isNullAt(1))
    assert(rows.getDouble(2) == 0.0)
    assert(rows.getDouble(3) == 25.0)
  }

  testBoth("dotMixedFast (DotF32D64) is bit-identical to the HOF sign-LSH projection fold") {
    val coefs = typedlit((0 until 64).map(d => Vectors.planeCoef(7, d)))
    val e = Tables(spark, sf).embeddings
    val both = e.select(
      hofProj(col("embedding"), coefs).as("hof"),
      Vectors.dotMixedFast(col("embedding"), coefs).as("native"))
    assert(both.filter(col("hof") =!= col("native")).isEmpty)
    assert(both.count() > 100)
    // the full key arrays agree too (lshTables is built on this fold)
    val hofKeys = {
      val keys = (0 until 8).map { t =>
        val bits = (0 until 4).map { p =>
          val cs = typedlit((0 until 64).map(d => Vectors.planeCoef(t * 4 + p, d)))
          when(hofProj(col("embedding"), cs) >= 0.0, lit(1L << p)).otherwise(lit(0L))
        }
        bits.reduce(_ + _) + lit(t.toLong * 16L)
      }
      array(keys: _*)
    }
    val kb = e.select(hofKeys.as("hof"),
      Vectors.lshTables(col("embedding"), 4, 8).as("native"))
    assert(kb.filter(col("hof") =!= col("native")).isEmpty)
  }

  test("DotF32D64 null semantics match the HOF fold's (ragged/null-element/null-input)") {
    import spark.implicits._
    val df = EvalPaths.nonLocal(Seq(
      (Array(1.0f, 2.0f), Array(3.0, 4.0)),   // clean: 11.0
      (Array(1.0f), Array(3.0, 4.0))          // ragged: NULL
    ).toDF("a", "b"))
    val rows = EvalPaths.rows(df.select(Vectors.dotMixedFast(col("a"), col("b")).as("d")))
    assert(rows(0).getDouble(0) == 11.0)
    assert(rows(1).isNullAt(0))
    val r2 = spark.sql(
      """SELECT vec_dot_f32d64(array(1.0F, CAST(NULL AS FLOAT)), array(1.0D, 2.0D)) AS nullel,
        |       vec_dot_f32d64(CAST(NULL AS ARRAY<FLOAT>), array(1.0D)) AS nullin
        |""".stripMargin).head()
    assert(r2.isNullAt(0) && r2.isNullAt(1))
    // and a null projection takes lshTables' 0-bit branch exactly like
    // the HOF's null fold: keys of a NULL vector are the table tags
    val nk = EvalPaths.rows(EvalPaths.nonLocal(Seq((1L, null: Array[Float])).toDF("id", "v"))
      .select(Vectors.lshTables(col("v"), 4, 8).as("k")))
      .head.getSeq[Long](0)
    assert(nk == (0 until 8).map(_.toLong * 16L))
  }

  test("vec_cosine_f32 / vec_dot_f32 are registered SQL functions") {
    import spark.implicits._
    val row = spark.sql(
      """SELECT vec_cosine_f32(array(1.0F, 0.0F), array(1.0F, 0.0F)) AS c,
        |       vec_dot_f32(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS d,
        |       vec_cosine_f32(array(0.0F, 0.0F), array(1.0F, 0.0F)) AS z
        |""".stripMargin).as[(Double, Double, Double)].head()
    assert(row == ((1.0, 11.0, 0.0)))
    // a wrong argument count is an analysis error naming the function
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT vec_dot_f32(array(1.0F))"))
    assert(e.getMessage.contains("`vec_dot_f32` requires 2 parameters"), e.getMessage)
  }

  test("null inputs propagate null") {
    import spark.implicits._
    val r = spark.sql(
      "SELECT vec_dot_f32(CAST(NULL AS ARRAY<FLOAT>), array(1.0F))").head()
    assert(r.isNullAt(0))
  }

  test("ragged lengths and null elements yield NULL, matching zip_with") {
    // the HOF formulation returns NULL for both cases (zip_with pads the
    // shorter side with null); the native expressions must agree, not
    // silently truncate to min(length)
    import spark.implicits._
    def v(xs: java.lang.Float*): Seq[java.lang.Float] = xs
    val df = EvalPaths.nonLocal(Seq(
      (1, v(1f, 2f), v(3f, 4f)),          // clean
      (2, v(1f, 2f), v(1f)),              // ragged
      (3, v(1f, null), v(1f, 2f)),        // null element
      (4, v(), v()),                      // empty
      (5, v(Float.NaN, 1f), v(1f, 2f)),   // NaN: a value, not NULL
      (6, v(Float.NaN, null), v(1f, 2f)), // NaN, then a null element
      (7, null, v(1f))                    // NULL input
    ).toDF("id", "a", "b"))
    val (a, b, bd) = (col("a"), col("b"), col("b").cast("array<double>"))
    val out = EvalPaths.rows(df.select(col("id"),
      Vectors.dot(a, b), Vectors.dotFast(a, b),
      Vectors.cosine(a, b), Vectors.cosineFast(a, b),
      hofD2(a, b), graft.functions.Pq.d2(a, b),
      hofProj(a, bd), Vectors.dotMixedFast(a, bd)))
    val native = out.map { r =>
      Seq(1, 3, 5, 7).foreach(i => assert(
        String.valueOf(r.get(i)) == String.valueOf(r.get(i + 1)), s"id ${r.getInt(0)} col $i"))
      r.getInt(0) -> Seq(2, 4, 6, 8).map(i => String.valueOf(r.get(i)))
    }.toMap
    Seq(2, 3, 6, 7).foreach(id => assert(native(id) == Seq.fill(4)("null"), s"id $id"))
    assert(native(4) == Seq.fill(4)("0.0"))
    assert(native(5) == Seq.fill(4)("NaN"))
    // and the same through SQL literals (constant-folded through eval)
    val rows = spark.sql(
      """SELECT vec_dot_f32(array(1.0F, 2.0F), array(1.0F)) AS ragged_dot,
        |       vec_cosine_f32(array(1.0F, 2.0F), array(1.0F)) AS ragged_cos,
        |       vec_dot_f32(array(1.0F, CAST(NULL AS FLOAT)), array(1.0F, 2.0F)) AS nullel_dot,
        |       vec_cosine_f32(array(1.0F, CAST(NULL AS FLOAT)), array(1.0F, 2.0F)) AS nullel_cos
        |""".stripMargin).head()
    (0 until 4).foreach(i => assert(rows.isNullAt(i), s"col $i should be NULL"))
    // and the HOF versions agree on the same inputs
    val hof = Seq((Array(1.0f, 2.0f), Array(1.0f)))
      .toDF("a", "b")
      .select(Vectors.dot(col("a"), col("b")).as("d"),
        Vectors.cosine(col("a"), col("b")).as("c"))
      .head()
    assert(hof.isNullAt(0) && hof.isNullAt(1))
  }

  testBoth("IntersectCountSortedI64 equals size(array_intersect) over the real PPJoin+ candidates") {
    import spark.implicits._
    // the verify-step shape itself: per-doc value-sorted shingle sets,
    // native merge count vs the retired size(array_intersect) spelling
    val docs = Tables(spark, sf).documents.select(col("doc_id"), col("text"))
    val perDoc = graft.dedup.Dedup.prefixIndex(docs, 3, 0.5)
    val prefix = graft.dedup.Dedup.prefixPostings(perDoc)
    val cands = prefix.as("x")
      .join(prefix.as("y"), graft.dedup.Dedup.ppjoinCond(0.5))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    val both = cands
      .join(perDoc.select(col("doc_id").as("a"), col("set").as("seta")), "a")
      .join(perDoc.select(col("doc_id").as("b"), col("set").as("setb")), "b")
      .select(
        size(array_intersect(col("seta"), col("setb"))).as("hof"),
        expr("arr_isect_count_sorted_i64(array_sort(seta), array_sort(setb))").as("native"))
    assert(both.filter(col("hof") =!= col("native")).isEmpty)
    assert(both.count() > 10) // spec SF has ~32 candidate pairs
  }

  testBoth("arr_isect_count_sorted_i64: duplicates, nulls, empties and null inputs match array_intersect") {
    import spark.implicits._
    // size(array_intersect(a, b)) is input-order-independent, so the
    // contract is: native(array_sort(a), array_sort(b)) == size(array_intersect(a, b))
    // for ANY arrays — randomized arrays with duplicates and null elements
    val rnd = new scala.util.Random(42)
    def arr(): Seq[java.lang.Long] =
      Seq.fill(rnd.nextInt(12))(
        if (rnd.nextInt(10) == 0) null
        else java.lang.Long.valueOf(rnd.nextInt(8).toLong))
    val rows = Seq.fill(500)((arr(), arr())) ++ Seq((null, arr()), (arr(), null))
    val df = EvalPaths.nonLocal(rows.toDF("a", "b"))
    val both = df.select(
      size(array_intersect(col("a"), col("b"))).as("hof"),
      expr("arr_isect_count_sorted_i64(array_sort(a), array_sort(b))").as("native"))
    assert(both.filter(!(col("hof") <=> col("native"))).isEmpty)
    // null input propagates NULL exactly like size(array_intersect)
    val r = spark.sql(
      """SELECT arr_isect_count_sorted_i64(CAST(NULL AS ARRAY<BIGINT>), array(1L)) AS n1,
        |       arr_isect_count_sorted_i64(array(1L), CAST(NULL AS ARRAY<BIGINT>)) AS n2,
        |       arr_isect_count_sorted_i64(CAST(array() AS ARRAY<BIGINT>), array(1L)) AS e,
        |       arr_isect_count_sorted_i64(array(1L, 1L, 2L), array(1L, 2L, 2L, 3L)) AS d
        |""".stripMargin).head()
    assert(r.isNullAt(0) && r.isNullAt(1))
    assert(r.getInt(2) == 0 && r.getInt(3) == 2)
  }

  test("DESCRIBE FUNCTION exposes the right class and usage per function") {
    val desc = spark.sql("DESCRIBE FUNCTION EXTENDED vec_cosine_f32")
      .collect().map(_.getString(0)).mkString("\n")
    assert(desc.contains("CosineF32"))
    assert(desc.contains("cosine similarity"))
    val desc2 = spark.sql("DESCRIBE FUNCTION EXTENDED vec_dot_f32")
      .collect().map(_.getString(0)).mkString("\n")
    assert(desc2.contains("DotF32"))
    assert(desc2.contains("dot product"))
  }
}
