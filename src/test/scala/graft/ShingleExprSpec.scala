package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Text
import graft.sources.Tables

/** Native shingle expression (graft.plans.Shingles): byte-parity with
  * the retired HOF spelling over the real corpus at every width the
  * engine uses, plus the null/short-doc/null-element edges the HOF's
  * wrapper pinned, each on both evaluation paths ([[EvalPaths]]).
  */
class ShingleExprSpec extends AnyFunSuite with EvalPathTests {
  import SharedSpark._

  // the retired HOF spelling, inlined verbatim — the parity oracle
  private def hofShingles(tokens: Column, n: Int): Column =
    flatten(transform(array(tokens), ts =>
      when(size(ts) >= n,
        transform(
          sequence(lit(1), size(ts) - (n - 1)),
          i => concat_ws(" ", (0 until n).map(k => element_at(ts, i + k)): _*)
        )
      ).otherwise(array().cast("array<string>"))))

  testBoth("Shingles is byte-identical to the HOF over the real corpus at widths 2, 3, 8") {
    val docs = Tables(spark, sf).documents.select(col("text"))
    Seq(2, 3, 8).foreach { n =>
      val both = docs.select(
        hofShingles(Text.tokenize(col("text")), n).as("hof"),
        Text.shingles(Text.tokenize(col("text")), n).as("native"))
      assert(both.filter(col("hof") =!= col("native")).isEmpty, s"width $n diverged")
      assert(both.count() > 100)
    }
  }

  test("Shingles edges: short docs and NULL arrays give empty; null elements skip like concat_ws") {
    import spark.implicits._
    val df = EvalPaths.nonLocal(Seq(
      (1L, Seq("a", "b")),                       // shorter than n=3: empty
      (2L, Seq("a", "b", "c", "d")),             // 2 shingles at n=3
      (3L, Seq.empty[String]),                   // empty: empty
      (4L, null.asInstanceOf[Seq[String]])       // NULL array: empty (wrapper semantics)
    ).toDF("id", "ts"))
    val rows = EvalPaths.rows(df.select(col("id"),
        hofShingles(col("ts"), 3).as("hof"),
        Text.shingles(col("ts"), 3).as("native"))
      .orderBy(col("id")))
    rows.foreach { r =>
      assert(r.getSeq[String](1) == r.getSeq[String](2), s"id ${r.getLong(0)}")
    }
    assert(rows(1).getSeq[String](2) == Seq("a b c", "b c d"))
    assert(rows(3).getSeq[String](2).isEmpty)
    // null ELEMENTS: concat_ws skips them; the native loop must agree
    val withNulls: Seq[String] = Seq("x", null, "y", "z")
    val nd = EvalPaths.rows(EvalPaths.nonLocal(Seq(Tuple1(withNulls)).toDF("ts"))
      .select(hofShingles(col("ts"), 2).as("hof"),
        Text.shingles(col("ts"), 2).as("native")))
      .head
    assert(nd.getSeq[String](0) == nd.getSeq[String](1))
    assert(nd.getSeq[String](1) == Seq("x", "y", "y z"))
  }

  test("shingles is a registered SQL function and width-1 is the identity on non-null tokens") {
    import spark.implicits._
    val r = spark.sql(
      """SELECT shingles(array('a', 'b', 'c'), 2) AS s2,
        |       shingles(array('a', 'b', 'c'), 1) AS s1,
        |       shingles(CAST(NULL AS ARRAY<STRING>), 3) AS sn
        |""".stripMargin).head()
    assert(r.getSeq[String](0) == Seq("a b", "b c"))
    assert(r.getSeq[String](1) == Seq("a", "b", "c"))
    assert(r.getSeq[String](2).isEmpty)
    // the width must be a constant INT; each bad call names the function
    Seq(
      "SELECT shingles(array('a'))" -> "`shingles` requires 2 parameters",
      "SELECT shingles(array('a'), 2L)" -> "function `shingles` requires the \"INT\" type",
      "SELECT shingles(ts, n) FROM VALUES (array('a'), 2) AS t(ts, n)" ->
        "function `shingles` requires the parameter `n` to be a foldable"
    ).foreach { case (q, msg) =>
      val e = intercept[org.apache.spark.sql.AnalysisException](spark.sql(q))
      assert(e.getMessage.contains(msg), e.getMessage)
    }
  }
}
