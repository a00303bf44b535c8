package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.Tables

/** The SQL front door. Every operator is a DataFrame program and the oracle
  * SQL normally runs only in DuckDB; nothing else exercises `spark.sql(...)`
  * against the engine's tables. This spec closes the triangle: for every
  * oracle text that Spark's parser accepts (the ANSI subset — DuckDB-only
  * spellings like `list_*`/`time_bucket`/lambda `->` filters are skipped
  * adaptively; the DuckDB oracle compare, `graft.Verify` + `tools/check.py`,
  * is their only check), the Spark-SQL result must equal the DataFrame program's
  * result row for row. Since the driver already proves DataFrame == DuckDB
  * on the same text, Spark-SQL == DataFrame closes Spark-SQL == DuckDB
  * transitively — the three-way check without needing DuckDB in-JVM.
  *
  * The same parser path is the only way users reach the injected surface,
  * so the suite also pins the `GraftExtensions` SQL registrations
  * (`vec_dot_f32`, `vec_cosine_f32`, `jaro_winkler`) bit-equal to their
  * Column-API twins, and proves the optimizer rules fire on SQL text (a
  * band join typed as `abs(l - r) <= eps` must not plan a nested loop).
  */
class SqlParitySpec extends AnyFunSuite {
  import SharedSpark._

  private def registerViews(): Unit = {
    val t = Tables(spark, sf)
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "documents", "embeddings")
      .foreach(n => t.table(n).createOrReplaceTempView(n))
    // events goes through the ts-normalizing loader, same as the engine
    t.events.createOrReplaceTempView("events")
  }

  /** Engine-neutral row rendering: columns sorted by name (the driver's
    * compare discipline), floating/decimal scalars and array elements
    * rounded to 4 and rendered as double, everything stringified. Both
    * inputs are Spark plans, so this only has to erase *type* differences
    * (Spark-SQL decimal arithmetic vs the DataFrame's double math), not
    * engine rendering differences.
    */
  private def norm(df: DataFrame): Seq[String] = {
    val cols = df.columns.sorted.toIndexedSeq
    val sel = cols.map { c =>
      df.schema(c).dataType match {
        case _: DecimalType | DoubleType | FloatType =>
          round(col(c).cast("double"), 4).cast("string").as(c)
        case ArrayType(et, _)
            if et == DoubleType || et == FloatType || et.isInstanceOf[DecimalType] =>
          transform(col(c), x => round(x.cast("double"), 4).cast("string"))
            .cast("string").as(c)
        case _ => col(c).cast("string").as(c)
      }
    }
    df.select(sel: _*).collect()
      // \u0001 separator: an empty delimiter would let distinct rows
      // render identically (("ab","c") vs ("a","bc")) and mask a mismatch
      .map(_.toSeq.map(String.valueOf).mkString("\u0001")).sorted.toIndexedSeq
  }

  test("every Spark-parseable oracle text matches its DataFrame program (>=95 required)") {
    registerViews()
    var ran = List.empty[String]
    var skipped = 0
    val bad = SparkEntry.oracleSql.toSeq.sortBy(_._1).flatMap { case (name, text) =>
      // parse+analyze+execute; DuckDB-dialect texts fail fast at parse
      val viaSql =
        try Some(norm(spark.sql(text)))
        catch { case _: Exception => skipped += 1; None }
      viaSql.flatMap { sqlRows =>
        ran ::= name
        val dfRows = norm(registered(name))
        if (sqlRows == dfRows) None
        else Some(s"$name: spark.sql ${sqlRows.length} rows vs DataFrame ${dfRows.length}; " +
          s"first diff: ${sqlRows.diff(dfRows).headOption.orElse(dfRows.diff(sqlRows).headOption)}")
      }
    }
    info(s"spark.sql parity: ${ran.length} ran, $skipped DuckDB-only skipped")
    assert(bad.isEmpty, s"SQL-vs-DataFrame mismatches:\n${bad.mkString("\n")}")
    assert(ran.length >= 95,
      s"only ${ran.length} oracle texts ran through spark.sql — front door untested")
  }

  test("injected SQL functions are bit-equal to their Column-API twins") {
    registerViews()
    // vectors come from the real embeddings table so dims/values are honest
    val viaSql = spark.sql(
      """SELECT vec_id,
        |       vec_dot_f32(embedding, embedding) AS d,
        |       vec_cosine_f32(embedding, embedding) AS c
        |FROM embeddings ORDER BY vec_id LIMIT 100""".stripMargin).collect()
    val viaCol = spark.table("embeddings")
      .select(col("vec_id"),
        graft.functions.Vectors.dotFast(col("embedding"), col("embedding")).as("d"),
        graft.functions.Vectors.cosineFast(col("embedding"), col("embedding")).as("c"))
      .orderBy("vec_id").limit(100).collect()
    viaSql.zip(viaCol).foreach { case (a, b) =>
      assert(a.getLong(0) == b.getLong(0))
      // bit-equal, not approx: same codegen'd expression either way
      assert(java.lang.Double.doubleToLongBits(a.getDouble(1)) ==
        java.lang.Double.doubleToLongBits(b.getDouble(1)), s"dot diverges at id ${a.get(0)}")
      assert(java.lang.Double.doubleToLongBits(a.getDouble(2)) ==
        java.lang.Double.doubleToLongBits(b.getDouble(2)), s"cosine diverges at id ${a.get(0)}")
    }
    val jw = spark.sql(
      """SELECT n_name, jaro_winkler(n_name, 'NATION_19') AS s
        |FROM nation ORDER BY n_name""".stripMargin).collect()
    val jwCol = spark.table("nation")
      .select(col("n_name"),
        graft.functions.Text.jaroWinkler(col("n_name"), lit("NATION_19")).as("s"))
      .orderBy("n_name").collect()
    assert(jw.map(_.getDouble(1)).toSeq == jwCol.map(_.getDouble(1)).toSeq)
    assert(jw.exists(_.getDouble(1) == 1.0), "self-similarity row missing")
    assert(jw.exists(r => r.getDouble(1) > 0.0 && r.getDouble(1) < 1.0),
      "no partial-similarity rows — the comparison is vacuous")
  }

  test("optimizer rules fire through the SQL parser path: band join plans no nested loop") {
    registerViews()
    // deterministic subset (a LIMIT without ORDER BY could pick different
    // rows across the two executions below)
    val df = spark.sql(
      """SELECT a.o_orderkey, b.o_orderkey AS other
        |FROM (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 0) a
        |JOIN (SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 0) b
        |  ON abs(a.o_totalprice - b.o_totalprice) <= 0.5
        |     AND a.o_orderkey < b.o_orderkey""".stripMargin)
    df.collect() // force the AQE final plan
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"BandJoinRewrite did not fire on SQL text:\n$plan")
    // sanity: the rewrite preserved semantics vs the naive predicate on a
    // plan where the rule is disabled via the quantization guard bypass —
    // cheapest honest check is the symmetric pair count from a local recompute
    val rows = spark.sql(
      """SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 0""")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val want = (for {
      (k1, p1) <- rows; (k2, p2) <- rows
      if k1 < k2 && math.abs(p1 - p2) <= 0.5
    } yield 1).size
    assert(df.count() == want.toLong, "band join result diverges from direct evaluation")
  }
}
