package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.Assertions._

/** Runs a check through both evaluation paths of the native
  * expressions: generated code (whole-stage codegen on, no interpreted
  * fallback) and interpreted `eval` (no codegen at all). Spark takes
  * the interpreted path for constant folding and when codegen fails, so
  * both must agree bit for bit.
  *
  * Literal and local (`Seq.toDF`) inputs are folded through `eval` by
  * the optimizer whatever the mode; [[nonLocal]] keeps an input's rows
  * out of the optimizer so the mode decides the path.
  */
object EvalPaths {
  import SharedSpark.spark

  private val Modes = Seq(
    Map("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.wholeStage" -> "true"),
    Map("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false"))

  private def withConf[T](conf: Map[String, String])(body: => T): T = {
    val saved = conf.keys.map(k => k -> spark.conf.getOption(k)).toMap
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `body`'s result under each path, asserted identical (rendered, so
    * NaN equals NaN and 0.0 differs from -0.0), and returned. */
  def same[T](body: => T): T = {
    val Seq(generated, interpreted) = Modes.map(withConf(_)(body))
    assert(render(generated) == render(interpreted),
      "generated code and interpreted eval disagree")
    generated
  }

  /** [[same]] over a DataFrame's collected rows. */
  def rows(df: => DataFrame): Seq[org.apache.spark.sql.Row] = same(df.collect().toSeq)

  /** `df` re-sourced from an RDD, so no optimizer rule evaluates its
    * expressions ahead of the physical plan. */
  def nonLocal(df: DataFrame): DataFrame = spark.createDataFrame(df.rdd, df.schema)

  private def render(v: Any): String = v match {
    case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
    case other => String.valueOf(other)
  }
}

/** Mixed into a suite: `testBoth` registers a test whose body runs once
  * per evaluation path ([[EvalPaths.same]]). */
trait EvalPathTests { self: org.scalatest.funsuite.AnyFunSuite =>
  protected def testBoth(name: String)(body: => Unit)(
      implicit pos: org.scalactic.source.Position): Unit =
    test(name)(EvalPaths.same(body))(pos)
}
