package graft

import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional 3rd arg (local iteration only): comma-separated name filter
    val only: Option[Set[String]] = args.drop(2).headOption.map(_.split(',').toSet)
    val cpus = Graft.defaultCpus
    val spark = Graft.session(master = s"local[$cpus]", shufflePartitions = cpus.toInt,
      appName = "graft-verify")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case NonFatal(e) =>
        System.err.println(s"[verify] $name failed: ${Graft.failureLine(e)}")
        // a query that throws must still leave a dump, or the driver's
        // compare silently omits it and the red row is invisible — a
        // 1-row sentinel with a __verify_error column guarantees a
        // schema/hash mismatch, so "absent" can only mean "never
        // registered"
        try {
          import spark.implicits._
          Seq(Option(e.getMessage).getOrElse(e.getClass.getName).take(500))
            .toDF("__verify_error")
            .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        } catch { case NonFatal(e2) =>
          System.err.println(s"[verify] $name sentinel not written: ${Graft.failureLine(e2)}")
        }
      }
      // localCheckpoint() blocks are never auto-freed; drop them so a
      // 200+-query dump doesn't accumulate storage memory across queries
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
