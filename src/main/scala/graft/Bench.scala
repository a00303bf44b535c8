package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** Benchmark main: times every registered query on SPARK_GRAFT_SF_DIR
  * (or the comma-separated GRAFT_BENCH_ONLY subset) and prints one JSON
  * line, the last line of stdout, with each query's median seconds and
  * quartiles. Each query gets one untimed warm-up run and then [[Samples]]
  * timed runs; a stderr line reports each query as it finishes. */
object Bench {

  /** Timed runs per query, after one untimed warm-up run. */
  val Samples = 3

  /** A query's timing: the median and quartiles of its timed runs in
    * seconds. A query whose run failed has all three set to minus that
    * run's seconds, so a crash never reads as fast. */
  final case class Summary(value: Double, q1: Double, q3: Double) {
    def failed: Boolean = value < 0
  }

  object Summary {
    def of(seconds: Seq[Double]): Summary = {
      val s = seconds.toIndexedSeq.sorted
      Summary(quantile(s, 0.5), quantile(s, 0.25), quantile(s, 0.75))
    }

    def failed(runSeconds: Double): Summary = {
      val v = -math.abs(runSeconds)
      Summary(v, v, v)
    }
  }

  /** Linear-interpolated quantile of sorted values (p in [0, 1]); the
    * same definition as the benchmark harness's `Stat.quantile`. */
  private def quantile(sorted: IndexedSeq[Double], p: Double): Double =
    if (sorted.isEmpty) 0.0
    else {
      val h = (sorted.length - 1) * p
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, sorted.length - 1)
      sorted(lo) + (h - lo) * (sorted(hi) - sorted(lo))
    }

  /** Calls `run` once untimed, then [[Samples]] times. `run` returns one
    * run's seconds, negative if it failed; the first failed run ends the
    * sampling and gives the query's value. */
  def sample(run: () => Double): Summary = {
    val (ok, failed) = Iterator.continually(run()).take(1 + Samples).span(_ > 0)
    val seconds = ok.toList.drop(1)
    failed.nextOption().fold(Summary.of(seconds))(Summary.failed)
  }

  private val mapper = new ObjectMapper()

  private def r3(v: Double): Double =
    BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** The result line. `queries`, `q1` and `q3` map each query to seconds;
    * `failed` and `value` (the sum of the successful medians) come last,
    * so a capture that keeps only the line's tail still holds them. */
  def resultLine(sfDir: String, results: Seq[(String, Summary)]): String = {
    val root = mapper.createObjectNode()
    root.put("metric", "total").put("unit", "sec").put("sf", sfDir)
      .put("samples_per_query", Samples)
    def seconds(field: String)(f: Summary => Double): Unit = {
      val m = root.putObject(field)
      results.foreach { case (k, s) => m.put(k, r3(f(s))) }
    }
    seconds("queries")(_.value)
    seconds("q1")(_.q1)
    seconds("q3")(_.q3)
    val failed = root.putArray("failed")
    results.collect { case (k, s) if s.failed => failed.add(k) }
    root.put("value", r3(results.map(_._2.value).filter(_ > 0).sum))
    mapper.writeValueAsString(root)
  }

  /** Only a sweep of the canonical sf0.1 directory (compared by its
    * normalized basename, so `sf0.1/.` counts and `sf0.12` does not)
    * rewrites BENCH_FULL.json. */
  private def isCanonicalSf(sfDir: String): Boolean =
    Option(java.nio.file.Paths.get(sfDir).toAbsolutePath.normalize.getFileName)
      .exists(_.toString == "sf0.1")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val only = sys.env.get("GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = Graft.session(master = s"local[${Graft.defaultCpus}]",
      appName = "graft-bench")
    type Query = (SparkSession, String) => DataFrame
    // force FULL materialization of every column — under count() Catalyst
    // prunes sorts and projections, understating the verified query
    def run(fn: Query): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    // Between runs: query impls pin blocks via localCheckpoint(), which
    // Spark never frees, and their old-gen garbage would otherwise land as
    // GC pauses inside the next run's timing. Each run starts clean.
    def release(): Unit = {
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      spark.catalog.clearCache()
      System.gc()
    }
    // seconds of one run, negative if it failed; stdout carries only the
    // JSON line, so failures go to stderr
    def timed(name: String, fn: Query): Double = {
      val t0 = System.nanoTime()
      val ok = try { run(fn); true } catch {
        case NonFatal(e) =>
          System.err.println(s"[bench] $name failed: ${Graft.failureLine(e)}")
          false
      }
      val dt = (System.nanoTime() - t0) / 1e9
      release()
      if (ok) dt else -dt
    }
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_(name)) }
    val results = selected.zipWithIndex.map { case ((name, fn), i) =>
      val s = sample(() => timed(name, fn))
      val what = if (s.failed) f"FAILED after ${-s.value}%.3f s"
        else f"${s.value}%.3f s (q1 ${s.q1}%.3f, q3 ${s.q3}%.3f)"
      System.err.println(s"[bench] ${i + 1}/${selected.size} $name $what")
      name -> s
    }
    val line = resultLine(sfDir, results)
    // only an UNFILTERED sf0.1 sweep is the repo artifact: a
    // GRAFT_BENCH_ONLY subset or a scale-sweep run must not clobber
    // the full-surface line a later reader takes for the whole bench
    if (only.isEmpty && isCanonicalSf(sfDir))
      try java.nio.file.Files.writeString(
        Repo.root.resolve("BENCH_FULL.json"), line + "\n")
      catch {
        case NonFatal(e) => // the checkout may be read-only
          System.err.println(s"[bench] BENCH_FULL.json write failed: ${Graft.failureLine(e)}")
      }
    println(line)
    spark.stop()
  }
}
