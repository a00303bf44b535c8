package perfbench

import scala.collection.mutable

import org.apache.spark.sql.PerfbenchBridge
import org.apache.spark.sql.SparkSession

/** Inputs of one benchmark run, all derived by the launcher. */
final case class Config(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    sfDir: String,
    repoRoot: String,
    workDir: String,
    expectedRows: Option[String],
    plantWrong: Boolean)

/** One finished operation. `phase` is setup, timed, overhead, probe or
  * check; only timed operations give latencies, every operation counts
  * as attempted. */
final case class OpRecord(id: Int, kind: String, label: String, phase: String,
    traced: Boolean, ms: Double, error: Option[String], acc: OpAcc,
    resultRows: Long)

/** The closed loop: one client thread issues an operation, waits for it,
  * checks its output outside the timed interval, then issues the next. */
final class Harness(val spark: SparkSession, val cfg: Config, val cores: Int) {
  private val sc = spark.sparkContext
  val tracer: Option[Tracer] = if (cfg.trace) Some(new Tracer(spark)) else None
  private var attached = false
  private var nextId = 0
  private var cur: OpAcc = null
  private var curRows = -1L
  val records = mutable.ArrayBuffer.empty[OpRecord]
  var phase = "setup"
  /** Traced and untraced wall of the overhead units. */
  val unitWall = mutable.ArrayBuffer.empty[(Boolean, Double)]
  /** Wall clock of the timed units, output checks and model upkeep
    * included, for `ops_per_s`. */
  var timedWallS = 0.0

  /** Job group of the running operation for a named sub-phase. */
  def subPhase(name: String): Unit =
    sc.setJobGroup(s"pb-${cur.id}-$name", s"${cur.label} $name")

  /** The running operation built its DataFrame in [start, end] (epoch
    * ms), taking `ms`. */
  def built(start: Long, end: Long, ms: Double): Unit = {
    cur.buildMs = ms
    if (attached) {
      cur.cover += ((start, end))
      tracer.foreach(_.span(Span(s"build-${cur.id}", s"op-${cur.id}", "build",
        cur.label, start, end, Map.empty)))
    }
  }

  /** User bytes the running operation wrote, for write amplification. */
  def userBytes(n: Long): Unit = cur.userBytes += n

  /** Rows the running operation returned, for `result.rows`. */
  def resultRows(n: Long): Unit = curRows = n

  private def setTracing(on: Boolean): Unit = tracer.foreach { t =>
    if (on && !attached) { PerfbenchBridge.drain(sc); t.attach(); attached = true }
    if (!on && attached) { PerfbenchBridge.drain(sc); t.detach(); attached = false }
  }

  /** Run one operation and check its output. A failure keeps its
    * exception class and first message line; only errors of the JVM
    * itself end the run. */
  def op[A](kind: String, label: String)(body: => A)(check: A => Option[String]): Option[A] = {
    nextId += 1
    val acc = new OpAcc(nextId, kind, label)
    cur = acc
    curRows = -1L
    if (attached) tracer.foreach(_.begin(acc))
    sc.setJobGroup(s"pb-${acc.id}", label)
    acc.startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res: Either[Throwable, A] = try Right(body) catch { case t: Throwable => Left(t) }
    val ms = (System.nanoTime() - t0) / 1e6
    acc.endMs = System.currentTimeMillis()
    sc.clearJobGroup()
    if (attached) {
      PerfbenchBridge.drain(sc)
      tracer.foreach { t =>
        t.finish(acc)
        t.span(Span(s"op-${acc.id}", "workload", "op", s"$kind $label",
          acc.startMs, acc.endMs, Map("jobs" -> acc.jobs.toDouble)))
      }
    }
    val error = res match {
      case Left(t) => Some(Harness.describe(t))
      case Right(a) =>
        try check(a) catch { case t: Exception => Some("check: " + Harness.describe(t)) }
    }
    records += OpRecord(acc.id, kind, label, phase, attached, ms, error, acc, curRows)
    System.err.println(f"[perfbench] op ${acc.id}%d $phase%s $kind%s $label%s $ms%.1f ms " +
      error.map("FAIL " + _).getOrElse("ok"))
    res match {
      case Left(t: VirtualMachineError) => throw t
      case _ => res.toOption
    }
  }

  /** The timed phase: `unit(i)` for i = 0 until n, where n is the run's
    * seconds over `unitSeconds` (a unit's nominal length on a 4-core box),
    * at least 1 and at most `maxUnits`. The count depends on the seconds
    * asked for, never on the speed measured, so every run of a workload
    * does the same work. A traced run times unit 0 traced, which gives the
    * per-layer numbers, then runs up to four more units untraced, traced,
    * traced, untraced (ABBA), whose walls give the tracing overhead on
    * like units. */
  def timedUnits(unitSeconds: Double, maxUnits: Int)(unit: Int => Unit): Unit = {
    phase = "timed"
    val start = System.nanoTime()
    if (cfg.trace) {
      // the last two overhead units are skipped when they would not fit
      // the run's time limit
      for (u <- 0 until math.min(5, maxUnits)
           if u < 3 || (System.nanoTime() - start) / 1e9 < Harness.OverheadBudgetS) {
        setTracing(u == 0 || u == 2 || u == 3)
        val before = records.length
        unit(u)
        if (u == 0) timedWallS = (System.nanoTime() - start) / 1e9
        else unitWall += ((attached, records.drop(before).map(_.ms).sum))
        phase = "overhead"
      }
      setTracing(false)
    } else {
      val n = math.min(maxUnits, math.max(1, math.round(cfg.seconds / unitSeconds).toInt))
      (0 until n).foreach(unit)
      timedWallS = (System.nanoTime() - start) / 1e9
    }
    phase = "check"
  }

  /** Run `body` traced after the timed phase, for a per-layer figure the
    * timed units do not reach; its operations are not timed ones. */
  def tracedProbe(body: => Unit): Unit = {
    phase = "probe"
    setTracing(true)
    try body finally { setTracing(false); phase = "check" }
  }

  def timed: Seq[OpRecord] = records.filter(_.phase == "timed").toSeq
}

object Harness {
  /** A traced run skips its last two overhead units once its timed phase
    * has lasted this long, to stay within the run's time limit. */
  val OverheadBudgetS = 50

  def describe(t: Throwable): String =
    t.getClass.getName + ": " +
      Option(t.getMessage).map(_.linesIterator.find(_.trim.nonEmpty).getOrElse("").trim)
        .getOrElse("")

  /** Bytes of every regular file under `dir`. */
  def diskBytes(dir: String): Long = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size).sum
      finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    import scala.jdk.CollectionConverters._
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(java.nio.file.Files.deleteIfExists)
      finally s.close()
    }
  }
}
