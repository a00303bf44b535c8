package perfbench

import java.util.IdentityHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.PerfbenchBridge
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced span: `parent` is the id of the span that caused it. */
final case class Span(id: String, parent: String, kind: String, name: String,
    start: Long, end: Long, counts: Map[String, Double])

/** What the listeners attribute to one operation. */
final class OpAcc(val id: Int, val kind: String, val label: String) {
  var startMs, endMs = 0L
  var buildMs = 0.0
  var userBytes = 0L
  var jobs, buildJobs, stages, tasks = 0L
  var taskWaitMs, deserMs, runMs, cpuMs, gcMs = 0.0
  var scanRows, scanBytes, filesRead = 0L
  var shuffleWrite, shuffleRead, spill, outBytes = 0L
  var fetchWaitMs = 0.0
  var qes = 0L
  var analysisMs, optimizerMs, planningMs = 0.0
  var streamBatches = 0L
  val streamBatchMs = mutable.ArrayBuffer.empty[Double]
  val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  val cover = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** The benchmark's tracing: a SparkListener keyed by the per-operation
  * job group the harness sets (`pb-<op>` or `pb-<op>-<phase>`), a
  * QueryExecutionListener for planning-phase times and scan metrics,
  * and a StreamingQueryListener for micro-batches. Spans stay in memory
  * until the run writes them out.
  *
  * A stream runs its jobs under its own job group (its run id); the
  * stream is bound to the operation that starts it, because
  * `onQueryStarted` runs synchronously on the starting thread. */
final class Tracer(spark: SparkSession) {
  private val ops = mutable.HashMap.empty[Int, OpAcc]
  private val jobOf = mutable.HashMap.empty[Int, (Int, String, Long, String)]
  private val stageOp = mutable.HashMap.empty[Int, (Int, Int)]
  private val stageSubmit = mutable.HashMap.empty[Int, Long]
  private val execOf = mutable.HashMap.empty[Long, (Int, Long)]
  private val streamOp = mutable.HashMap.empty[String, Int]
  private val qeExec = new IdentityHashMap[QueryExecution, java.lang.Long]()
  private val qePending = mutable.ArrayBuffer.empty[(QueryExecution, Map[String, (Long, Long)], Long)]
  val spans = mutable.ArrayBuffer.empty[Span]
  var unattributedTaskMs = 0.0
  @volatile private var current = 0

  private val Group = """pb-(\d+)(?:-(\w+))?""".r

  private def opOfGroup(g: String): Option[(Int, String)] = g match {
    case null => None
    case Group(id, phase) => Some((id.toInt, Option(phase).getOrElse("op")))
    case other => streamOp.get(other).map(_ -> "stream")
  }

  def begin(op: OpAcc): Unit = synchronized { ops(op.id) = op; current = op.id }

  def span(s: Span): Unit = synchronized { spans += s }

  /** Attribute the query executions that completed during `op` (call
    * after the listener bus is drained). */
  def finish(op: OpAcc): Unit = synchronized {
    qePending.foreach { case (qe, phases, files) =>
      val exec = Option(qeExec.get(qe)).map(_.longValue)
      val target = exec.flatMap(execOf.get).map(_._1).flatMap(ops.get).getOrElse(op)
      target.qes += 1
      target.filesRead += files
      def ph(n: String) = phases.get(n).map { case (s, e) => (e - s).toDouble }.getOrElse(0.0)
      target.analysisMs += ph("analysis")
      target.optimizerMs += ph("optimization")
      target.planningMs += ph("planning")
      val parent = exec.map(e => s"qe-$e").getOrElse(s"op-${target.id}")
      phases.foreach { case (n, (s, e)) =>
        spans += Span(s"$parent-$n", parent, "phase", n, s, e, Map.empty)
        target.cover += ((s, e))
      }
    }
    qePending.clear()
    qeExec.clear()
  }

  private def scans(p: SparkPlan): Iterator[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case s: QueryStageExec => scans(s.plan)
    case other =>
      Iterator(other) ++ other.children.iterator.flatMap(scans) ++
        other.subqueries.iterator.flatMap(scans)
  }

  private def filesOf(qe: QueryExecution): Long =
    scans(qe.executedPlan).collect { case f: FileSourceScanExec =>
      f.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum

  private def onQe(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.map { case (n, s) => n -> (s.startTimeMs, s.endTimeMs) }
    val files = filesOf(qe)
    synchronized { qePending += ((qe, phases, files)) }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = onQe(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = onQe(qe)
  }

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val props = Option(e.properties)
      opOfGroup(props.map(_.getProperty("spark.jobGroup.id")).orNull) match {
        case Some((id, phase)) if ops.contains(id) =>
          val op = ops(id)
          op.jobs += 1
          if (phase == "build") op.buildJobs += 1
          val exec = props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
          jobOf(e.jobId) = (id, phase, e.time, exec.map(x => s"qe-$x").getOrElse(s"op-$id"))
          e.stageIds.foreach(s => stageOp(s) = (id, e.jobId))
        case _ =>
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobOf.remove(e.jobId).foreach { case (id, phase, start, parent) =>
        ops.get(id).foreach { op =>
          op.jobSpans += ((start, e.time))
          op.cover += ((start, e.time))
        }
        spans += Span(s"job-${e.jobId}", parent, "job", phase, start, e.time, Map.empty)
      }
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      stageOp.get(e.stageInfo.stageId).flatMap(x => ops.get(x._1)).foreach { op =>
        op.stages += 1
        stageSubmit(e.stageInfo.stageId) =
          e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      val si = e.stageInfo
      stageOp.get(si.stageId).foreach { case (_, job) =>
        spans += Span(s"stage-${si.stageId}.${si.attemptNumber()}", s"job-$job", "stage",
          si.name, si.submissionTime.getOrElse(0L), si.completionTime.getOrElse(0L),
          Map("tasks" -> si.numTasks.toDouble))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      val op = stageOp.get(e.stageId).flatMap(x => ops.get(x._1))
      (op, m) match {
        case (None, m) => if (m != null) unattributedTaskMs += m.executorRunTime
        case (Some(_), null) =>
        case (Some(o), m) =>
          o.tasks += 1
          stageSubmit.get(e.stageId).foreach(s =>
            o.taskWaitMs += math.max(0L, e.taskInfo.launchTime - s))
          o.deserMs += m.executorDeserializeTime
          o.runMs += m.executorRunTime
          o.cpuMs += m.executorCpuTime / 1e6
          o.gcMs += m.jvmGCTime
          o.scanRows += m.inputMetrics.recordsRead
          o.scanBytes += m.inputMetrics.bytesRead
          o.outBytes += m.outputMetrics.bytesWritten
          o.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          o.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          o.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          o.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
    override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
      case e: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        opOfGroup(e.jobGroupId.orNull).filter(x => ops.contains(x._1)).foreach { case (id, _) =>
          execOf(e.executionId) = (id, e.time)
        }
      }
      case e: SparkListenerSQLExecutionEnd => Tracer.this.synchronized {
        execOf.get(e.executionId).foreach { case (id, start) =>
          Option(PerfbenchBridge.queryExecution(e)).foreach(qeExec.put(_, e.executionId))
          spans += Span(s"qe-${e.executionId}", s"op-$id", "query_execution",
            PerfbenchBridge.executionName(e).getOrElse("execution"), start, e.time, Map.empty)
          ops.get(id).foreach(_.cover += ((start, e.time)))
        }
      }
      case _ =>
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      Tracer.this.synchronized { streamOp(e.runId.toString) = current }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        streamOp.get(p.runId.toString).flatMap(ops.get).foreach { op =>
          op.streamBatches += 1
          val ms = Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0)
          op.streamBatchMs += ms
          val end = java.time.Instant.parse(p.timestamp).toEpochMilli + ms.toLong
          spans += Span(s"batch-${p.runId}-${p.batchId}", s"op-${op.id}", "stream_batch",
            p.name, end - ms.toLong, end,
            Map("rows_in" -> p.numInputRows.toDouble,
              "state_rows" -> p.stateOperators.map(_.numRowsTotal).sum.toDouble))
        }
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }
}

object Tracer {
  /** Share of [start, end] covered by the union of `iv`. */
  def coverage(start: Long, end: Long, iv: Seq[(Long, Long)]): Double = {
    if (end <= start) return 1.0
    val clipped = iv.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    clipped.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered.toDouble / (end - start)
  }

  /** Σ job durations ÷ the wall their union covers. */
  def overlap(iv: Seq[(Long, Long)]): (Double, Double) = {
    val sum = iv.map { case (s, e) => (e - s).toDouble }.sum
    if (iv.isEmpty) (0.0, 0.0)
    else {
      val lo = iv.map(_._1).min
      val hi = iv.map(_._2).max
      (sum, coverage(lo, hi, iv) * (hi - lo))
    }
  }

  def spansJsonl(spans: Seq[Span]): String = spans.map { s =>
    Json.write(Map("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
      "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
      "counts" -> s.counts))
  }.mkString("", "\n", "\n")
}
