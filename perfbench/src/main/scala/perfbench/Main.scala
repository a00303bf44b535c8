package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

/** One workload: set-up (returns the seconds that go into `setup_s`
  * besides session start and input loading; a set-up repeated for a
  * steadier figure contributes its median), the timed closed loop, and
  * the checks and measurements made after it. */
trait Workload {
  def setup(): Double
  def timed(): Unit
  /** read, scan, write or rewrite, for the per-category latencies. */
  def category(kind: String): Option[String]
  def finish(): Map[String, Stat]
}

/** Runs one workload and writes `result.json` (and `spans.jsonl` when
  * traced) to the output directory. Usage:
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --sf-dir <dir> --repo <checkout> --work <dir> --out <dir>
  *   [--expected <CORRECTNESS json>] [--plant-wrong]
  * }}}
  * `--plant-wrong` corrupts one expected answer, so a run proves its
  * output checks can fail. */
object Main {
  /** Driver heap in use after full GCs. Spark frees broadcast and
    * shuffle state from a cleaner thread once their handles are
    * collected, so the collection is repeated with pauses for it. */
  def heapAfterGcMb(): Double = {
    for (_ <- 0 until 4) { System.gc(); Thread.sleep(250) }
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def main(args: Array[String]): Unit = {
    val flags = args.filter(_ == "--plant-wrong").toSet
    val kv = args.filterNot(flags).grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def arg(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val cfg = Config(
      workload = arg("workload"), seed = arg("seed").toLong, seconds = arg("seconds").toInt,
      trace = arg("trace") == "1", sfDir = arg("sf-dir"), repoRoot = arg("repo"),
      workDir = arg("work"), expectedRows = kv.get("expected"),
      plantWrong = flags("--plant-wrong"))
    val out = arg("out")
    val cores = Runtime.getRuntime.availableProcessors

    val t0 = System.nanoTime()
    val spark = graft.Graft.session(master = s"local[$cores]", shufflePartitions = cores,
      appName = "perfbench")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val h = new Harness(spark, cfg, cores)
      val w: Workload = cfg.workload match {
        case "analytics_sf0.1" => new Analytics(h)
        case "docstore_mixed" => new DocStoreMixed(h)
        case "index_merge" => new IndexMerge(h)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val loadS = (System.nanoTime() - t0) / 1e9 - sessionS
      val buildS = loadS + w.setup()
      w.timed()
      val extra = w.finish()
      val heapMb = Main.heapAfterGcMb()
      val report = new Report(h, w, sessionS, buildS, heapMb, extra)
      Files.createDirectories(Paths.get(out))
      Files.write(Paths.get(out, "result.json"), report.json.getBytes(UTF_8))
      h.tracer.foreach(t =>
        Files.write(Paths.get(out, "spans.jsonl"), Tracer.spansJsonl(t.spans.toSeq).getBytes(UTF_8)))
    } finally spark.stop()
  }
}

/** Turns the operation records into the benchmark's metrics. End-to-end
  * metrics come from every timed operation; per-layer metrics from the
  * timed operations of traced units only. Per-layer counts and times are
  * per operation unless named otherwise; a layer the workload never
  * calls reads 0 with n = 0. */
final class Report(h: Harness, w: Workload, sessionS: Double, buildS: Double,
    heapMb: Double, extra: Map[String, Stat]) {
  private val timed = h.timed
  private val ok = timed.filter(_.error.isEmpty)
  private def lat(f: OpRecord => Boolean) = ok.filter(f).map(_.ms)
  private def cat(c: String)(r: OpRecord) = w.category(r.kind).contains(c)
  private val attempted = h.records.length
  private val failures = h.records.filter(_.error.nonEmpty)

  val endToEnd: Seq[(String, Stat)] = {
    val rewrite = lat(cat("rewrite"))
    Seq(
      "setup_s" -> Stat.one(sessionS + buildS),
      "ops_per_s" ->
        Stat(if (h.timedWallS > 0) ok.length / h.timedWallS else 0.0, ok.length, 0, 0),
      "op_p50_ms" -> Stat.median(lat(_ => true)),
      "op_p95_ms" -> Stat.pct(lat(_ => true), 0.95),
      "failed_frac" -> Stat(failures.length.toDouble / attempted, attempted, 0, 0),
      "driver_heap_mb" -> Stat.one(heapMb),
      "read_p50_ms" -> Stat.median(lat(cat("read"))),
      "read_p95_ms" -> Stat.pct(lat(cat("read")), 0.95),
      "scan_p50_ms" -> Stat.median(lat(cat("scan"))),
      "write_p50_ms" -> Stat.median(lat(cat("write"))),
      "write_p95_ms" -> Stat.pct(lat(cat("write")), 0.95),
      "rewrite_p50_ms" -> Stat.median(rewrite)
    ) ++ extra.get("space_amp").map("space_amp" -> _)
  }

  private val traced = timed.filter(_.traced)
  private val accs = traced.map(_.acc)
  private def perOp(f: OpAcc => Double) = Stat.mean(accs.map(f))
  private def ratio(a: Double, b: Double) = if (b > 0) Stat.one(a / b) else Stat.absent
  private def kindMs(kind: String) = Stat.median(traced.filter(r => r.kind == kind && r.error.isEmpty).map(_.ms))

  val coverage: Seq[(OpRecord, Double)] =
    traced.map(r => r -> Tracer.coverage(r.acc.startMs, r.acc.endMs, r.acc.cover.toSeq))

  val perLayer: Seq[(String, Stat)] = {
    val (jobSum, jobBusy) = accs.map(a => Tracer.overlap(a.jobSpans.toSeq))
      .foldLeft((0.0, 0.0)) { case ((s, b), (x, y)) => (s + x, b + y) }
    val withRows = traced.filter(_.resultRows >= 0)
    val (tw, uw) = h.unitWall.partition(_._1)
    def meanWall(xs: Seq[(Boolean, Double)]) = xs.map(_._2).sum / math.max(1, xs.length)
    val isQuery = traced.exists(_.kind == "query")
    Seq(
      "Graft.session_ms" -> Stat.one(sessionS * 1000),
      "queries.build_ms" -> (if (isQuery) perOp(_.buildMs) else Stat.absent),
      "queries.build_jobs" -> (if (isQuery) perOp(_.buildJobs.toDouble) else Stat.absent)
    ) ++ Analytics.ModuleNames
      .map(m => s"queries.$m.s" -> extra.getOrElse(s"queries.$m.s", Stat.absent)) ++ Seq(
      "plans.analysis_ms" -> perOp(_.analysisMs),
      "plans.optimizer_ms" -> perOp(_.optimizerMs),
      "plans.planning_ms" -> perOp(_.planningMs),
      "plans.query_executions" -> perOp(_.qes.toDouble),
      "exec.jobs" -> perOp(_.jobs.toDouble),
      "exec.stages" -> perOp(_.stages.toDouble),
      "exec.tasks" -> perOp(_.tasks.toDouble),
      "exec.task_wait_ms" -> ratio(accs.map(_.taskWaitMs).sum, accs.map(_.tasks).sum.toDouble),
      "exec.deser_ms" -> perOp(_.deserMs),
      "exec.task_run_ms" -> perOp(_.runMs),
      "exec.task_cpu_ms" -> perOp(_.cpuMs),
      "exec.gc_ms" -> perOp(_.gcMs),
      "exec.util" -> ratio(accs.map(_.runMs).sum, traced.map(_.ms).sum * h.cores),
      "sources.scan_rows" -> perOp(_.scanRows.toDouble),
      "sources.scan_bytes" -> perOp(_.scanBytes.toDouble),
      "sources.files_read" -> perOp(_.filesRead.toDouble),
      "sources.rows_per_result" ->
        ratio(withRows.map(_.acc.scanRows).sum.toDouble, withRows.map(_.resultRows).sum.toDouble),
      "shuffle.write_bytes" -> perOp(_.shuffleWrite.toDouble),
      "shuffle.read_bytes" -> perOp(_.shuffleRead.toDouble),
      "shuffle.fetch_wait_ms" -> perOp(_.fetchWaitMs),
      "shuffle.spill_bytes" -> perOp(_.spill.toDouble),
      "result.rows" -> Stat.mean(withRows.map(_.resultRows.toDouble)),
      "Par.job_overlap" -> ratio(jobSum, jobBusy)
    ) ++ Seq("upload", "latestVersion", "download", "versions", "metadata", "scanRegex",
      "search", "update", "delete", "compact").map(k => s"dms.${k}_ms" -> kindMs(k)) ++ Seq(
      "dms.write_amp" -> extra.getOrElse("dms.write_amp", Stat.absent),
      "dms.files_live" -> extra.getOrElse("dms.files_live", Stat.absent),
      "dms.files_read_per_lookup" -> extra.getOrElse("dms.files_read_per_lookup", Stat.absent),
      "TextIndex.merge_ms" -> kindMs("TextIndex.mergeBatch"),
      "AnnIndex.merge_ms" -> kindMs("AnnIndex.mergeBatch"),
      "SketchCbo.merge_ms" -> kindMs("SketchCbo.mergeBatch"),
      "index.write_amp_b1" -> extra.getOrElse("index.write_amp_b1", Stat.absent),
      "index.write_amp_b4" -> extra.getOrElse("index.write_amp_b4", Stat.absent),
      "index.write_amp_b16" -> extra.getOrElse("index.write_amp_b16", Stat.absent),
      "TextIndex.bm25_ms" -> kindMs("TextIndex.bm25"),
      "AnnIndex.search_ms" -> kindMs("AnnIndex.ivfpqSearch"),
      "SketchCbo.plan_ms" -> kindMs("SketchCbo.planFromSketches"),
      "streaming.batches" -> perOp(_.streamBatches.toDouble),
      "streaming.batch_ms" -> Stat.median(accs.flatMap(_.streamBatchMs)),
      "trace.overhead" -> (if (tw.isEmpty || uw.isEmpty) Stat.absent
                           else Stat.one(meanWall(tw.toSeq) / meanWall(uw.toSeq))),
      "trace.coverage" -> Stat.mean(coverage.map(_._2)),
      "trace.unattributed_task_ms" -> Stat.one(h.tracer.map(_.unattributedTaskMs).getOrElse(0.0))
    )
  }

  private def box: Seq[(String, Any)] = {
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    Seq("nproc" -> h.cores, "ram_gb" -> os.getTotalMemorySize / 1073741824.0,
      "spark_master" -> h.spark.sparkContext.master,
      "jdk" -> System.getProperty("java.version"),
      "spark_version" -> h.spark.version,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0)
  }

  def json: String = Json.write(Map(
    "workload" -> h.cfg.workload, "seed" -> h.cfg.seed, "seconds" -> h.cfg.seconds,
    "trace" -> h.cfg.trace, "box" -> box.toMap,
    "attempted" -> attempted, "failed" -> failures.length,
    "failures" -> failures.map(r => Map("op" -> r.id, "kind" -> r.kind, "label" -> r.label,
      "phase" -> r.phase, "error" -> r.error.getOrElse(""))),
    "ops" -> h.records.map(r => Seq(r.phase, r.kind, r.label, r.ms)),
    "result_rows" -> h.records.filter(_.resultRows >= 0).map(r => Seq(r.label, r.resultRows)),
    "coverage_gaps" -> coverage.filter(_._2 < 0.9).map { case (r, c) =>
      Map("op" -> r.id, "label" -> r.label, "ms" -> r.ms, "coverage" -> c) },
    "end_to_end" -> endToEnd.toMap,
    "per_layer" -> (if (h.cfg.trace) perLayer.toMap else Map.empty[String, Stat])))
}
