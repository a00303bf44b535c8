package perfbench

import scala.util.Random

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.SQLExecution

import graft.queries._

/** `analytics_sf0.1`: registered queries over the sf0.1 tables into a
  * counting sink. A full pass of the registry (about 300 s on four
  * cores) does not fit a run, so every run uses one fixed sample: one
  * query per registry module, drawn with a constant seed, plus one
  * stream-backed row, so that all runs and commits measure the same
  * queries. The run seed only shuffles the order of the timed pass.
  * Set-up runs the sample once, so that the timed pass measures warm
  * queries: a first execution mostly measures code generation and JIT
  * compilation, which vary with the order of the pass. */
final class Analytics(h: Harness) extends Workload {
  private val spark = h.spark
  private val cfg = h.cfg

  private val modules = Analytics.modules
  require(modules.flatMap(_._2.map(_.name)) == Q.registry.map(_.name),
    "the module list no longer matches Q.registry")

  val sample: Seq[(String, Q)] = {
    val rng = new Random(Analytics.SampleSeed)
    val perModule = modules.map { case (m, qs) =>
      val ok = qs.filterNot(q => Analytics.FixturePinned(q.name))
      m -> ok(rng.nextInt(ok.length))
    }
    val stream = modules.flatMap { case (m, qs) =>
      qs.filter(_.name == Analytics.StreamRow).map(m -> _) }
    require(stream.nonEmpty, s"${Analytics.StreamRow} is no longer registered")
    (perModule ++ stream).distinctBy(_._2.name)
  }

  private val expected: Map[String, Long] = {
    val file = cfg.expectedRows.getOrElse(
      throw new IllegalArgumentException("analytics needs the expected row counts"))
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(file))
    val qs = Option(root.get("queries")).getOrElse(root)
    val m = qs.fieldNames().asScala.map(n => n -> qs.get(n)).collect {
      case (n, v) if v.has("rows") => n -> v.get("rows").asLong
    }.toMap
    if (cfg.plantWrong) m.updated(sample.head._2.name, m.getOrElse(sample.head._2.name, 0L) + 1)
    else m
  }

  private def run(module: String, q: Q): Unit =
    h.op("query", q.name) {
      h.subPhase("build")
      val s = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val df = q.fn(spark, cfg.sfDir)
      h.built(s, System.currentTimeMillis(), (System.nanoTime() - t0) / 1e6)
      h.subPhase("sink")
      val qe = df.queryExecution
      val n = SQLExecution.withNewExecutionId(qe, Some("perfbench sink"))(qe.toRdd.count())
      h.resultRows(n)
      n
    } { n =>
      expected.get(q.name) match {
        case None => Some(s"no expected row count for ${q.name}")
        case Some(e) if e != n => Some(s"result rows $n != expected $e")
        case _ => None
      }
    }

  val moduleOf: Map[String, String] = sample.map { case (m, q) => q.name -> m }.toMap

  def setup(): Double = {
    System.err.println(s"[perfbench] analytics sample: ${sample.map(_._2.name).mkString(" ")}")
    val t0 = System.nanoTime()
    sample.foreach { case (m, q) => run(m, q) }
    (System.nanoTime() - t0) / 1e9
  }

  def timed(): Unit = h.timedUnits(unitSeconds = 20, Int.MaxValue) { i =>
    new Random(cfg.seed * 7919 + i).shuffle(sample).foreach { case (m, q) => run(m, q) }
  }

  def category(kind: String): Option[String] = None

  def finish(): Map[String, Stat] = {
    val traced = h.timed.filter(_.traced)
    modules.map { case (m, _) =>
      s"queries.$m.s" -> Stat.mean(traced.filter(r => moduleOf.get(r.label).contains(m)).map(_.ms / 1000))
    }.toMap
  }
}

object Analytics {
  /** The registry by module, in Q.registry order. */
  def modules: Seq[(String, Seq[Q])] = Seq(
    "Relational" -> Relational.all, "Joins" -> Joins.all,
    "Aggregates" -> Aggregates.all, "TpchExtra" -> TpchExtra.all,
    "Windows" -> Windows.all, "Scalars" -> Scalars.all,
    "TextOps" -> TextOps.all, "DedupOps" -> DedupOps.all,
    "VectorOps" -> VectorOps.all, "EventOps" -> EventOps.all,
    "DmsOps" -> DmsOps.all, "SampleOps" -> SampleOps.all,
    "GraphOps" -> GraphOps.all)

  val ModuleNames: Seq[String] = modules.map(_._1)

  /** The sample's constant seed: changing it changes the benchmark. */
  val SampleSeed = 20261017L

  /** Rows whose query code reads fixtures through an absolute path into
    * one particular checkout, so they fail in any other checkout. They
    * stay out of the sample until the engine resolves fixture paths. */
  val FixturePinned: Set[String] = Set(
    "s4_csv_source", "s4_json_source", "d6_cluster_quality", "d6_ivf_assign",
    "d6_ivf_search", "d6_ann_filtered", "d6_recall_curve", "d6_diverse_topk",
    "d6_pq_assign", "d6_pq_search", "d6_ivfpq_search", "d6_ivfpq_persisted",
    "d6_ivfpq_index_incremental", "d6_ann_drift_retrain", "d5_semdedup",
    "d6_knn_graph")

  /** The registry row that runs a Structured Streaming query (to a
    * memory sink), so that the streaming layer is measured. */
  val StreamRow = "a6_heavy_hitters_stream"
}
