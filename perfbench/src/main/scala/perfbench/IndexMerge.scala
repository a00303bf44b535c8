package perfbench

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.{AnnIndex, TextIndex}
import graft.plans.SketchCbo

/** `index_merge`: the index lifecycle. TextIndex, AnnIndex and SketchCbo
  * indexes are built on a seeded half of the sf0.1 `documents`,
  * `embeddings` and `orders`; the other half arrives as 16 seeded
  * batches, each folded in by every family's `mergeBatch` (text batches
  * also replace some base documents). Between batches the run queries
  * the merged indexes. After the last batch, the merged indexes must
  * answer exactly as indexes written fresh over the same corpus. */
final class IndexMerge(h: Harness) extends Workload {
  private val spark = h.spark
  private val cfg = h.cfg
  private val seed = cfg.seed
  val Batches = 16

  private val docs = spark.read.parquet(s"${cfg.sfDir}/documents.parquet")
    .select(col("doc_id"), col("text"))
  private val emb = spark.read.parquet(s"${cfg.sfDir}/embeddings.parquet")
    .select(col("vec_id"), col("embedding"))
  private val orders = spark.read.parquet(s"${cfg.sfDir}/orders.parquet")
    .select(col("o_orderkey"), col("o_custkey").as("custkey"))
  private val customer = spark.read.parquet(s"${cfg.sfDir}/customer.parquet")
    .select(col("c_custkey").as("custkey"))
  private val ivfCents = spark.read.parquet(s"${cfg.repoRoot}/fixtures/ivf_centroids.parquet")
  private val pqCents = spark.read.parquet(s"${cfg.repoRoot}/fixtures/pq_centroids.parquet")

  /** 0 for the base split, else the batch (1 to 16) a row arrives in. */
  private def batchOf(id: Column): Column = {
    val g = pmod(xxhash64(lit(seed), id), lit(2L * Batches))
    when(g < Batches, lit(0)).otherwise(g - Batches + 1)
  }
  /** The batch that replaces a base document's text, if any. */
  private def replacedIn(id: Column): Column =
    pmod(xxhash64(lit(seed + 1), id), lit(4L * Batches)) + 1

  private def docsAt(b: Int): DataFrame = {
    val d = docs.filter(batchOf(col("doc_id")) <= b)
    d.select(col("doc_id"),
      when(batchOf(col("doc_id")) === 0 && replacedIn(col("doc_id")) <= b,
        concat(col("text"), lit(" merged"), replacedIn(col("doc_id")).cast("string")))
        .otherwise(col("text")).as("text"))
  }
  private def docBatch(b: Int): DataFrame =
    docs.filter(batchOf(col("doc_id")) === b)
      .unionByName(docs.filter(batchOf(col("doc_id")) === 0 && replacedIn(col("doc_id")) === b)
        .select(col("doc_id"), concat(col("text"), lit(s" merged$b")).as("text")))
  private def embAt(b: Int) = emb.filter(batchOf(col("vec_id")) <= b)
  private def ordersAt(b: Int) = orders.filter(batchOf(col("o_orderkey")) <= b)

  private var root: String = _
  private def text = s"$root/text"
  private def ann = s"$root/ann"
  private def cboF = s"$root/cbo_orders"
  private def cboD = s"$root/cbo_customer"

  private lazy val vocab: IndexedSeq[String] = docs.select("text").collect()
    .iterator.flatMap(r => DocStoreMixed.tokens(r.getString(0))).toSet.toIndexedSeq.sorted
  private val rng = new Random(seed)
  private var done = 0

  /** The indexes mergeBatch folds into, at batch `b`'s content. */
  private def writeAll(dir: String, b: Int): Unit = {
    TextIndex.writeIndex(docsAt(b), s"$dir/text")
    AnnIndex.writeIndex(embAt(b), ivfCents, pqCents, s"$dir/ann")
    SketchCbo.writeSketch(ordersAt(b), col("custkey"), s"$dir/cbo_orders")
  }

  /** One build of the base indexes, which serves the run. The check
    * after the timed phase writes them once more, so a second set-up
    * build would not fit the run's time. */
  def setup(): Double = {
    root = s"${cfg.workDir}/index"
    val t0 = System.nanoTime()
    h.op("build", "index") {
      writeAll(root, 0)
      SketchCbo.writeSketch(customer, col("custkey"), cboD)
    }(_ => None)
    (System.nanoTime() - t0) / 1e9
  }

  private def bm25(path: String, terms: Seq[String]): Seq[Row] =
    TextIndex.bm25(spark, path, terms).collect().toSeq

  private def queryVecs(b: Int, n: Int): DataFrame = {
    val ids = embAt(b).select("vec_id").orderBy(xxhash64(lit(seed + b), col("vec_id")))
      .limit(n)
    emb.join(ids, "vec_id").select(col("vec_id").as("q_id"), col("embedding").as("qe"))
  }

  private def ivfpq(path: String, b: Int): Seq[Row] =
    AnnIndex.ivfpqSearch(spark, path, queryVecs(b, 4), embAt(b))
      .select("q_id", "rn", "vec_id").orderBy("q_id", "rn").collect().toSeq

  private def terms(): Seq[String] = Seq.fill(2 + rng.nextInt(2))(vocab(rng.nextInt(vocab.length)))

  /** Fold batch `b` into the indexes under `dir` with each family's
    * mergeBatch. */
  private def merge(dir: String, b: Int): Unit = {
    h.op("TextIndex.mergeBatch", s"batch-$b")(
      TextIndex.mergeBatch(spark, s"$dir/text", docBatch(b)))(_ => None)
    h.op("AnnIndex.mergeBatch", s"batch-$b")(
      AnnIndex.mergeBatch(spark, s"$dir/ann", emb.filter(batchOf(col("vec_id")) === b)))(_ => None)
    h.op("SketchCbo.mergeBatch", s"batch-$b")(SketchCbo.mergeBatch(spark, s"$dir/cbo_orders",
      orders.filter(batchOf(col("o_orderkey")) === b), col("custkey")))(_ => None)
  }

  /** A unit, one batch's three merges and three queries, takes about
    * 9 s on four cores. */
  def timed(): Unit = h.timedUnits(unitSeconds = 9, Batches) { i =>
    val b = i + 1
    merge(root, b)
    done = b
    val t = terms()
    h.op("TextIndex.bm25", t.mkString(" ")) {
      val r = bm25(text, t); h.resultRows(r.length); r
    }(_ => None)
    h.op("AnnIndex.ivfpqSearch", s"batch-$b") {
      val r = ivfpq(ann, b); h.resultRows(r.length); r
    }(r => if (r.nonEmpty) None else Some("no neighbours"))
    h.op("SketchCbo.planFromSketches", s"batch-$b") {
      SketchCbo.planFromSketches(ordersAt(b), customer, "custkey",
        spark.read.parquet(cboF), spark.read.parquet(cboD)).est
    }(e => if (e.strategy == "broadcast") None else Some(s"strategy ${e.strategy}"))
  }

  def category(kind: String): Option[String] = kind match {
    case k if k.endsWith(".mergeBatch") => Some("write")
    case "TextIndex.bm25" | "AnnIndex.ivfpqSearch" | "SketchCbo.planFromSketches" => Some("read")
    case _ => None
  }

  /** Bytes of user data: UTF-8 text plus an 8-byte id per document,
    * 4 bytes per float plus an id per vector, two 8-byte keys per order.
    * `space_amp` counts documents and vectors only: the order sketches
    * are fixed-size synopses, not an index of the rows. */
  private def userBytes(d: DataFrame, e: DataFrame, o: DataFrame): Long = {
    val t = d.agg(coalesce(sum(octet_length(col("text")) + 8), lit(0L))).head().getLong(0)
    val v = e.agg(coalesce(sum(size(col("embedding")) * 4 + 8), lit(0L))).head().getLong(0)
    t + v + o.count() * 16
  }

  def batchBytes(b: Int): Long =
    userBytes(docBatch(b), emb.filter(batchOf(col("vec_id")) === b),
      orders.filter(batchOf(col("o_orderkey")) === b))

  /** A traced run folds in only the first few batches. For batch 16 it
    * writes the indexes fresh at the content they hold after batch 15,
    * then merges batch 16 into them, traced. Every family's merge
    * rewrites whole relations, so what a merge writes follows the
    * index's content, not the merges that built it. */
  private def probeLastBatch(): Unit = if (cfg.trace && done < Batches) {
    val dir = s"${cfg.workDir}/probe"
    h.op("build", s"index at batch ${Batches - 1}")(writeAll(dir, Batches - 1))(_ => None)
    h.tracedProbe(merge(dir, Batches))
    Harness.deleteTree(dir)
  }

  /** Bytes the three merges of batch N wrote per user byte of the batch,
    * at N = 1, 4 and 16, where that batch was traced. */
  private def writeAmp(): Map[String, Stat] = Seq(1, 4, 16).map { n =>
    val merges = h.records.filter(r => r.traced && r.label == s"batch-$n" && r.kind.endsWith(".mergeBatch"))
    s"index.write_amp_b$n" ->
      (if (merges.length < 3) Stat.absent
       else Stat.one(merges.map(_.acc.outBytes).sum.toDouble / batchBytes(n)))
  }.toMap

  def finish(): Map[String, Stat] = {
    probeLastBatch()
    val fresh = s"${cfg.workDir}/fresh"
    val b = done
    h.op("check", "fresh writeIndex")(writeAll(fresh, b))(_ => None)
    val queries = Seq.fill(2)(terms())
    h.op("check", "bm25 merged = fresh")(queries.map(q => (bm25(text, q), bm25(fresh + "/text", q)))) { rs =>
      val pairs = if (cfg.plantWrong) rs.map { case (m, f) => (m.drop(1), f) } else rs
      pairs.collectFirst { case (m, f) if m != f => s"bm25 top-k differs: ${m.take(2)} vs ${f.take(2)}" }
    }
    h.op("check", "ivfpq merged = fresh")((ivfpq(ann, b), ivfpq(fresh + "/ann", b))) {
      case (m, f) => if (m == f) None else Some(s"ivfpq top-k differs: ${m.take(2)} vs ${f.take(2)}")
    }
    h.op("check", "sketch merged = fresh")(
      (SketchCbo.toCells(spark.read.parquet(cboF)), SketchCbo.toCells(spark.read.parquet(s"$fresh/cbo_orders")))) {
      case (m, f) => if (m.zip(f).forall { case (x, y) => x.sameElements(y) }) None else Some("sketch cells differ")
    }
    val live = userBytes(docsAt(b), embAt(b), orders.limit(0))
    val disk = Harness.diskBytes(root)
    Harness.deleteTree(fresh)
    Harness.deleteTree(root)
    Map("space_amp" -> Stat.one(disk.toDouble / live)) ++ writeAmp()
  }
}
