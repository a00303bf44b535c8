package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.dms.DocStore
import graft.functions.Metadata

/** `docstore_mixed`: the paper's own traffic against [[DocStore]] on a
  * fresh store. The store starts from the sf0.1 `documents` text spread
  * over seeded filenames, several versions each. Operations come in
  * blocks of 20 with a fixed mix, 16 reads and 4 writes, shuffled by the
  * run seed, and each block ends with the background cycle (compact,
  * then vacuum). Filenames are Zipf-skewed towards recently written
  * files. Every read is checked against an in-memory model of the store
  * that the generator keeps. Set-up builds the store three times and runs
  * one untimed block; the first timed block is measurably slower without
  * it. */
final class DocStoreMixed(h: Harness) extends Workload {
  private val spark = h.spark
  private val cfg = h.cfg

  /** The model: per file, its versions in ascending order with bytes. */
  private val model = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Int, Array[Byte])]]
  /** Live files, most recently written first. */
  private val recency = mutable.ArrayBuffer.empty[String]
  private var store: DocStore = _
  private var root: String = _

  private val corpus: IndexedSeq[String] =
    spark.read.parquet(s"${cfg.sfDir}/documents.parquet").orderBy(col("doc_id"))
      .select("text").collect().map(_.getString(0)).toIndexedSeq
  private val vocab: IndexedSeq[String] =
    corpus.iterator.flatMap(DocStoreMixed.tokens).toSet.toIndexedSeq.sorted

  private val Dirs = IndexedSeq("contracts", "reports", "notes", "specs", "logs")
  private val Exts = IndexedSeq("txt", "md", "csv", "json")
  private val rng = new Random(cfg.seed)

  private def build(dir: String): (DocStore, Seq[(String, Array[Byte])]) = {
    val r = new Random(cfg.seed)
    val nFiles = math.max(1, corpus.length / 4)
    val names = (0 until nFiles).map(i =>
      s"${Dirs(r.nextInt(Dirs.length))}/${vocab(r.nextInt(vocab.length))}_$i.${Exts(r.nextInt(Exts.length))}")
    val docs = corpus.map(t => names(r.nextInt(nFiles)) -> t.getBytes(UTF_8))
    val schema = StructType(Seq(StructField("filename", StringType),
      StructField("content", BinaryType), StructField("seq", LongType)))
    val rows = docs.zipWithIndex.map { case ((f, b), i) => Row(f, b, i.toLong) }
    val s = new DocStore(spark, dir)
    s.uploadBatch(spark.createDataFrame(spark.sparkContext.parallelize(rows, h.cores), schema),
      new java.sql.Timestamp(0L), seqCol = Some("seq"))
    (s, docs)
  }

  /** Three builds in fresh roots; the median is the set-up time and the
    * last store serves the run. */
  def setup(): Double = {
    val times = (0 until 3).map { k =>
      val dir = s"${cfg.workDir}/store-$k"
      val t0 = System.nanoTime()
      val built = h.op("build", s"store-$k")(build(dir))(_ => None)
      val s = (System.nanoTime() - t0) / 1e9
      if (k < 2) Harness.deleteTree(dir)
      else built.foreach { case (st, docs) =>
        store = st
        root = dir
        docs.foreach { case (f, b) =>
          val vs = model.getOrElseUpdate(f, mutable.ArrayBuffer.empty)
          vs += ((vs.length + 1, b))
        }
        recency ++= docs.map(_._1).reverse.distinct
      }
      s
    }
    require(store != null, "the store could not be built")
    // warm-up: one untimed block, so the timed blocks start warm
    val t0 = System.nanoTime()
    block(-1)
    Stat.median(times).value + (System.nanoTime() - t0) / 1e9
  }

  private def block(b: Int): Unit = {
    new Random(cfg.seed * 7919 + b).shuffle(Mix).zipWithIndex.foreach {
      case (kind, i) => step(kind, b, i)
    }
    h.op("compact", s"block-$b") { store.compact(); store.vacuum(1) }(_ => None)
  }

  private def touch(f: String): Unit = {
    recency -= f
    f +=: recency
  }

  /** A live file, Zipf-skewed over recency rank (rank r has weight about
    * 1 / (r + 1)). */
  private def pick(): String = {
    val n = recency.length
    val r = math.min(n - 1, (math.pow(n + 1.0, rng.nextDouble()) - 1).toInt)
    recency(r)
  }

  private def latest(f: String): (Int, Array[Byte]) = model(f).last

  private def payload(tag: String): Array[Byte] =
    (corpus(rng.nextInt(corpus.length)) + " " + tag).getBytes(UTF_8)

  private def eq[A](what: String, got: A, want: A): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")

  /** A point lookup returns one row or none. */
  private def lookup[A](r: Option[A]): Option[A] = { h.resultRows(r.size); r }

  private val Mix: Seq[String] =
    Seq.fill(4)("latestVersion") ++ Seq.fill(4)("download") ++
      Seq.fill(2)("versions") ++ Seq.fill(2)("metadata") ++
      Seq.fill(2)("scanRegex") ++ Seq.fill(2)("search") ++
      Seq.fill(2)("upload") ++ Seq("update", "delete")

  private def step(kind: String, block: Int, i: Int): Unit = kind match {
    case "latestVersion" =>
      val f = pick()
      val want = latest(f)._1
      h.op(kind, f)(lookup(store.latestVersion(f)))(v => eq("latest version", v, Some(want)))
    case "download" =>
      val f = pick()
      val want = latest(f)._2
      h.op(kind, f)(lookup(store.download(f))) { b =>
        if (b.exists(java.util.Arrays.equals(_, want))) None
        else Some(s"download bytes differ (${b.map(_.length)} vs ${want.length})")
      }
    case "versions" =>
      val f = pick()
      val want = model(f).map(_._1).toSeq
      h.op(kind, f) {
        val v = store.versions(f); h.resultRows(v.length); v
      }(v => eq("versions", v, want))
    case "metadata" =>
      val f = pick()
      val (v, b) = model(f)(rng.nextInt(model(f).length))
      val want = Metadata.sniff(b)
      h.op(kind, s"$f@$v")(lookup(store.metadata(f, v)))(m => eq("metadata", m, Some(want)))
    case "scanRegex" =>
      val pattern = rng.nextInt(3) match {
        case 0 => s"^${Dirs(rng.nextInt(Dirs.length))}/"
        case 1 => s"\\.${Exts(rng.nextInt(Exts.length))}$$"
        case _ => s"/${vocab(rng.nextInt(vocab.length)).take(2)}"
      }
      val re = pattern.r.unanchored
      val want = model.iterator.filter { case (f, _) => re.matches(f) }
        .flatMap { case (f, vs) => vs.map(v => (f, v._1)) }.toSet
      h.op(kind, pattern) {
        val got = store.scanRegex(pattern).select("filename", "version").collect()
          .map(r => (r.getString(0), r.getInt(1))).toSet
        h.resultRows(got.size)
        got
      }(got => if (got == want) None else Some(s"regex hits: got ${got.size}, want ${want.size}"))
    case "search" =>
      val terms = Seq.fill(1 + rng.nextInt(2))(vocab(rng.nextInt(vocab.length))).distinct
      val matching = model.iterator.filter { case (_, vs) =>
        val t = DocStoreMixed.tokens(new String(vs.last._2, UTF_8)).toSet
        terms.exists(t)
      }.map { case (f, vs) => (f, vs.last._1) }.toSet
      h.op(kind, terms.mkString(" ")) {
        val hits = store.search(terms.mkString(" "), 10).select("filename", "version").collect()
          .map(r => (r.getString(0), r.getInt(1))).toSeq
        h.resultRows(hits.length)
        hits
      } { hits =>
        val stray = hits.filterNot(matching)
        if (stray.nonEmpty) Some(s"search hit not a live matching latest version: ${stray.head}")
        else eq("search hit count", hits.length, math.min(10, matching.size))
      }
    case "upload" =>
      val f =
        if (rng.nextBoolean()) s"${Dirs(rng.nextInt(Dirs.length))}/new_b${block}_$i.${Exts(rng.nextInt(Exts.length))}"
        else pick()
      val bytes = payload(s"rev${block}x$i")
      val vs = model.getOrElseUpdate(f, mutable.ArrayBuffer.empty)
      val want = vs.lastOption.map(_._1).getOrElse(0) + 1
      vs += ((want, bytes))
      touch(f)
      h.op(kind, f) { h.userBytes(bytes.length); store.upload(f, bytes) }(v => eq("version", v, want))
    case "update" =>
      val f = pick()
      val bytes = payload(s"upd${block}x$i")
      val vs = model(f)
      vs(vs.length - 1) = (vs.last._1, bytes)
      touch(f)
      h.op(kind, f) { h.userBytes(bytes.length); store.update(f, bytes) }(ok => eq("updated", ok, true))
    case "delete" =>
      val f = pick()
      val vs = model(f)
      val (v, _) = vs(rng.nextInt(vs.length))
      vs.filterInPlace(_._1 != v)
      if (vs.isEmpty) { model -= f; recency -= f }
      h.op(kind, s"$f@$v")(store.delete(f, v))(_ => None)
  }

  def timed(): Unit = h.timedUnits(unitSeconds = 5, Int.MaxValue)(block)

  def category(kind: String): Option[String] = kind match {
    case "latestVersion" | "download" | "versions" | "metadata" => Some("read")
    case "scanRegex" | "search" => Some("scan")
    case "upload" => Some("write")
    case "update" | "delete" | "compact" => Some("rewrite")
    case _ => None
  }

  def finish(): Map[String, Stat] = {
    if (cfg.plantWrong) {
      // a wrong model entry: the next read of this file must fail its check
      val f = recency.head
      val vs = model(f)
      vs(vs.length - 1) = (vs.last._1 + 1, vs.last._2)
      h.op("latestVersion", f)(store.latestVersion(f))(v => eq("latest version", v, Some(latest(f)._1)))
    }
    val live = model.valuesIterator.flatMap(_.map(_._2.length.toLong)).sum
    val files = store.dataFileCount()
    val disk = Harness.diskBytes(root)
    Harness.deleteTree(root)
    val traced = h.timed.filter(_.traced)
    val writes = traced.filter(r => category(r.kind).exists(c => c == "write" || c == "rewrite"))
    val user = writes.map(_.acc.userBytes).sum
    val lookups = traced.filter(r => category(r.kind).contains("read")).map(_.acc.filesRead.toDouble)
    Map("space_amp" -> Stat.one(disk.toDouble / live),
      "dms.files_live" -> Stat.one(files.toDouble),
      "dms.write_amp" ->
        (if (user == 0) Stat.absent else Stat.one(writes.map(_.acc.outBytes).sum.toDouble / user)),
      "dms.files_read_per_lookup" -> Stat.mean(lookups))
  }
}

object DocStoreMixed {
  /** The engine's tokenization (`Text.tokenize`): trimmed, lower-cased,
    * split on whitespace. */
  def tokens(s: String): Seq[String] =
    s.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
}
