package graft.dms

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.collection.immutable.TreeMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.{Metadata, Text}
import graft.Materialize.{Barrier, CutSyntax}

/** The DMS facade: every public entry point of the reference's `DMS`
  * class (src/DMS.py), re-expressed Spark-natively over a parquet-backed
  * versioned document store. A reference user can switch 1:1:
  *
  * | reference (src/DMS.py)            | here                     |
  * |-----------------------------------|--------------------------|
  * | upload(file)            :94-172   | [[upload]]               |
  * | download(file)          :174-200  | [[download]]             |
  * | update(file)            :202-277  | [[update]] (bugs fixed)  |
  * | delete(file, version)   :279-311  | [[delete]]               |
  * | get_file_meta_data(f,v) :313-331  | [[metadata]]             |
  * | get_file_content(f,v)   :333-343  | [[content]]              |
  * | search(text)            :345-356  | [[search]]               |
  * | get_all_file()          :358-366  | [[all]] / [[scanRegex]]  |
  * | get_file_version(f)     :368-383  | [[versions]]             |
  * | get_lastest_version(f)  :385-392  | [[latestVersion]] (numeric — fixes the string-sort bug at :391) |
  * | delete_all_version(f)   :394-405  | [[deleteAllVersions]]    |
  * | delete_all()            :407-419  | [[truncate]]             |
  *
  * Storage: snapshot generations with shard-scoped copy-on-write. Data
  * lives under `root/g<N>/shard=<k>/batch=<id>/` parquet; `root/_current`
  * names the live generation. Appends add files to the live generation.
  * A rewrite (update/delete/compact/truncate) writes g<N+1> for only the
  * shards it touches, hard-links every file of the other shards of g<N>
  * into g<N+1>, then atomically flips the pointer: changing one row
  * writes one shard, not the store. Readers of an old generation are
  * unaffected, and the layout is the same manifest-pointer idea
  * production table formats use. Parquet files are never modified in
  * place, so a file shared by several generations stays valid while any
  * of them is live, and [[vacuum]] of an old generation only drops its
  * links. The store therefore needs a local filesystem that supports
  * hard links, as it already does for `_current` and [[vacuum]]. All
  * mutations are DataFrame plans (key filters, window dedup), never
  * driver-side row loops; only the single-document ingest path
  * materializes one row on the driver, which is its natural home.
  *
  * Version catalog: the driver keeps the store's keys — the reference's
  * HBase row keys `v{version}.{filename}` (DMS.py:102,114) — per shard:
  * the shard's data files, relative to the generation (so a hard-linked
  * file keeps its entry across a flip), and the `(filename, version,
  * meta)` keys they hold. It never holds content, so its size is bounded
  * by the key count: about 300 bytes per version, 1.5 MB (Spark's
  * SizeEstimator) for the 1,238 files and 5,000 versions of the
  * `docstore_mixed` store at sf0.1. Every call walks the live
  * generation's data files (no Spark job) and re-reads only the shards
  * whose file set changed since it was recorded, in one scan of
  * `filename, version, meta` collected to the driver — the store's one
  * intentional key-sized driver pull. That happens on first open, after
  * [[uploadBatch]], and after a write by another instance on the same
  * root; a partial next generation is never walked, so it never enters
  * the catalog. [[upload]], [[update]], [[delete]],
  * [[deleteAllVersions]], [[compact]] and [[truncate]] record their own
  * keys and files, and [[vacuum]] never touches the live generation, so
  * no read after them pays a refresh. [[latestVersion]], [[versions]],
  * [[metadata]], the version lookups of upload and update, and the
  * not-found case of [[content]] run no Spark job; search and the dedup
  * reports take their latest-version set from it instead of ranking the
  * store. The table [[all]] is listed once per (generation, file set).
  *
  * Fixed reference bugs (SURVEY.md §0): numeric version ordering, update
  * writing content (not the filename string), exact-filename matching
  * (regex scan is its own explicit operator), first-dot-only key parsing.
  */
object DocStore {
  /** Filename -> shard. Plain JVM String.hashCode so driver-side pruning
    * and the executor-side partition column agree by construction. Lives
    * on the (serializable-free) companion so UDF closures capture nothing
    * but the shard count. */
  def shardOf(filename: String, nShards: Int): Int =
    math.floorMod(filename.hashCode, nShards)

  private type Meta = Map[String, String]
  /** One file's catalogued versions, ascending, with their meta maps. */
  private type Versions = TreeMap[Int, Meta]

  /** One shard of the version catalog: the data files it was read from
    * and the keys they hold, by filename. */
  private final case class ShardKeys(files: Set[String], byFile: Map[String, Versions])
  private val emptyShard = ShardKeys(Set.empty, Map.empty)

  /** One rewrite of the store, described once: in `shards`, the rows keyed
    * `drop` go and the rows `add` come in. The same description filters
    * the shards' live rows and updates the catalog. */
  private final case class Rewrite(shards: Set[Int], drop: Set[(String, Int)],
      add: Seq[Row] = Nil)
}

class DocStore(spark: SparkSession, root: String, nShards: Int = 16) {
  import DocStore._

  /** Canonical schema — SURVEY.md §1.2. `hdfs_status` is the typed
    * FileStatus subset the reference writes per row (src/DMS.py:122,
    * 145-155): the dict it stored as dynamic `meta_data:*` columns lands
    * here as a real struct so length/owner/modification_time queries have
    * typed columns to hit. */
  val schema: StructType = StructType(Seq(
    StructField("filename", StringType, nullable = false),
    StructField("version", IntegerType, nullable = false),
    StructField("content", BinaryType),
    StructField("meta", MapType(StringType, StringType)),
    StructField("hdfs_status", StructType(Seq(
      StructField("length", LongType),
      StructField("owner", StringType),
      StructField("modification_time", TimestampType),
      StructField("permission", StringType)
    ))),
    StructField("ingested_at", TimestampType)
  ))

  /** A freshly ingested document row: sniffed metadata (D1) and a
    * FileStatus of byte length, JVM user, now, and default parquet-file
    * permission bits. */
  private def docRow(filename: String, version: Int, bytes: Array[Byte]): Row = {
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    Row(filename, version, bytes, Metadata.sniff(bytes),
      Row(bytes.length.toLong, System.getProperty("user.name", "spark"), now, "rw-r--r--"),
      now)
  }

  /** Filename -> shard, used BOTH as the partition column at write time
    * and driver-side to prune point lookups to one partition directory.
    * Plain JVM String.hashCode so the two sides agree by construction
    * (an executor-side hash like xxhash64 would need a driver
    * reimplementation that could drift). */
  def shardOf(filename: String): Int = DocStore.shardOf(filename, nShards)

  /** Captures only the shard count (an Int) — NOT `this`, which holds the
    * SparkSession and is not serializable (a closure over an instance
    * method would ship the whole DocStore to executors and throw
    * Task not serializable). */
  private val shardUdf = {
    val n = nShards
    udf((f: String) => DocStore.shardOf(f, n))
  }

  /** Point-lookup pruning: shard equality (a partition filter — only one
    * of nShards directories is read) plus the filename filter. */
  private def forFile(filename: String) =
    col("shard") === shardOf(filename) && col("filename") === filename

  private val rootPath = Paths.get(root)
  private val currentPtr = rootPath.resolve("_current")
  Files.createDirectories(rootPath)

  private def currentGen: Int =
    if (Files.exists(currentPtr))
      new String(Files.readAllBytes(currentPtr), StandardCharsets.UTF_8).trim.toInt
    else 0

  private def genDir(g: Int): String = s"$root/g$g"

  private def flipTo(g: Int): Unit = {
    val tmp = rootPath.resolve(s"_current.tmp$g")
    Files.write(tmp, g.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, currentPtr, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** On-disk schema: canonical columns + the two partition columns.
    * `shard` prunes point lookups; `batch` is the ingest-idempotence unit —
    * each write lands in its own batch partition, so a replayed CDC
    * micro-batch OVERWRITES its own partition (dynamic partition
    * overwrite) instead of appending duplicates. */
  private val storedSchema: StructType = schema
    .add(StructField("shard", IntegerType))
    .add(StructField("batch", StringType))

  /** The live table (empty frame with the right schema before first write).
    * Includes the `shard` partition column so filters on it prune
    * partition directories. */
  def all: DataFrame = catalog().all

  /** Generation `g`'s table, listed now. */
  private def table(g: Int): DataFrame = {
    val dir = Paths.get(genDir(g))
    if (Files.exists(dir) && closing(Files.list(dir))(_.hasNext))
      spark.read.schema(storedSchema).parquet(dir.toString)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], storedSchema)
  }

  /** Runs `f` on the paths of a `Files.list` or `Files.walk` stream and
    * closes it, so no directory handle outlives the call. */
  private def closing[A](s: java.util.stream.Stream[Path])(f: Iterator[Path] => A): A =
    try f(s.iterator().asScala) finally s.close()

  /** Committed data files of generation `g`, relative to it, by shard.
    * Spark's staging paths (`_temporary`, `.spark-staging-*`) and
    * checksum files are not data files, so a write in flight is not seen. */
  private def dataFiles(g: Int): Map[Int, Set[String]] = {
    val dir = Paths.get(genDir(g))
    if (!Files.exists(dir)) Map.empty
    else closing(Files.walk(dir, 3))(_
      .map(dir.relativize)
      .filter { p =>
        val name = p.getFileName.toString
        p.getNameCount == 3 && p.getName(0).toString.startsWith("shard=") &&
          p.getName(1).toString.startsWith("batch=") && name.endsWith(".parquet") &&
          !name.startsWith(".") && !name.startsWith("_")
      }
      .toSeq.groupMap(_.getName(0).toString.stripPrefix("shard=").toInt)(_.toString)
      .map { case (k, fs) => k -> fs.toSet })
  }

  /** The version catalog of generation `gen` (see the class doc). `all` is
    * that generation's table, listed at most once for this catalog. */
  private final class Catalog(val gen: Int, val shards: Map[Int, ShardKeys],
      listing: => DataFrame) {
    lazy val all: DataFrame = listing
    def versionsOf(filename: String): Versions =
      shards.getOrElse(shardOf(filename), emptyShard).byFile
        .getOrElse(filename, TreeMap.empty[Int, Meta])
    def latest(filename: String): Option[Int] = versionsOf(filename).lastOption.map(_._1)
    def keys: Iterator[(String, Int)] = shards.valuesIterator.flatMap(_.byFile.iterator
      .flatMap { case (f, vs) => vs.keysIterator.map(f -> _) })
    /** filename -> latest version. */
    lazy val latestKeys: Map[String, Int] = shards.valuesIterator.flatMap(_.byFile.iterator
      .map { case (f, vs) => f -> vs.lastKey }).toMap
  }

  /** Guarded by this store's lock: a stream thread may write
    * ([[graft.streaming.Streams.docStoreIngest]]) while another reads. */
  private var cat = new Catalog(-1, Map.empty, table(-1))

  /** `byFile` without the keys `drop` and with the keys `add`. */
  private def withKeys(byFile: Map[String, Versions], drop: Set[(String, Int)],
      add: Iterable[(String, Int, Meta)]): Map[String, Versions] = {
    val dropped = drop.foldLeft(byFile) { case (m, (f, v)) =>
      m.get(f).map(_ - v).fold(m)(vs => if (vs.isEmpty) m - f else m.updated(f, vs))
    }
    add.foldLeft(dropped) { case (m, (f, v, meta)) =>
      m.updated(f, m.getOrElse(f, TreeMap.empty[Int, Meta]).updated(v, meta))
    }
  }

  private def keyOf(row: Row): (String, Int, Meta) =
    (row.getString(0), row.getInt(1), row.getAs[Meta](3))

  /** The catalog of the live generation: one walk of its data files, and
    * one key scan of the shards whose file set changed since they were
    * recorded (none when this instance made every change). */
  private def catalog(): Catalog = synchronized {
    val g = currentGen
    val files = dataFiles(g)
    val stale = files.collect { case (k, fs) if !cat.shards.get(k).exists(_.files == fs) => k }.toSet
    if (g != cat.gen || stale.nonEmpty || files.size != cat.shards.size) {
      lazy val listed = table(g)
      val read = if (stale.isEmpty) Map.empty[Int, Map[String, Versions]]
        else listed.filter(col("shard").isin(stale.toSeq: _*))
          .select("shard", "filename", "version", "meta").collect()
          .groupBy(_.getInt(0)).map { case (k, rows) => k -> withKeys(Map.empty, Set.empty,
            rows.map(r => (r.getString(1), r.getInt(2), r.getMap[String, String](3).toMap))) }
      cat = new Catalog(g, files.map { case (k, fs) =>
        k -> (if (stale(k)) ShardKeys(fs, read.getOrElse(k, Map.empty)) else cat.shards(k)) }, listed)
    }
    cat
  }

  /** Installs what catalog `c` became through this instance's own write,
    * unless `c` was replaced meanwhile; the next call then re-reads
    * whatever changed. */
  private def record(c: Catalog, gen: Int, shards: Map[Int, ShardKeys]): Unit = synchronized {
    if (cat eq c) cat = new Catalog(gen, shards, table(gen))
  }

  /** `(filename, version)` is one of `keys`. */
  private def keyIn(keys: Iterable[(String, Int)]): Column =
    struct(col("filename").as("_1"), col("version").as("_2")).isin(keys.toSeq.map(typedLit(_)): _*)

  /** Copy-on-write of `r.shards` only: write generation g+1 of those shards
    * from their live rows with `r` applied, hard-link every data file of
    * the other shards of g into g+1, then flip the pointer. `r` must keep
    * each row in its shard. A crash before the flip leaves g live; the next
    * rewrite's overwrite clears the partial g+1. `c` is the catalog `r` was
    * worked out from. */
  private def rewriteShards(c: Catalog, r: Rewrite): Unit = {
    val next = c.gen + 1
    // `drop` comes from the catalog, so when it is as large as the shards'
    // catalogued keys nothing survives and the shards need not be read
    val held = r.shards.iterator.flatMap(c.shards.get).map(_.byFile.valuesIterator.map(_.size).sum).sum
    val kept = c.all.filter(col("shard").isin(r.shards.toSeq: _*))
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
      .filter(if (r.drop.size == held) lit(false) else !keyIn(r.drop))
    val rows = if (r.add.isEmpty) kept
      else kept.unionByName(spark.createDataFrame(spark.sparkContext.parallelize(r.add, 1), schema))
    rows.withColumn("shard", shardUdf(col("filename")))
      .withColumn("batch", lit(s"g$next"))
      .write.partitionBy("shard", "batch").mode("overwrite").parquet(genDir(next))
    val (from, to) = (Paths.get(genDir(c.gen)), Paths.get(genDir(next)))
    for ((k, s) <- c.shards if !r.shards(k); f <- s.files) {
      Files.createDirectories(to.resolve(f).getParent)
      Files.createLink(to.resolve(f), from.resolve(f))
    }
    flipTo(next)
    val files = dataFiles(next)
    record(c, next, c.shards -- r.shards ++ r.shards.flatMap(k => files.get(k).map(fs =>
      k -> ShardKeys(fs, withKeys(c.shards.getOrElse(k, emptyShard).byFile, r.drop, r.add.map(keyOf))))))
  }

  /** Append rows (already schema-shaped) to the live generation under a
    * fresh batch partition (no idempotence contract for ad-hoc appends).
    * Returns the batch id. */
  private def append(df: DataFrame): String = {
    val batch = "a" + java.util.UUID.randomUUID().toString
    writeBatch(df, batch, overwrite = false)
    batch
  }

  /** Write one batch partition. `overwrite = true` uses DYNAMIC partition
    * overwrite — only the (shard, batch) partitions present in `df` are
    * replaced — which is the idempotent-replay primitive: rewriting the
    * same batch id wipes any earlier (possibly partial) attempt. */
  private def writeBatch(df: DataFrame, batch: String, overwrite: Boolean): Unit = {
    val g = currentGen
    df.select(schema.fieldNames.map(col).toIndexedSeq: _*)
      .withColumn("shard", shardUdf(col("filename")))
      .withColumn("batch", lit(batch))
      .write.partitionBy("shard", "batch")
      .option("partitionOverwriteMode", "dynamic")
      .mode(if (overwrite) "overwrite" else "append")
      .parquet(genDir(g))
    if (!Files.exists(currentPtr)) flipTo(g)
  }

  /** upload: assign next version (numeric max + 1, DMS.py:113-117 minus
    * the string-sort bug) from the catalog, extract metadata (D1), append.
    * The append is recorded in the catalog when the shard's only new files
    * are its own batch directory. Returns the assigned version. */
  def upload(filename: String, bytes: Array[Byte]): Int = {
    val c = catalog()
    val next = c.latest(filename).getOrElse(0) + 1
    val row = docRow(filename, next, bytes)
    val batch = append(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(row), 1), schema))
    val k = shardOf(filename)
    val old = c.shards.getOrElse(k, emptyShard)
    val files = dataFiles(c.gen).getOrElse(k, Set.empty)
    val own = files -- old.files
    if (old.files.subsetOf(files) && own.nonEmpty &&
        own.forall(_.startsWith(s"shard=$k/batch=$batch/")))
      record(c, c.gen, c.shards.updated(k,
        ShardKeys(files, withKeys(old.byFile, Set.empty, Seq(keyOf(row))))))
    next
  }

  /** Bulk ingest: version assignment for a WHOLE batch in one plan — the
    * per-file latest (one aggregate over the store) left-joined onto the
    * batch, plus a deterministic row_number for files repeated within the
    * batch. [[upload]] is semantically this with a 1-row batch; streams
    * call it per micro-batch ([[graft.streaming.Streams.docStoreIngest]])
    * — at 100 TB this is the difference between one store aggregate per
    * BATCH and one per document. The catalog re-reads the shards it wrote
    * on its next call.
    *
    * Intra-batch ordering: a CDC micro-batch can carry several updates to
    * the same filename, and "latest version wins" must follow EVENT order,
    * not an arbitrary one. Pass the source's sequence/event-time column as
    * `seqCol` (columns named `seq` or `event_time` are picked up
    * automatically); the content hash is only the deterministic
    * tiebreaker, so retries of the same batch still assign identically.
    * Without any sequence column the hash order is all there is — fine
    * for retry-idempotence, wrong for conflicting same-file updates, so
    * CDC sources should always carry one.
    *
    * Exactly-once replay: pass the stream's micro-batch id as `batchId`.
    * The batch then lands in its OWN batch partition via dynamic
    * partition overwrite, and version assignment reads the store
    * EXCLUDING that partition — so a replay (after any crash point,
    * including mid-write) recomputes identical versions and overwrites
    * whatever the failed attempt left behind. No marker required for
    * correctness; idempotence is structural. */
  def uploadBatch(batch: DataFrame, at: java.sql.Timestamp,
      seqCol: Option[String] = None, batchId: Option[String] = None): Unit = {
    val seq = seqCol.orElse(Seq("seq", "event_time").find(batch.columns.contains))
    seq.foreach(c => require(batch.columns.contains(c),
      s"uploadBatch: sequence column '$c' not in batch schema"))
    val ord = seq.map(c => col(c).asc).toSeq :+ xxhash64(col("content")).asc
    // a replayed batch must not see its own earlier (possibly partial)
    // rows when computing the per-file latest, or versions would shift
    val stored = table(currentGen)
    val base = batchId match {
      case Some(id) => stored.filter(col("batch") =!= id)
      case None     => stored
    }
    val latest = base.groupBy(col("filename")).agg(max(col("version")).as("__cur"))
    val w = Window.partitionBy(col("filename")).orderBy(ord: _*)
    val rows = batch.select(
        (Seq(col("filename"), col("content")) ++ seq.map(col)): _*)
      .join(latest, Seq("filename"), "left")
      .withColumn("version",
        (coalesce(col("__cur"), lit(0)) + row_number().over(w)).cast("int"))
      .withColumn("meta", Metadata.sniffUdf(col("content")))
      .withColumn("hdfs_status", struct(
        length(col("content")).cast("long").as("length"),
        lit(System.getProperty("user.name", "spark")).as("owner"),
        lit(at).as("modification_time"),
        lit("rw-r--r--").as("permission")))
      .withColumn("ingested_at", lit(at))
    batchId match {
      // Barrier, not Shared: the replay write dynamic-partition-
      // OVERWRITES the very store root `rows`'s lineage reads (via
      // `stored`/`latest`), so the cut must sever eagerly in reliable mode
      // too — a lazy persist leaves the read-path in the plan and Spark
      // refuses the overwrite (MaterializeSpec pins this under the flag)
      case Some(id) => writeBatch(rows.cut(Barrier), id, overwrite = true)
      case None     => append(rows)
    }
  }

  /** download: content of the latest (or given) version — the catalog's
    * latest version, then one shard-pruned content read. */
  def download(filename: String, version: Option[Int] = None): Option[Array[Byte]] = {
    val c = catalog()
    version.orElse(c.latest(filename)).flatMap(contentOf(c, filename, _))
  }

  /** update: replace the latest version's content in place (the reference
    * meant to do this and instead wrote the filename string and crashed
    * on an undefined variable — DMS.py:225,228). */
  def update(filename: String, bytes: Array[Byte]): Boolean = {
    val c = catalog()
    c.latest(filename) match {
      case None => false
      case Some(v) =>
        rewriteShards(c, Rewrite(Set(shardOf(filename)), Set(filename -> v),
          Seq(docRow(filename, v, bytes))))
        true
    }
  }

  /** delete one (filename, version) — a key-filter rewrite of its shard
    * (S8). A key the catalog does not hold writes nothing. */
  def delete(filename: String, version: Int): Unit = {
    val c = catalog()
    if (c.versionsOf(filename).contains(version))
      rewriteShards(c, Rewrite(Set(shardOf(filename)), Set(filename -> version)))
  }

  /** delete every version of a file. Exact filename equality — the
    * reference's unanchored-regex match (DMS.py:373) also deleted
    * `bad-a.txt` when asked for `a.txt`. A file the catalog does not hold
    * writes nothing. */
  def deleteAllVersions(filename: String): Unit = {
    val c = catalog()
    val drop = c.versionsOf(filename).keysIterator.map(filename -> _).toSet
    if (drop.nonEmpty) rewriteShards(c, Rewrite(Set(shardOf(filename)), drop))
  }

  /** delete_all: truncate to an empty generation. */
  def truncate(): Unit = {
    val c = catalog()
    rewriteShards(c, Rewrite((0 until nShards).toSet, c.keys.toSet))
  }

  /** Latest version per file, numeric (A1/W1), from the catalog. */
  def latestVersions: DataFrame = {
    import spark.implicits._
    catalog().latestKeys.toSeq.toDF("filename", "version")
  }

  /** Compaction: rewrite each shard that holds more than one batch
    * partition into one densely-packed partition, in a fresh generation
    * (each CDC micro-batch and ad-hoc append is its own directory — the
    * price of structurally idempotent replay). Shards with one batch are
    * linked, not rewritten, and a store with no such shard gets no new
    * generation. The maintenance pass every log-structured table format
    * runs; content is byte-identical, only the file layout changes.
    * Readers in flight keep their old generation; [[vacuum]] reclaims it
    * later. */
  def compact(): Unit = {
    val c = catalog()
    val multi = c.shards.collect {
      case (k, s) if s.files.map(f => Paths.get(f).getName(1)).size > 1 => k
    }.toSet
    if (multi.nonEmpty) rewriteShards(c, Rewrite(multi, Set.empty))
  }

  /** Data files of the live generation (compaction/vacuum observability). */
  def dataFileCount(): Int = dataFiles(currentGen).valuesIterator.map(_.size).sum

  /** Garbage-collect superseded generations, keeping the live one plus
    * `keep` predecessors (time-travel/readers-in-flight window — the
    * vacuum contract of every copy-on-write table format). Never touches
    * the live generation or the indexes. Returns the deleted dirs. */
  def vacuum(keep: Int = 1): Seq[String] = {
    val live = currentGen
    val deletable = (0 until math.max(0, live - keep))
      .map(genDir).filter(d => Files.exists(Paths.get(d)))
    deletable.foreach(d =>
      closing(Files.walk(Paths.get(d)))(_.toSeq.reverse.foreach(Files.deleteIfExists(_))))
    deletable
  }

  /** Store statistics in one scan: distinct files, total versions, total
    * content bytes — the operational health check an admin runs. Two-level
    * rollup (per-file, then global) instead of count + countDistinct in
    * one aggregate, which would Expand every row 2x before the shuffle. */
  def stats(): DataFrame =
    all.select(col("filename"), length(col("content")).cast("long").as("len"))
      .groupBy(col("filename"))
      .agg(count(lit(1)).as("v"), sum(col("len")).as("b"))
      .agg(count(lit(1)).as("n_files"),
        coalesce(sum(col("v")), lit(0L)).as("n_versions"),
        coalesce(sum(col("b")), lit(0L)).as("total_bytes"))

  /** Snapshot read: every document exactly as it stood when `version` was
    * the newest write — per filename, the largest version <= `version`
    * (files first uploaded later are absent). Generalizes download's
    * point read (DMS.py:174-200) to corpus time travel; one ranking
    * window over the store, no self-join. */
  def snapshotAsOf(version: Int): DataFrame =
    all.filter(col("version") <= version)
      .withColumn("rn",
        row_number().over(Window.partitionBy(col("filename"))
          .orderBy(col("version").desc)))
      .filter(col("rn") === 1)
      .drop("rn")

  /** Numeric latest version of one file, from the catalog. */
  def latestVersion(filename: String): Option[Int] = catalog().latest(filename)

  /** All versions of one file, ascending (A2), from the catalog. */
  def versions(filename: String): Seq[Int] = catalog().versionsOf(filename).keys.toSeq

  /** Metadata map of one (filename, version), from the catalog. */
  def metadata(filename: String, version: Int): Option[Map[String, String]] =
    catalog().versionsOf(filename).get(version)

  /** Content bytes of one (filename, version) — shard-pruned; a key the
    * catalog does not hold reads nothing. */
  def content(filename: String, version: Int): Option[Array[Byte]] =
    contentOf(catalog(), filename, version)

  private def contentOf(c: Catalog, filename: String, version: Int): Option[Array[Byte]] =
    if (!c.versionsOf(filename).contains(version)) None
    else c.all.filter(forFile(filename) && col("version") === version)
      .select("content").collect().headOption.map(_.getAs[Array[Byte]](0))

  /** Regex scan over filenames — the reference's RowFilter pushdown
    * (DMS.py:363,373), kept as an explicit operator (P3). */
  def scanRegex(pattern: String): DataFrame =
    all.filter(col("filename").rlike(pattern))

  /** Latest-version rows with decoded text — the corpus that search and
    * the dedup reports read: the live table filtered to the catalog's
    * latest keys. The keys ride in the filter's closure: as an `In` list
    * of one literal per file, planning them cost more than the scan. */
  private def latestText: DataFrame = {
    val c = catalog()
    val latest = c.latestKeys
    val isLatest = udf((f: String, v: Int) => latest.get(f).contains(v))
    c.all.filter(isLatest(col("filename"), col("version")))
      .select(col("filename"), col("version"),
        decode(col("content"), "UTF-8").as("text"))
  }

  /** Full-text TF-IDF search over latest-version text content — the
    * Solr replacement (D3). Returns (filename, version, score) ranked.
    * Scores the live store in one pass per call, so it is never stale:
    * each distinct query term's tf per document is counted on the token
    * array, one global aggregate gives n_docs and each term's df, and a
    * document's score is Σ over its terms with tf > 0 of tf·log(n_docs/df).
    * Only the query's terms are counted, never the vocabulary. The
    * persisted, incrementally merged index is `TextIndex`. */
  def search(query: String, topK: Int = 10): DataFrame = {
    // tokenize the query driver-side (same semantics as Text.tokenize);
    // a repeated term counts once
    val terms = query.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.toSeq
    if (terms.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[Row], StructType(Seq(
        StructField("filename", StringType), StructField("version", IntegerType),
        StructField("score", DoubleType))))
    val tf = terms.indices.map(i => col(s"tf$i"))
    val docs = latestText
      .select(col("filename"), col("version"), Text.tokenize(col("text")).as("tokens"))
      .select(col("filename") +: col("version") +: terms.zipWithIndex.map { case (t, i) =>
        size(filter(col("tokens"), _ === t)).as(s"tf$i") }: _*)
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      tf.zipWithIndex.map { case (c, i) => count(when(c > 0, 1)).as(s"df$i") }: _*)
    // a term with tf > 0 here has df >= 1, so the division is guarded
    val score = tf.zipWithIndex.map { case (c, i) =>
      when(c > 0, c * log(col("n_docs").cast("double") / col(s"df$i"))).otherwise(0.0)
    }.reduce(_ + _)
    docs.filter(tf.map(_ > 0).reduce(_ || _))
      .crossJoin(broadcast(stats))
      .select(col("filename"), col("version"), score.as("score"))
      .orderBy(col("score").desc, col("filename").asc)
      .limit(topK)
  }

  /** Cross-file duplicated-span report over the latest-version corpus —
    * the exact-substring-dedup capability (Lee et al. 2022) as a store
    * API: how much of each file is verbatim n-gram runs shared with
    * OTHER files. Uses xxhash64 gram keys (the large-corpus mode —
    * hash-agnostic vs the oracle's md5 mode by spec). Returns
    * (filename, n_tok, n_dup_spans, dup_tokens, dup_frac) for files
    * containing at least one cross-file duplicated span. */
  def duplicatedSpanReport(n: Int = 8): DataFrame =
    graft.dedup.Dedup.duplicatedSpans(
        latestText.select(col("filename").as("doc_id"), col("text")),
        n, portableHash = false)
      .select(col("doc_id").as("filename"), col("n_tok"),
        col("n_dup_spans"), col("dup_tokens"),
        round(col("dup_tokens") / col("n_tok"), 4).as("dup_frac"))

  /** Near-duplicate FILE CLUSTERS of the latest corpus: MinHash candidate
    * pairs → connected components (transitive closure — a~b and b~c puts
    * {a,b,c} in ONE cluster even if a,c never paired). Cluster id = the
    * lexicographically first member filename; `is_keeper` marks it for
    * dedup decisions. `logStar = true` selects the diameter-proof
    * large-star/small-star variant (identical output by spec). */
  def dedupClusters(minEstJaccard: Double = 0.5,
      logStar: Boolean = false): DataFrame = {
    import graft.dedup.Dedup
    val corpus = latestText.select(col("filename").as("doc_id"), col("text"))
    val pairs = Dedup.minhashPairs(corpus, shingleWidth = 3, numHashes = 8,
      rowsPerBand = 2, minEstJaccard = minEstJaccard)
      .select(col("a"), col("b"))
    val cc = if (logStar) Dedup.connectedComponentsLogStar(pairs)
      else Dedup.connectedComponents(pairs)
    corpus.select(col("doc_id"))
      .join(cc, col("doc_id") === col("id"), "left")
      .select(col("doc_id").as("filename"),
        coalesce(col("comp"), col("doc_id")).as("cluster_id"))
      .withColumn("is_keeper", col("filename") === col("cluster_id"))
  }
}
