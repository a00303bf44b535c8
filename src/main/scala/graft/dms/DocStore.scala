package graft.dms

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
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
  * mutations are DataFrame plans (anti-joins, window dedup), never
  * driver-side row loops; only the single-document ingest path
  * materializes one row on the driver, which is its natural home.
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
}

class DocStore(spark: SparkSession, root: String, nShards: Int = 16) {

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

  /** FileStatus for a fresh ingest: byte length, JVM user, now,
    * default parquet-file permission bits. */
  private def fileStatusOf(bytes: Array[Byte], at: java.sql.Timestamp): Row =
    Row(bytes.length.toLong, System.getProperty("user.name", "spark"),
      at, "rw-r--r--")

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
  def all: DataFrame = {
    val dir = Paths.get(genDir(currentGen))
    if (Files.exists(dir) && closing(Files.list(dir))(_.hasNext))
      spark.read.schema(storedSchema).parquet(dir.toString)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], storedSchema)
  }

  /** Runs `f` on the paths of a `Files.list` or `Files.walk` stream and
    * closes it, so no directory handle outlives the call. */
  private def closing[A](s: java.util.stream.Stream[Path])(f: Iterator[Path] => A): A =
    try f(s.iterator().asScala) finally s.close()

  /** The `shard=<k>` directories of generation `g`, by shard. */
  private def shardDirs(g: Int): Map[Int, Path] = {
    val dir = Paths.get(genDir(g))
    if (!Files.exists(dir)) Map.empty
    else closing(Files.list(dir))(_
      .map(p => p -> p.getFileName.toString)
      .collect { case (p, n) if n.startsWith("shard=") => n.stripPrefix("shard=").toInt -> p }
      .toMap)
  }

  /** Copy-on-write of `shards` only: write generation g+1 of those shards
    * from `f` applied to their live rows, hard-link every file of the
    * other shards of g into g+1, then flip the pointer. `f` must keep each
    * row in its shard. A crash before the flip leaves g live; the next
    * rewrite's overwrite clears the partial g+1. */
  private def rewriteShards(shards: Set[Int])(f: DataFrame => DataFrame): Unit = {
    val g = currentGen
    val next = g + 1
    val live = all.filter(col("shard").isin(shards.toSeq: _*))
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    f(live)
      .withColumn("shard", shardUdf(col("filename")))
      .withColumn("batch", lit(s"g$next"))
      .write.partitionBy("shard", "batch").mode("overwrite").parquet(genDir(next))
    val from = Paths.get(genDir(g))
    val to = Paths.get(genDir(next))
    for ((k, dir) <- shardDirs(g) if !shards(k)) closing(Files.walk(dir))(_.foreach { p =>
      val q = to.resolve(from.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.createLink(q, p)
    })
    flipTo(next)
  }

  /** Append rows (already schema-shaped) to the live generation under a
    * fresh batch partition (no idempotence contract for ad-hoc appends). */
  private def append(df: DataFrame): Unit =
    writeBatch(df, "a" + java.util.UUID.randomUUID().toString, overwrite = false)

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
    * the string-sort bug), extract metadata (D1), append. Returns the
    * assigned version. */
  def upload(filename: String, bytes: Array[Byte]): Int = {
    val next = latestVersion(filename).getOrElse(0) + 1
    val meta = Metadata.sniff(bytes)
    val now = new java.sql.Timestamp(System.currentTimeMillis())
    val row = Row(filename, next, bytes, meta, fileStatusOf(bytes, now), now)
    append(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(row), 1), schema))
    next
  }

  /** Bulk ingest: version assignment for a WHOLE batch in one plan — the
    * per-file latest (one aggregate over the store) left-joined onto the
    * batch, plus a deterministic row_number for files repeated within the
    * batch. [[upload]] is semantically this with a 1-row batch; streams
    * call it per micro-batch ([[graft.streaming.Streams.docStoreIngest]])
    * — at 100 TB this is the difference between one store aggregate per
    * BATCH and one per document.
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
    val base = batchId match {
      case Some(id) => all.filter(col("batch") =!= id)
      case None     => all
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
      // `all`/`latest`), so the cut must sever eagerly in reliable mode
      // too — a lazy persist leaves the read-path in the plan and Spark
      // refuses the overwrite (MaterializeSpec pins this under the flag)
      case Some(id) => writeBatch(rows.cut(Barrier), id, overwrite = true)
      case None     => append(rows)
    }
  }

  /** download: content of the latest (or given) version. The latest is
    * one shard-pruned top-1 query, not a version lookup then a read. */
  def download(filename: String, version: Option[Int] = None): Option[Array[Byte]] =
    version match {
      case Some(v) => content(filename, v)
      case None =>
        all.filter(forFile(filename)).orderBy(col("version").desc).limit(1)
          .select("content").collect().headOption.map(_.getAs[Array[Byte]](0))
    }

  /** update: replace the latest version's content in place (the reference
    * meant to do this and instead wrote the filename string and crashed
    * on an undefined variable — DMS.py:225,228). */
  def update(filename: String, bytes: Array[Byte]): Boolean =
    latestVersion(filename) match {
      case None => false
      case Some(v) =>
        val meta = Metadata.sniff(bytes)
        val now = new java.sql.Timestamp(System.currentTimeMillis())
        val replacement = spark.createDataFrame(
          spark.sparkContext.parallelize(
            Seq(Row(filename, v, bytes, meta, fileStatusOf(bytes, now), now)), 1), schema)
        rewriteShards(Set(shardOf(filename)))(
          _.filter(!(col("filename") === filename && col("version") === v))
            .unionByName(replacement))
        true
    }

  /** delete one (filename, version) — anti-join rewrite of its shard (S8). */
  def delete(filename: String, version: Int): Unit =
    rewriteShards(Set(shardOf(filename)))(
      _.filter(!(col("filename") === filename && col("version") === version)))

  /** delete every version of a file. Exact filename equality — the
    * reference's unanchored-regex match (DMS.py:373) also deleted
    * `bad-a.txt` when asked for `a.txt`. */
  def deleteAllVersions(filename: String): Unit =
    rewriteShards(Set(shardOf(filename)))(_.filter(col("filename") =!= filename))

  /** delete_all: truncate to an empty generation. */
  def truncate(): Unit =
    rewriteShards((0 until nShards).toSet)(_.filter(lit(false)))

  /** Latest version per file, numeric (A1/W1). */
  def latestVersions: DataFrame =
    all.groupBy(col("filename")).agg(max(col("version")).as("version"))

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
    val multi = shardDirs(currentGen).collect {
      case (k, dir) if closing(Files.list(dir))(
        _.count(_.getFileName.toString.startsWith("batch=")) > 1) => k
    }.toSet
    if (multi.nonEmpty) rewriteShards(multi)(identity)
  }

  /** Data files of the live generation (compaction/vacuum observability). */
  def dataFileCount(): Int = {
    val dir = Paths.get(genDir(currentGen))
    if (!Files.exists(dir)) 0
    else closing(Files.walk(dir))(_.count(_.getFileName.toString.endsWith(".parquet")))
  }

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

  /** Numeric latest version of one file (shard-pruned point lookup). */
  def latestVersion(filename: String): Option[Int] = versions(filename).lastOption

  /** All versions of one file, ascending (A2; shard-pruned). One scan job:
    * a file's versions are few, so they are sorted on the driver rather
    * than by a range-partitioned `orderBy`, which samples first. */
  def versions(filename: String): Seq[Int] =
    all.filter(forFile(filename)).select("version")
      .collect().toIndexedSeq.map(_.getInt(0)).sorted

  /** Metadata map of one (filename, version) — shard-pruned. */
  def metadata(filename: String, version: Int): Option[Map[String, String]] =
    all.filter(forFile(filename) && col("version") === version)
      .select("meta").collect().headOption
      .map(_.getMap[String, String](0).toMap)

  /** Content bytes of one (filename, version) — shard-pruned. */
  def content(filename: String, version: Int): Option[Array[Byte]] =
    all.filter(forFile(filename) && col("version") === version)
      .select("content").collect().headOption.map(_.getAs[Array[Byte]](0))

  /** Regex scan over filenames — the reference's RowFilter pushdown
    * (DMS.py:363,373), kept as an explicit operator (P3). */
  def scanRegex(pattern: String): DataFrame =
    all.filter(col("filename").rlike(pattern))

  /** Latest-version rows with decoded text — the corpus that search and
    * the dedup reports read. */
  private def latestText: DataFrame =
    all.withColumn("rn",
        row_number().over(Window.partitionBy(col("filename"))
          .orderBy(col("version").desc)))
      .filter(col("rn") === 1)
      .select(col("filename"), col("version"),
        decode(col("content"), "UTF-8").as("text"))

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
