package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.dms.DocStore
import graft.functions.Metadata

/** End-to-end facade test: the reference's DMS surface (upload/download/
  * update/delete/versions/metadata/search) over the snapshot-generation
  * store, including the reference bugs we fixed (numeric version order,
  * update content, exact-filename delete).
  */
class DocStoreSpec extends AnyFunSuite {
  import SharedSpark._

  /** A store and its root directory, for tests that look at generations. */
  private def newRootedStore(): (DocStore, Path) = {
    val root = Files.createTempDirectory("graft_dms")
    (new DocStore(spark, root.toString), root)
  }

  private def newStore() = newRootedStore()._1

  /** The live generation named by `root/_current`. */
  private def liveGen(root: Path): Int =
    new String(Files.readAllBytes(root.resolve("_current")), "UTF-8").trim.toInt

  /** Data files under `dir`, relative to it. */
  private def parquetFiles(dir: Path): Set[Path] = {
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet"))
      .map(dir.relativize).toSet
    finally s.close()
  }

  private def contents(df: DataFrame): Set[(String, Int, String)] =
    df.select("filename", "version", "content").collect()
      .map(r => (r.getString(0), r.getInt(1), new String(r.getAs[Array[Byte]](2)))).toSet

  private def hits(df: DataFrame): Seq[(String, Int, Double)] =
    df.collect().toSeq.map(r => (r.getString(0), r.getInt(1), r.getDouble(2)))

  /** Spark jobs that `f` runs, counted over a job group. */
  private def jobs(f: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"docstore-${java.util.UUID.randomUUID()}"
    sc.setJobGroup(group, group)
    try f finally sc.clearJobGroup()
    org.apache.spark.ListenerDrain(sc)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  /** The catalog's answers for `files`: latest version, versions, the meta
    * of each version, and a metadata read of a version that is absent. */
  private def catalogView(s: DocStore, files: Seq[String]) =
    files.map(f => (s.latestVersion(f), s.versions(f),
      s.versions(f).map(s.metadata(f, _)), s.metadata(f, 99)))

  test("upload assigns 1..n and survives past v10 (numeric, not string, order)") {
    val s = newStore()
    // the reference string-sorted versions, so v10 < v2; prove 11 > 10 > 2
    val versions = (1 to 11).map(i => s.upload("a.txt", s"alpha beta v$i".getBytes))
    assert(versions == (1 to 11))
    assert(s.latestVersion("a.txt").contains(11))
    assert(s.versions("a.txt") == (1 to 11))
  }

  test("vacuum deletes superseded generations, keeps live + window") {
    val s = newStore()
    (1 to 3).foreach(i => s.upload("a.txt", s"content v$i".getBytes))
    // updates rewrite into fresh generations (copy-on-write), leaving
    // superseded generation dirs behind — what vacuum reclaims
    (1 to 3).foreach(i => s.update("a.txt", s"updated $i".getBytes))
    val before = s.all.count()
    val deleted = s.vacuum(keep = 1)
    assert(deleted.nonEmpty)
    // live data unaffected, all versions still readable
    assert(s.all.count() == before)
    assert(s.versions("a.txt") == (1 to 3))
    assert(new String(s.download("a.txt").get) == "updated 3")
    // idempotent: second vacuum deletes nothing more
    assert(s.vacuum(keep = 1).isEmpty)
  }

  test("compact collapses per-ingest batch partitions; content byte-identical") {
    val s = newStore()
    // every upload is its own batch partition (the idempotent-replay
    // layout), so 12 uploads leave >= 12 data files behind
    (1 to 6).foreach(i => s.upload("a.txt", s"alpha $i".getBytes))
    (1 to 6).foreach(i => s.upload(s"f$i.txt", s"doc $i body".getBytes))
    val filesBefore = s.dataFileCount()
    assert(filesBefore >= 12, s"expected >=12 files, got $filesBefore")
    val contentBefore = s.all
      .select("filename", "version", "content").collect()
      .map(r => (r.getString(0), r.getInt(1),
        new String(r.getAs[Array[Byte]](2)))).toSet
    s.compact()
    // fewer, denser files; every (file, version, content) byte-identical
    val filesAfter = s.dataFileCount()
    assert(filesAfter < filesBefore, s"$filesAfter !< $filesBefore")
    val contentAfter = s.all
      .select("filename", "version", "content").collect()
      .map(r => (r.getString(0), r.getInt(1),
        new String(r.getAs[Array[Byte]](2)))).toSet
    assert(contentAfter == contentBefore)
    // versioning continues seamlessly after compaction
    assert(s.upload("a.txt", "alpha 7".getBytes) == 7)
  }

  test("stats reports files, versions, bytes in one scan") {
    val s = newStore()
    s.upload("a.txt", "12345".getBytes)
    s.upload("a.txt", "123".getBytes)
    s.upload("b.txt", "1234567".getBytes)
    val r = s.stats().collect().head
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (2L, 3L, 15L))
  }

  test("snapshotAsOf reads the store as of an old version boundary") {
    val s = newStore()
    s.upload("a.txt", "a v1".getBytes); s.upload("a.txt", "a v2".getBytes)
    s.upload("a.txt", "a v3".getBytes)
    s.upload("b.txt", "b v1".getBytes)
    // c.txt first appears at v3 of the store's life — absent at asof 2
    val snap = s.snapshotAsOf(2).select("filename", "version").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    assert(snap == Set(("a.txt", 2), ("b.txt", 1)))
    // full time travel: asof 3 sees a.txt v3
    assert(s.snapshotAsOf(3)
      .filter(org.apache.spark.sql.functions.col("filename") === "a.txt")
      .select("version").collect().head.getInt(0) == 3)
  }

  test("download returns latest content; update replaces content in place") {
    val s = newStore()
    s.upload("doc.txt", "first version".getBytes)
    s.upload("doc.txt", "second version".getBytes)
    assert(new String(s.download("doc.txt").get) == "second version")
    // reference update() wrote the FILENAME string as content (DMS.py:225)
    // and then crashed; ours replaces the latest version's bytes
    assert(s.update("doc.txt", "patched".getBytes))
    assert(new String(s.download("doc.txt").get) == "patched")
    assert(s.latestVersion("doc.txt").contains(2)) // no new version minted
    assert(new String(s.content("doc.txt", 1).get) == "first version")
    assert(!s.update("missing.txt", "x".getBytes))
  }

  test("delete is exact-match; dotted filenames survive (key-parse bug fixed)") {
    val s = newStore()
    s.upload("a.txt", "one".getBytes)
    s.upload("bad-a.txt", "two".getBytes)
    s.upload("v1.my.doc.txt", "three".getBytes)
    // reference's regex match would have hit bad-a.txt too (DMS.py:373)
    s.deleteAllVersions("a.txt")
    assert(s.all.count() == 2)
    assert(s.download("bad-a.txt").isDefined)
    assert(s.download("v1.my.doc.txt").isDefined)
    s.upload("b.txt", "x1".getBytes); s.upload("b.txt", "x2".getBytes)
    s.delete("b.txt", 1)
    assert(s.versions("b.txt") == Seq(2))
  }

  test("metadata extraction lands in the meta map (hachoir replacement)") {
    val s = newStore()
    val png = {
      val b = java.nio.ByteBuffer.allocate(24)
      b.put(Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
      b.putInt(13).put("IHDR".getBytes).putInt(800).putInt(600)
      b.array()
    }
    s.upload("pic.png", png)
    val m = s.metadata("pic.png", 1).get
    assert(m("mime") == "image/png" && m("width") == "800" && m("height") == "600")
    assert(m("length") == png.length.toString)
  }

  test("hdfs_status struct is populated on upload (FileStatus subset, DMS.py:145-155)") {
    val s = newStore()
    s.upload("st.txt", "twelve bytes".getBytes)
    val row = s.all.filter(org.apache.spark.sql.functions.col("filename") === "st.txt")
      .select("hdfs_status.length", "hdfs_status.owner",
        "hdfs_status.modification_time", "hdfs_status.permission")
      .collect().head
    assert(row.getLong(0) == "twelve bytes".getBytes.length.toLong)
    assert(row.getString(1).nonEmpty)
    assert(row.getTimestamp(2) != null)
    assert(row.getString(3) == "rw-r--r--")
    // update refreshes the status in place
    s.update("st.txt", "longer replacement bytes".getBytes)
    val len2 = s.all.filter(org.apache.spark.sql.functions.col("filename") === "st.txt")
      .select("hdfs_status.length").collect().head.getLong(0)
    assert(len2 == "longer replacement bytes".getBytes.length.toLong)
  }

  test("search ranks by TF-IDF over latest versions only") {
    val s = newStore()
    s.upload("hit.txt", "spark spark spark window".getBytes)
    s.upload("meh.txt", "window table row".getBytes)
    s.upload("old.txt", "spark spark spark spark".getBytes)
    s.upload("old.txt", "nothing relevant here".getBytes) // v2 shadows v1
    val got = s.search("spark").collect().map(_.getString(0))
    assert(got.headOption.contains("hit.txt"))
    assert(!got.contains("old.txt")) // latest version has no 'spark'
  }

  test("search scores tf*log(N/df) exactly; repeated terms count once; empty query is empty") {
    val s = newStore()
    s.upload("a.txt", "zebra".getBytes) // v1 is shadowed: zebra is in no latest doc
    s.upload("a.txt", "spark spark window".getBytes)
    // shadowed too: counting old versions would make N = 5 and df(spark) = 3
    s.upload("b.txt", "spark zebra".getBytes)
    s.upload("b.txt", "window table".getBytes)
    s.upload("c.txt", "spark row".getBytes)
    val idf = math.log(3.0 / 2.0) // N = 3 latest docs, df(spark) = df(window) = 2
    def check(q: String, want: Seq[(String, Int, Double)]): Unit = {
      val got = hits(s.search(q))
      assert(got.map(h => (h._1, h._2)) == want.map(h => (h._1, h._2)), q)
      got.zip(want).foreach { case (g, w) => assert(math.abs(g._3 - w._3) < 1e-12, s"$q: $got") }
    }
    check("spark zebra", Seq(("a.txt", 2, 2 * idf), ("c.txt", 1, idf)))
    check("zebra", Nil)
    // equal scores are ordered by filename
    check("window", Seq(("a.txt", 2, idf), ("b.txt", 2, idf)))
    assert(hits(s.search("spark spark")) == hits(s.search("spark")))
    for (q <- Seq("", "   ")) {
      val df = s.search(q)
      assert(df.schema.map(f => (f.name, f.dataType)) ==
        Seq(("filename", StringType), ("version", IntegerType), ("score", DoubleType)))
      assert(df.collect().isEmpty, s"query '$q'")
    }
    // an update replaces the latest text: df(zebra) = 1, df(spark) = 1
    s.update("c.txt", "zebra row".getBytes)
    check("zebra", Seq(("c.txt", 1, math.log(3.0))))
    check("spark", Seq(("a.txt", 2, 2 * math.log(3.0))))
    // deleting a.txt's latest makes its shadowed v1 the latest again
    s.delete("a.txt", 2)
    check("zebra", Seq(("a.txt", 1, idf), ("c.txt", 1, idf)))
    check("spark", Nil)
  }

  test("delete rewrites one shard; the others are hard links that survive vacuum") {
    val (s, root) = newRootedStore()
    (0 until 8).foreach(i => s.upload(s"f$i.txt", s"body $i".getBytes))
    s.upload("f1.txt", "body 1 v2".getBytes)
    val before = s.all
    val rowsBefore = contents(before)
    val g = liveGen(root)
    s.delete("f0.txt", 1)
    assert(liveGen(root) == g + 1)
    val (oldDir, newDir) = (root.resolve(s"g$g"), root.resolve(s"g${g + 1}"))
    val touched = s"shard=${s.shardOf("f0.txt")}"
    val others = parquetFiles(oldDir).filterNot(_.startsWith(touched))
    assert(others.nonEmpty)
    assert(parquetFiles(newDir).filterNot(_.startsWith(touched)) == others)
    others.foreach(p => assert(Files.isSameFile(oldDir.resolve(p), newDir.resolve(p)), p))
    // a frame built before the delete still reads the old generation
    assert(contents(before) == rowsBefore)
    val rowsAfter = rowsBefore.filterNot(_._1 == "f0.txt")
    assert(contents(s.all) == rowsAfter)
    s.vacuum(keep = 0)
    assert(!Files.exists(oldDir))
    assert(contents(s.all) == rowsAfter)
    assert(s.versions("f1.txt") == Seq(1, 2) && s.download("f0.txt").isEmpty)
    assert(new String(s.download("f1.txt").get) == "body 1 v2")
    assert(new String(s.content("f1.txt", 1).get) == "body 1")
  }

  test("compact rewrites only multi-batch shards and is a no-op without them") {
    import spark.implicits._
    val (s, root) = newRootedStore()
    // one batch: every shard holds a single batch partition
    s.uploadBatch((0 until 6).map(i => (s"f$i.txt", s"doc $i".getBytes)).toDF("filename", "content"),
      new java.sql.Timestamp(0L))
    val g = liveGen(root)
    s.compact()
    assert(liveGen(root) == g)
    s.upload("f2.txt", "doc 2 v2".getBytes) // f2's shard now holds two batches
    val files = parquetFiles(root.resolve(s"g$g"))
    val rows = contents(s.all)
    s.compact()
    assert(liveGen(root) == g + 1)
    val touched = s"shard=${s.shardOf("f2.txt")}"
    assert(parquetFiles(root.resolve(s"g${g + 1}")).filterNot(_.startsWith(touched)) ==
      files.filterNot(_.startsWith(touched)))
    assert(contents(s.all) == rows)
    s.compact()
    assert(liveGen(root) == g + 1)
  }

  test("a partial next generation left by a crash changes no read and is replaced") {
    val (s, root) = newRootedStore()
    (0 until 4).foreach(i => s.upload(s"f$i.txt", s"body $i".getBytes))
    val g = liveGen(root)
    // a rewrite that died between its write and its flip: a g+1 with junk
    // in a shard the next rewrite does not touch
    val other = (0 until 16).find(_ != s.shardOf("f0.txt")).get
    val junk = root.resolve(s"g${g + 1}/shard=$other/batch=g${g + 1}/part-00000-junk.parquet")
    Files.createDirectories(junk.getParent)
    Files.write(junk, "not parquet".getBytes)
    val rows = contents(s.all)
    assert(rows.size == 4 && s.versions("f1.txt") == Seq(1))
    assert(new String(s.download("f1.txt").get) == "body 1")
    val files = (0 until 4).map(i => s"f$i.txt")
    val want = (0 until 4).map(i =>
      (Some(1), Seq(1), Seq(Some(Metadata.sniff(s"body $i".getBytes))), None))
    assert(catalogView(s, files) == want)
    assert(catalogView(new DocStore(spark, root.toString), files) == want)
    s.delete("f0.txt", 1)
    assert(liveGen(root) == g + 1 && !Files.exists(junk))
    assert(contents(s.all) == rows.filterNot(_._1 == "f0.txt"))
  }

  test("catalog reads after this instance's writes run no job; upload and download run one") {
    val (s, root) = newRootedStore()
    val files = Seq("a.txt", "b.txt", "c.txt", "none.txt")
    def reads(after: String): Unit = {
      var got: Seq[Any] = Nil
      assert(jobs { got = catalogView(s, files) } == 0, s"a read after $after ran a job")
      // what this instance recorded equals what a fresh instance reads
      assert(got == catalogView(new DocStore(spark, root.toString), files), after)
    }
    assert(jobs(s.upload("a.txt", "alpha".getBytes)) == 1)
    reads("upload")
    assert(jobs(s.upload("a.txt", "alpha two".getBytes)) == 1)
    s.upload("b.txt", "beta".getBytes)
    s.upload("c.txt", "gamma".getBytes)
    reads("uploads")
    assert(s.versions("a.txt") == Seq(1, 2) && s.metadata("b.txt", 1).contains(Metadata.sniff("beta".getBytes)))
    var got: Option[Array[Byte]] = None
    assert(jobs { got = s.download("a.txt") } == 1)
    assert(got.map(new String(_)).contains("alpha two"))
    assert(jobs { assert(s.download("none.txt").isEmpty && s.content("a.txt", 9).isEmpty) } == 0)
    s.update("a.txt", "patched".getBytes)
    reads("update")
    assert(s.metadata("a.txt", 2).contains(Metadata.sniff("patched".getBytes)))
    s.delete("a.txt", 1)
    reads("delete")
    s.deleteAllVersions("b.txt")
    reads("deleteAllVersions")
    s.upload("c.txt", "gamma two".getBytes) // c.txt's shard now holds two batches
    val g = liveGen(root)
    s.compact()
    assert(liveGen(root) == g + 1, "compact rewrote nothing")
    reads("compact")
    s.vacuum(keep = 0)
    reads("vacuum")
    assert(catalogView(s, files).map(_._2) == Seq(Seq(2), Nil, Seq(1, 2), Nil))
    s.truncate()
    reads("truncate")
    assert(files.forall(s.versions(_).isEmpty))
  }

  test("deletes of absent keys write nothing") {
    val (s, root) = newRootedStore()
    s.upload("a.txt", "one".getBytes)
    s.upload("a.txt", "two".getBytes)
    s.upload("b.txt", "bee".getBytes)
    val files = Seq("a.txt", "b.txt", "zzz.txt")
    val (gen, gens) = (liveGen(root), Files.list(root).count())
    val (rows, view) = (contents(s.all), catalogView(s, files))
    assert(jobs {
      s.delete("a.txt", 3)
      s.delete("zzz.txt", 1)
      s.deleteAllVersions("zzz.txt")
    } == 0)
    assert(liveGen(root) == gen && Files.list(root).count() == gens)
    assert(contents(s.all) == rows && catalogView(s, files) == view)
  }

  test("another writer on the same root: reads equal a freshly opened store's") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, encode}
    val (s, root) = newRootedStore()
    s.upload("a.txt", "alpha one".getBytes)
    s.upload("b.txt", "beta shared".getBytes)
    val files = Seq("a.txt", "b.txt", "c.txt")
    assert(s.versions("a.txt") == Seq(1)) // s's catalog is current here
    val t = new DocStore(spark, root.toString)
    t.upload("a.txt", "alpha two shared".getBytes)
    t.delete("b.txt", 1)
    val batch = Seq(("c.txt", "gamma shared"), ("a.txt", "alpha three shared"))
      .toDF("filename", "txt").select(col("filename"), encode(col("txt"), "UTF-8").as("content"))
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    t.uploadBatch(batch, ts, batchId = Some("b1"))
    t.uploadBatch(batch, ts, batchId = Some("b1")) // a replay of the same batch
    t.vacuum(keep = 0)
    val fresh = new DocStore(spark, root.toString)
    assert(catalogView(s, files) == catalogView(fresh, files))
    assert(s.versions("a.txt") == Seq(1, 2, 3) && s.versions("b.txt").isEmpty)
    files.foreach(f => assert(s.download(f).map(new String(_)) == fresh.download(f).map(new String(_)), f))
    assert(new String(s.download("a.txt").get) == "alpha three shared")
    val found = hits(s.search("shared alpha"))
    assert(found == hits(fresh.search("shared alpha")))
    assert(found.map(_._1).toSet == Set("a.txt", "c.txt"))
  }

  test("dedupClusters groups transitively; duplicatedSpanReport flags shared runs") {
    import spark.implicits._
    val s = newStore()
    val run = (1 to 20).map(i => s"tok$i").mkString(" ") // 20-token shared run
    // a~b and b~c are near-identical but a,c differ at BOTH ends -> the
    // cluster still closes transitively through b
    s.upload("a.txt", s"alpha $run".getBytes)
    s.upload("b.txt", s"$run".getBytes)
    s.upload("c.txt", s"$run zulu".getBytes)
    s.upload("solo.txt", "entirely different words nothing shared here at all ok".getBytes)
    for (logStar <- Seq(false, true)) {
      val cl = s.dedupClusters(minEstJaccard = 0.3, logStar = logStar)
        .select("filename", "cluster_id", "is_keeper")
        .as[(String, String, Boolean)].collect().toSet
      assert(cl == Set(
        ("a.txt", "a.txt", true), ("b.txt", "a.txt", false),
        ("c.txt", "a.txt", false), ("solo.txt", "solo.txt", true)),
        s"logStar=$logStar")
    }
    // every sharer reports the duplicated run; solo.txt reports nothing
    val rep = s.duplicatedSpanReport(n = 8)
      .select("filename", "dup_tokens").as[(String, Long)].collect().toMap
    assert(rep.keySet == Set("a.txt", "b.txt", "c.txt"))
    // the shared 12-token prefix is one island of >= 12 tokens
    assert(rep.values.forall(_ >= 12))
  }

  test("point lookups prune to one shard partition directory") {
    val s = newStore()
    (0 until 20).foreach(i => s.upload(s"file$i.txt", s"content $i".getBytes))
    // the lookup plan must carry a shard partition filter
    val plan = s.all.filter(org.apache.spark.sql.functions.col("shard") ===
        s.shardOf("file3.txt") &&
        org.apache.spark.sql.functions.col("filename") === "file3.txt")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("shard"),
      s"no shard partition filter:\n$plan")
    // and the lookup itself still answers correctly
    assert(new String(s.download("file3.txt").get) == "content 3")
    assert(s.versions("file3.txt") == Seq(1))
  }

  test("scanRegex is the explicit regex operator; truncate empties the store") {
    val s = newStore()
    s.upload("report_2024.txt", "x".getBytes)
    s.upload("report_2025.txt", "y".getBytes)
    s.upload("notes.md", "z".getBytes)
    assert(s.scanRegex("^report_\\d+").count() == 2)
    s.truncate()
    assert(s.all.isEmpty)
    // store stays usable after truncate
    assert(s.upload("fresh.txt", "w".getBytes) == 1)
    assert(s.all.count() == 1)
  }
}
