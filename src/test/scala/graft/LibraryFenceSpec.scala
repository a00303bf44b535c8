package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Deduplicate, DeduplicateWithinWatermark, EventTimeWatermark, FlatMapGroupsWithState, Window => LWindow}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan fences for LIBRARY-ONLY entry points (round-14 VERDICT residual:
  * "fences sweep `SparkEntry.queries` only; library-only entry points
  * (`DocStore` APIs, `Streams` sinks) have no plan fence"). The
  * ScaleShapeSpec fences bite on every registered query, but the DocStore
  * relational APIs and the Streams transforms are public surface a library
  * user calls DIRECTLY — nothing pinned their plans until now. Three fence
  * classes, mirroring the query-side discipline:
  *
  *   - no nested-loop joins (CartesianProduct / BroadcastNestedLoopJoin)
  *     in any DocStore relational API or batch-shaped Streams leg;
  *   - no UNPARTITIONED window anywhere in the DocStore surface — the
  *     store's ranking windows must partition by `filename` (per-file
  *     slices at 100 TB, never a one-task corpus sort);
  *   - every stateful streaming aggregation carries an event-time
  *     WATERMARK (bounded state by construction — unbounded streaming
  *     state is the stream-side equivalent of a driver collect), every
  *     streaming dedup can expire its keys at that watermark, and the
  *     custom-state paths really plan FlatMapGroupsWithState.
  */
class LibraryFenceSpec extends AnyFunSuite {
  import SharedSpark._

  private def noNestedLoop(df: DataFrame, what: String): Unit = {
    df.collect() // force the AQE final plan
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"$what plans a nested-loop join:\n$plan")
  }

  private def windowsOf(df: DataFrame): Seq[LWindow] =
    df.queryExecution.optimizedPlan.collect { case w: LWindow => w }.toSeq

  private def noUnpartitionedWindow(df: DataFrame, what: String): Unit = {
    val bad = windowsOf(df).filter(_.partitionSpec.isEmpty)
    assert(bad.isEmpty, s"$what plans an UNPARTITIONED window " +
      "(one-task corpus sort at scale)")
  }

  // a small real store: 5 files, 3 of them versioned twice
  private lazy val store = {
    val s = new graft.dms.DocStore(spark,
      java.nio.file.Files.createTempDirectory("graft_fence_dms").toString)
    (1 to 5).foreach(i =>
      s.upload(s"doc$i.txt", s"hello world $i".getBytes("UTF-8")))
    (1 to 3).foreach(i =>
      s.upload(s"doc$i.txt", s"hello again $i".getBytes("UTF-8")))
    s
  }

  test("DocStore relational APIs: no nested loops, no unpartitioned windows") {
    val surface: Seq[(String, DataFrame)] = Seq(
      "all" -> store.all,
      "latestVersions" -> store.latestVersions,
      "snapshotAsOf" -> store.snapshotAsOf(2),
      "scanRegex" -> store.scanRegex("doc[12]\\.txt"),
      "stats" -> store.stats())
    surface.foreach { case (name, df) =>
      noNestedLoop(df, s"DocStore.$name")
      noUnpartitionedWindow(df, s"DocStore.$name")
    }
  }

  test("DocStore ranking windows partition by filename — per-file slices, never corpus-wide") {
    val ws = windowsOf(store.snapshotAsOf(2))
    assert(ws.nonEmpty, "snapshotAsOf lost its ranking window")
    assert(ws.forall(_.partitionSpec
        .flatMap(_.references.toSeq.map(_.name.toLowerCase))
        .contains("filename")),
      "snapshotAsOf window no longer partitions by filename")
  }

  test("Streams stateful transforms carry event-time watermarks (bounded state)") {
    // schema-only streaming source: the fence reads plans, not data
    val dir = java.nio.file.Files
      .createTempDirectory("graft_fence_stream").toString
    val src = graft.streaming.Streams.eventsFileStream(spark, dir)
    val legs: Seq[(String, DataFrame)] = Seq(
      "tumblingCounts" -> graft.streaming.Streams.tumblingCounts(src),
      "slidingCounts" -> graft.streaming.Streams.slidingCounts(src),
      "sessionCounts" -> graft.streaming.Streams.sessionCounts(src),
      "dedupEvents" -> graft.streaming.Streams.dedupEvents(src),
      "attributionJoin" -> graft.streaming.Streams.attributionJoin(src, src),
      // the newUserCounts DEMO is deliberately absent here: its per-user
      // dedup state is unbounded BY CONTRACT (exact first-sighting over
      // an arbitrary replay) and its scaladoc names the production
      // spelling — newUserCountsIndexed, fenced below, which this spec's
      // first run caught as missing and round 15 implemented
      "newUserCountsIndexed" -> graft.streaming.Streams
        .newUserCountsIndexed(src, spark.range(0).select(col("id").as("user_id"))),
      "dailyCounts" -> graft.streaming.Streams.dailyCounts(src, "error"),
      "psiBucketCounts" -> graft.streaming.Streams.psiBucketCounts(src, 0.0, 1.0),
      "sessionStream" -> graft.streaming.Streams.sessionStream(src).toDF())
    legs.foreach { case (name, df) =>
      val plan = df.queryExecution.analyzed
      val marks = plan.collect { case e: EventTimeWatermark => e }
      assert(marks.nonEmpty,
        s"Streams.$name has NO event-time watermark — its state store " +
          "would grow without bound")
      // a plain streaming dedup evicts a key only when the key holds the
      // watermarked column; on other keys it must dedup within the watermark
      val unbounded = plan.collect {
        case d: Deduplicate
          if !d.keys.exists(_.metadata.contains(EventTimeWatermark.delayKey)) => d
      }
      assert(unbounded.isEmpty,
        s"Streams.$name dedups on ${unbounded.flatMap(_.keys.map(_.name)).mkString(", ")} " +
          "with no event-time key: its dedup state never expires")
    }
    // the dedup check above must see the dedup legs it fences
    val fencedDedups = legs.map(_._2.queryExecution.analyzed.collect {
      case d: DeduplicateWithinWatermark => d
    }.size).sum
    assert(fencedDedups >= 2, s"expected the two dedup legs, found $fencedDedups")
    // both sides of the stream-stream interval join must be watermarked,
    // or Spark keeps every row of the unmarked side forever
    val attributionMarks = graft.streaming.Streams.attributionJoin(src, src)
      .queryExecution.analyzed.collect { case e: EventTimeWatermark => e }
    assert(attributionMarks.size == 2,
      "attributionJoin must watermark BOTH join sides")
  }

  test("Streams custom-state paths plan FlatMapGroupsWithState") {
    import spark.implicits._
    val src = graft.streaming.Streams.eventsFileStream(spark,
      java.nio.file.Files.createTempDirectory("graft_fence_fm").toString)
    val fm = graft.streaming.Streams.sessionStream(src)
      .queryExecution.analyzed.collect { case f: FlatMapGroupsWithState => f }
    assert(fm.nonEmpty, "sessionStream no longer plans custom state")
    val funnel = graft.streaming.Streams
      .statefulFunnel(Seq((1L, "view", 1000000L)).toDS())
      .queryExecution.analyzed.collect { case f: FlatMapGroupsWithState => f }
    assert(funnel.nonEmpty, "statefulFunnel no longer plans custom state")
  }

  test("Streams batch-shaped ingest legs: no nested loops, Bloom gate joins broadcast") {
    import spark.implicits._
    val docs = Seq((1L, "alpha beta"), (2L, "gamma delta")).toDF("doc_id", "text")
    val known = Seq("0" * 64).toDF("content_sha")
    noNestedLoop(graft.streaming.Streams.novelDocs(docs, known),
      "Streams.novelDocs")
    val bloom = Seq((0L, 1L)).toDF("word", "bits")
    val gated = graft.streaming.Streams
      .bloomGatedIngest(docs, bloom, "text", words = 4, numHashes = 3)
    noNestedLoop(gated, "Streams.bloomGatedIngest")
    // the gate's verdict must stay a per-row function against broadcast
    // relations — a shuffle here would re-partition the whole ingest
    val plan = gated.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "bloomGatedIngest no longer joins the Bloom relation broadcast")
    import graft.sources.Tables
    val t = Tables(spark, sf)
    noNestedLoop(graft.streaming.Streams.enrich(
      t.events.limit(100), t.nation, "user_id", "n_nationkey"),
      "Streams.enrich (batch leg)")
  }

  test("newUserCountsIndexed equals the exact demo curve minus indexed users (batch leg)") {
    // watermarks are no-ops in batch, so the indexed spelling run on a
    // batch frame is directly comparable: with an EMPTY index it must
    // reproduce newUserCounts exactly; with some users indexed, exactly
    // those users' first sightings disappear from the curve
    import graft.sources.Tables
    val ev = Tables(spark, sf).events
    def rows(df: DataFrame): Set[(java.sql.Date, Long)] =
      df.collect().map(r => (r.getDate(r.fieldIndex("day")),
        r.getLong(r.fieldIndex("new_users")))).toSet
    val demo = rows(graft.streaming.Streams.newUserCounts(ev))
    val emptyIdx = spark.range(0).select(col("id").as("user_id"))
    assert(rows(graft.streaming.Streams.newUserCountsIndexed(ev, emptyIdx))
      == demo, "indexed spelling with an empty index diverged from the demo")
    val known = ev.select(col("user_id")).distinct()
      .filter(col("user_id") % 2 === 0)
    val gotTotal = graft.streaming.Streams.newUserCountsIndexed(ev, known)
      .agg(sum(col("new_users"))).collect()(0).getLong(0)
    val wantTotal = ev.select(col("user_id")).distinct()
      .filter(col("user_id") % 2 =!= 0).count()
    assert(gotTotal == wantTotal,
      s"indexed curve counted $gotTotal first sightings, expected $wantTotal")
  }
}
