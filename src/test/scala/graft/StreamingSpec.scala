package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.Canon.{ordered, tstr, tus}
import graft.streaming.Streams

/** Structured Streaming semantics — SURVEY.md §2.10. The windowed streams
  * (T1, T2, T3, T5, T28) replay the real event log in event-time order,
  * in several micro-batches, and compare the sink with the registered,
  * oracle-checked query; a test applies only that query's output
  * rendering to the sink. Other tests drive MemoryStream or file streams
  * against a batch run of the same transform, plus the behavior that only
  * exists in streaming: watermark late drops, bounded state,
  * kill-restart replay and exactly-once sinks.
  */
/** Top-level so Spark can derive an Encoder (inner classes can't). */
case class Ev(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)

case class Doc(doc_id: Long, text: String)

class StreamingSpec extends AnyFunSuite {
  import SharedSpark._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  /** The sf event log in event-time order. */
  private lazy val replay: Seq[Ev] = {
    import spark.implicits._
    graft.sources.Tables(spark, sf).events
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      .orderBy(col("ts"), col("event_id")).as[Ev].collect().toSeq
  }

  /** Replays [[replay]] through `transform` into the memory sink `name` in
    * three micro-batches, then each `flush` batch; returns the sink. */
  private def replayTo(name: String, id: Int, mode: OutputMode,
      flush: Seq[Seq[Ev]] = Nil)(transform: DataFrame => DataFrame): DataFrame = {
    import spark.implicits._
    val mem = MemoryStream[Ev](id, spark, None)
    val q = transform(mem.toDF()).writeStream.format("memory").queryName(name)
      .outputMode(mode).start()
    try (replay.grouped((replay.size + 2) / 3).toSeq ++ flush).foreach { b =>
      mem.addData(b: _*); q.processAllAvailable()
    } finally q.stop()
    spark.table(name)
  }

  private val fixture = Seq(
    Ev(0, ts("2024-01-01 00:05:00"), 1, "click", 1.0, "{}"),
    Ev(1, ts("2024-01-01 00:20:00"), 1, "click", 2.0, "{}"),
    Ev(2, ts("2024-01-01 01:05:00"), 1, "view", 3.0, "{}"),
    Ev(3, ts("2024-01-01 00:40:00"), 2, "click", 4.0, "{}"),
    Ev(4, ts("2024-01-01 02:30:00"), 2, "view", 5.0, "{}"),
    Ev(5, ts("2024-01-01 02:59:00"), 2, "view", 6.0, "{}")
  )

  test("T1 tumbling window: stream (complete mode) equals batch") {
    val sink = replayTo("t1_sink", 101, OutputMode.Complete())(Streams.tumblingCounts)
    // the row's rendering: formatted window start, decimal total as double
    val got = ordered(sink.select(tstr(col("w_start")).as("w_start"),
      col("event_type"), col("n"), col("total").cast("double").as("total")))
      .collect().toSeq
    assert(got == registered("t1_tumbling_window").collect().toSeq && got.nonEmpty)
  }

  test("T3 session window: stream equals batch, gap boundary is >= 30m") {
    import spark.implicits._
    val mem = MemoryStream[Ev](2, spark, None)
    mem.addData(fixture: _*)
    Streams.runToMemory(Streams.sessionCounts(mem.toDF()), "t3_gap_sink",
      OutputMode.Complete())
    val gap = spark.table("t3_gap_sink").as[(Timestamp, Timestamp, Long, Long)]
      .collect().toSet
    // user 2: events at 02:30 and 02:59 are 29m apart -> ONE session;
    // 00:40 is its own session. user 1: 00:05+00:20 merge, 01:05 separate.
    val u2 = gap.filter(_._3 == 2L)
    assert(u2.size == 2)
    assert(u2.exists(s => s._4 == 2L)) // merged 02:30+02:59 session
    assert(gap.count(_._3 == 1L) == 2)
    val sink = replayTo("t3_sink", 103, OutputMode.Complete())(Streams.sessionCounts)
    val got = ordered(sink.select(col("user_id"), tus(col("s_start")).as("s_start"),
      tus(col("s_end")).as("s_end"), col("n_events"))).collect().toSeq
    assert(got == registered("t3_session_window").collect().toSeq && got.nonEmpty)
  }

  test("T2 sliding window: stream (complete mode) equals batch") {
    val sink = replayTo("t2_sink", 107, OutputMode.Complete())(Streams.slidingCounts)
    val got = ordered(sink.select(tstr(col("w_start")).as("w_start"),
      col("event_type"), col("n"))).collect().toSeq
    assert(got == registered("t2_sliding_window").collect().toSeq && got.nonEmpty)
    // every event appears in 4 sliding windows (1h window, 15m slide)
    assert(got.map(_.getLong(2)).sum == replay.size * 4L)
  }

  test("T4 watermark drops late rows in append mode") {
    import spark.implicits._
    val mem = MemoryStream[Ev](3, spark, None)
    val q = Streams.tumblingCounts(mem.toDF())
      .writeStream.format("memory").queryName("t4_sink")
      .outputMode(OutputMode.Append()).start()
    // batch 1: advance event time (and thus the watermark) to 03:00
    mem.addData(
      Ev(10, ts("2024-01-01 00:10:00"), 1, "click", 1.0, "{}"),
      Ev(11, ts("2024-01-01 03:00:00"), 1, "view", 1.0, "{}"))
    q.processAllAvailable()
    // batch 2: a row for the long-closed 00:00 window — beyond the
    // 10-minute watermark, must be dropped
    mem.addData(Ev(12, ts("2024-01-01 00:01:00"), 9, "late", 99.0, "{}"))
    q.processAllAvailable()
    q.stop()
    val sunk = spark.table("t4_sink")
    assert(sunk.filter(col("event_type") === "late").isEmpty)
    // the closed 00:00 window was emitted with only the on-time row
    val w0 = sunk.filter(col("event_type") === "click").select("n")
      .as[Long].collect()
    assert(w0.sameElements(Array(1L)))
  }

  test("T5 stateful sessions: ordered replay equals t3_session_window") {
    // a user that is not in the table sends two late flush events: the
    // second batch runs at a watermark past every real session's end, so
    // the event-time timeout closes them all
    val sentinel = -1L
    assert(!replay.exists(_.user_id == sentinel))
    val end = replay.last.ts.getTime
    val flush = Seq(1, 2).map(d =>
      Seq(Ev(-d, new Timestamp(end + d * 86400000L), sentinel, "flush", 0, "{}")))
    val sink = replayTo("t5_sink", 105, OutputMode.Append(), flush)(
      Streams.sessionStream(_).toDF())
    val got = ordered(sink.filter(col("userId") =!= sentinel).select(
      col("userId").as("user_id"),
      tus(timestamp_micros(col("startMicros"))).as("s_start"),
      tus(timestamp_micros(col("endMicros"))).as("s_end"),
      col("nEvents").as("n_events"))).collect().toSeq
    assert(got == registered("t3_session_window").collect().toSeq && got.nonEmpty)
  }

  test("T6 stream dedup by event_id") {
    import spark.implicits._
    val mem = MemoryStream[Ev](4, spark, None)
    mem.addData(fixture: _*)
    mem.addData(fixture.take(3): _*) // replay duplicates
    Streams.runToMemory(Streams.dedupEvents(mem.toDF()), "t6_sink")
    assert(spark.table("t6_sink").count() == fixture.size)
  }

  test("stream dedup state is bounded: ids the watermark has passed are evicted") {
    import spark.implicits._
    def ev(id: Long, t: String) = Ev(id, ts(t), id, "click", 0, "{}")
    // 100 ids at 00:00, then 10 ids two hours later (the watermark moves
    // past the first 100), then one more id
    val batches = Seq(
      (0L until 100L).map(ev(_, "2024-01-01 00:00:00")),
      (100L until 110L).map(ev(_, "2024-01-01 02:00:00")),
      Seq(ev(110L, "2024-01-01 02:01:00")))
    val noUsers = spark.range(0).select(col("id").as("user_id"))
    val legs: Seq[(String, DataFrame => DataFrame, OutputMode)] = Seq(
      ("dedupEvents", Streams.dedupEvents, OutputMode.Append()),
      ("newUserCountsIndexed", Streams.newUserCountsIndexed(_, noUsers),
        OutputMode.Update()))
    legs.zipWithIndex.foreach { case ((name, f, mode), i) =>
      val mem = MemoryStream[Ev](40 + i, spark, None)
      val q = f(mem.toDF()).writeStream.format("memory")
        .queryName(s"dedup_state_$i").outputMode(mode).start()
      val rows = try batches.map { b =>
        mem.addData(b: _*); q.processAllAvailable()
        q.lastProgress.stateOperators.filter(_.operatorName.startsWith("dedupe"))
          .map(_.numRowsTotal).sum
      } finally q.stop()
      assert(rows.head == 100L && rows.last < rows.max,
        s"Streams.$name keeps dedup state the watermark has passed: $rows")
    }
  }

  test("incremental-ingest dedup: stream anti-joined on the persisted sha index") {
    import spark.implicits._
    val mem = MemoryStream[Doc](6, spark, None)
    mem.addData(
      Doc(10, "already in the corpus"), // known -> dropped by the anti join
      Doc(11, "fresh content one"),
      Doc(12, "fresh content two"),
      Doc(13, "fresh content one") // in-stream duplicate -> collapsed
    )
    val known = Seq("already in the corpus").toDF("text")
      .select(sha2(col("text"), 256).as("content_sha"))
    Streams.runToMemory(Streams.novelDocs(mem.toDF(), known), "novel_sink")
    val got = spark.table("novel_sink").select("doc_id").as[Long].collect().toSet
    assert(got == Set(11L, 12L))
  }

  test("T7 stream-static join enriches every event") {
    import spark.implicits._
    val mem = MemoryStream[Ev](5, spark, None)
    mem.addData(fixture: _*)
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("cust_id", "tier")
    Streams.runToMemory(Streams.enrich(mem.toDF(), dim, "user_id", "cust_id"), "t7_sink")
    val got = spark.table("t7_sink")
    assert(got.count() == fixture.size)
    assert(got.filter(col("tier").isNull).isEmpty)
  }

  test("bloom-gated streaming ingest: stateless probe, verdict parity with batch") {
    import spark.implicits._
    import graft.dedup.Dedup
    val corpus = (1 to 200).map(i => s"corpus doc $i").toDF("text")
    val bloom = Dedup.bloomWords(corpus, "text", words = 32, numHashes = 3)
      .localCheckpoint()
    val batchKeys = ((1 to 50).map(i => s"corpus doc $i") ++
      (1 to 50).map(i => s"fresh doc $i"))
    val mem = MemoryStream[Doc](11, spark, None)
    mem.addData(batchKeys.zipWithIndex.map { case (t, i) => Doc(i.toLong, t) }: _*)
    Streams.runToMemory(
      Streams.bloomGatedIngest(mem.toDF(), bloom, "text",
        words = 32, numHashes = 3), "bloom_sink")
    val got = spark.table("bloom_sink")
      .select("text", "maybe_seen").as[(String, Boolean)].collect().toMap
    // parity with the batch probe on the same filter, row for row
    val want = Dedup.bloomProbe(batchKeys.toDF("text"), "text", bloom,
      words = 32, numHashes = 3).as[(String, Boolean)].collect().toMap
    assert(got == want)
    // the gate guarantee that makes it useful: corpus keys always pass
    assert((1 to 50).forall(i => got(s"corpus doc $i")))
  }

  test("streaming multimodal ingest: landed media decode in-flight, parity with batch") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    val dir = java.nio.file.Files.createTempDirectory("mm_stream").toFile
    dir.deleteOnExit()
    val bmp = Multimodal.synthBmp(31L, 4, 3)
    val wav = Multimodal.synthWav(7L, 64)
    java.nio.file.Files.write(new java.io.File(dir, "a.bmp").toPath, bmp)
    java.nio.file.Files.write(new java.io.File(dir, "b.wav").toPath, wav)
    java.nio.file.Files.write(new java.io.File(dir, "c.bin").toPath,
      Array[Byte](0, 1, 2, 3))
    Streams.runToMemory(
      Streams.mediaIngestStream(spark, dir.getAbsolutePath), "mm_sink")
    val rows = spark.table("mm_sink")
      .select("kind", "mime", "width", "sample_rate", "pix_sum", "smp_sum")
      .as[(String, String, Int, Int, Option[Long], Option[Long])]
      .collect().toSet
    val bs = Multimodal.decodeBmp(bmp).get
    val ws = Multimodal.decodeWav(wav).get
    assert(rows == Set(
      ("image", "image/bmp", 4, -1, Some(bs.pix_sum), None),
      ("audio", "audio/wav", -1, 8000, None, Some(ws.smp_sum)),
      ("binary", "application/octet-stream", -1, -1, None, None)))
  }

  test("T8 update mode: per-batch deltas converge to the complete result") {
    import spark.implicits._
    val mem = MemoryStream[Ev](9, spark, None)
    mem.addData(fixture: _*)
    Streams.runToMemory(Streams.tumblingCounts(mem.toDF()), "t8u_sink",
      OutputMode.Update())
    // update mode emits one row per changed key per batch; with one batch
    // the latest row per (window, type) must equal the complete result
    val got = spark.table("t8u_sink")
      .groupBy("w_start", "event_type")
      .agg(last("n").as("n"), last("total").as("total"))
      .select("w_start", "event_type", "n", "total").collect().toSet
    val want = Streams.tumblingCounts(fixture.toDF())
      .select("w_start", "event_type", "n", "total").collect().toSet
    assert(got == want && got.nonEmpty)
  }

  test("T11 streaming heavy hitters: sharded MG state matches exact batch") {
    import spark.implicits._
    // real Zipf-ish stream: the sf0.001 corpus token sequence
    val tokens = graft.sources.Tables(spark, sf).documents
      .select(explode(graft.functions.Text.tokenize(col("text"))).as("t"))
      .as[String].collect().toSeq
    val mem = MemoryStream[String](20, spark, None)
    val q = Streams.heavyHittersStream(mem.toDS(), shards = 8, k = 64).toDF()
      .writeStream.format("memory").queryName("t11_sink")
      .outputMode(OutputMode.Update()).start()
    // three micro-batches so state genuinely carries across batches
    tokens.grouped((tokens.size + 2) / 3).foreach { b =>
      mem.addData(b: _*); q.processAllAvailable()
    }
    q.stop()
    val snaps = spark.table("t11_sink").as[Streams.MgSnap].collect()
    val fin = snaps.groupBy(_.shard).map { case (_, ss) => ss.maxBy(_.gen) }.toSeq
    assert(fin.exists(_.gen >= 2), "state never crossed a batch boundary")
    // bounded state: every shard holds at most k counters
    assert(fin.forall(_.terms.length <= 64))
    val cands = fin.flatMap(_.terms).toSet
    val n = tokens.size
    val counts = tokens.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val want = counts.filter { case (_, c) => c * 50 > n }.keySet
    // MG guarantee survives sharding: no false negatives above the bar
    assert(want.subsetOf(cands), s"missing: ${want -- cands}")
    // pass-2 exact recount of the candidates == exact batch heavy hitters
    val got = cands.filter(t => counts(t) * 50 > n)
    assert(got == want && want.nonEmpty)
  }

  test("T15 streaming new-user counts: ordered replay equals the batch curve") {
    import spark.implicits._
    // dedup + day-count state must carry across the replay's batches
    val sink = replayTo("t15_sink", 21, OutputMode.Update())(Streams.newUserCounts)
    // update mode re-emits a day on change; the last row per day is the
    // current count
    val got = sink
      .groupBy("day").agg(last("new_users").as("new_users"))
      .as[(java.sql.Date, Long)].collect()
      .map { case (d, n) => d.toString -> n }.toMap
    // the streamed curve reconciles with the oracle-checked query:
    // on ordered replay, day-wise new_users equal t15's column (a day
    // with zero new users never gets a streaming row)
    val t15 = registered("t15_cumulative_users")
      .select(col("day"), col("new_users"))
      .as[(String, Long)].collect().toMap
    assert(got == t15.filter(_._2 > 0) && got.nonEmpty)
  }

  test("T16 streaming drift buckets: ordered replay equals the batch buckets") {
    val evDf = graft.sources.Tables(spark, sf).events
    // frozen reference bins, exactly as the batch PSI monitor derives them
    val mm = evDf.agg(min(col("value")).as("lo"), max(col("value")).as("hi")).head()
    val lo = mm.getDouble(0); val width = (mm.getDouble(1) - lo) / 10
    val sink = replayTo("t16_sink", 22, OutputMode.Update())(
      Streams.psiBucketCounts(_, lo, width))
    // update mode re-emits a cell on change; the last row is current
    val got = sink
      .groupBy(col("w_start"), col("bucket"))
      .agg(last(col("n")).as("n"))
      .collect().map(r => (r.getTimestamp(0), r.getInt(1)) -> r.getLong(2)).toMap
    val want = Streams.psiBucketCounts(evDf, lo, width)
      .collect().map(r => (r.getTimestamp(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(got == want && got.nonEmpty,
      s"stream/batch divergence: ${(want.toSet -- got.toSet).take(3)}")
  }

  test("T28 streaming hysteresis: replayed day counts + shared transform equal batch alerts") {
    // complete mode: the sink holds every day's final count
    val sink = replayTo("t28_sink", 28, OutputMode.Complete())(
      Streams.dailyCounts(_, "error"))
    val got = ordered(graft.queries.EventOps.hysteresis(sink)).collect().toSeq
    val want = registered("t28_hysteresis").collect().toSeq
    assert(got == want && got.nonEmpty,
      s"stream/batch hysteresis divergence: ${want.diff(got).take(3)}")
  }

  test("T9 stream-stream interval join: two MemoryStreams equal batch") {
    import spark.implicits._
    val views = Seq(
      Ev(100, ts("2024-01-01 00:00:00"), 1, "view", 0, "{}"),
      Ev(101, ts("2024-01-01 01:00:00"), 1, "view", 0, "{}"),
      Ev(102, ts("2024-01-01 00:10:00"), 2, "view", 0, "{}"))
    val clicks = Seq(
      Ev(200, ts("2024-01-01 00:20:00"), 1, "click", 0, "{}"), // <- 100 only
      Ev(201, ts("2024-01-01 01:05:00"), 1, "click", 0, "{}"), // <- 101 only
      Ev(202, ts("2024-01-01 00:45:00"), 2, "click", 0, "{}"), // 35m late: none
      Ev(203, ts("2024-01-01 00:10:00"), 2, "click", 0, "{}")) // same instant: 102
    val vMem = MemoryStream[Ev](7, spark, None)
    val cMem = MemoryStream[Ev](8, spark, None)
    vMem.addData(views: _*)
    cMem.addData(clicks: _*)
    Streams.runToMemory(
      Streams.attributionJoin(vMem.toDF(), cMem.toDF()), "t9_sink")
    val got = spark.table("t9_sink")
      .select("user_id", "click_id", "view_id", "lag_us")
      .as[(Long, Long, Long, Long)].collect().toSet
    val want = Streams.attributionJoin(views.toDF(), clicks.toDF())
      .select("user_id", "click_id", "view_id", "lag_us")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(got == want && got == Set(
      (1L, 200L, 100L, 1200000000L),
      (1L, 201L, 101L, 300000000L),
      (2L, 203L, 102L, 0L)))
  }

  test("T5 incremental: sessions merge across batches, event-time timeout closes idle") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_sess").toString
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    def ev(id: Long, t: String) = Ev(id, ts(t), 1, "click", 0, "{}")
    def drain(): Unit = {
      val q = Streams.sessionStream(
          spark.readStream.schema(fixture.toDF().schema).parquet(src))
        .toDF().writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def sessions(): Set[(Long, Long)] =
      spark.read.schema("userId BIGINT, startMicros BIGINT, endMicros BIGINT, nEvents BIGINT")
        .parquet(out).select("startMicros", "nEvents")
        .as[(Long, Long)].collect().toSet
    def us(t: String) = ts(t).getTime * 1000L
    // batch 1: two events 10m apart — ONE open session, nothing emitted
    Seq(ev(0, "2024-01-01 00:00:00"), ev(1, "2024-01-01 00:10:00"))
      .toDF().write.mode("append").parquet(src)
    drain()
    // batch 2 (separate run, state via checkpoint): event 2h later closes
    // session 1 by gap and opens session 2
    Seq(ev(2, "2024-01-01 02:00:00")).toDF().write.mode("append").parquet(src)
    drain()
    assert(sessions() == Set((us("2024-01-01 00:00:00"), 2L)))
    // batch 3: an event far ahead advances the watermark past session 2's
    // end; the no-data batch fires the event-time timeout and evicts it
    Seq(Ev(3, ts("2024-01-01 05:00:00"), 2, "click", 0, "{}"))
      .toDF().write.mode("append").parquet(src)
    drain()
    assert(sessions() == Set(
      (us("2024-01-01 00:00:00"), 2L), // batch-1 pair
      (us("2024-01-01 02:00:00"), 1L))) // closed by timeout, not by a new event
  }

  test("T5 kill-restart: losing the commit marker replays the batch without duplicate sessions") {
    import spark.implicits._
    // The session analogue of the ingest mid-write kill: a crash in the
    // window between the sink/state commit and the commit-log write
    // leaves offsets/<N> present but commits/<N> missing. On restart
    // Structured Streaming replays batch N — the state store rolls back
    // to version N-1 and the file sink's own manifest dedups any files
    // the first attempt already committed. Deleting the latest commit
    // marker simulates that exact crash deterministically.
    val base = java.nio.file.Files.createTempDirectory("graft_sess_kill").toString
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    def ev(id: Long, t: String) = Ev(id, ts(t), 1, "click", 0, "{}")
    def drain(): Unit = {
      val q = Streams.sessionStream(
          spark.readStream.schema(fixture.toDF().schema).parquet(src))
        .toDF().writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def sessions(): Seq[(Long, Long)] =
      spark.read.schema("userId BIGINT, startMicros BIGINT, endMicros BIGINT, nEvents BIGINT")
        .parquet(out).select("startMicros", "nEvents")
        .as[(Long, Long)].collect().toSeq.sorted
    def us(t: String) = ts(t).getTime * 1000L
    // batch 0: open a session (two events 5m apart) — nothing emitted yet
    Seq(ev(0, "2024-01-01 00:00:00"), ev(1, "2024-01-01 00:05:00"))
      .toDF().write.mode("append").parquet(src)
    drain()
    // batch 1: a 2h-later event closes session 1 (state recovered across
    // the restart) and opens session 2
    Seq(ev(2, "2024-01-01 02:00:00")).toDF().write.mode("append").parquet(src)
    drain()
    assert(sessions() == Seq((us("2024-01-01 00:00:00"), 2L)))
    // KILL: drop the latest commit marker — the crash window where the
    // batch ran but was never acknowledged
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.nonEmpty)
    val crc = new java.io.File(commits.last.getParent, s".${commits.last.getName}.crc")
    assert(commits.last.delete(), "could not remove the commit marker")
    if (crc.exists()) crc.delete() // local-FS checksum sidecar
    // restart with no new data: batch 1 replays against state version 0;
    // the emitted session must not duplicate in the sink
    drain()
    assert(sessions() == Seq((us("2024-01-01 00:00:00"), 2L)),
      s"replayed batch duplicated or lost sessions: ${sessions()}")
    // batch 2 after the replay: far-future event advances the watermark,
    // the event-time timeout evicts session 2 — state survived the kill
    Seq(Ev(3, ts("2024-01-01 07:00:00"), 2, "click", 0, "{}"))
      .toDF().write.mode("append").parquet(src)
    drain()
    assert(sessions() == Seq(
      (us("2024-01-01 00:00:00"), 2L),
      (us("2024-01-01 02:00:00"), 1L)),
      s"post-kill state wrong: ${sessions()}")
  }

  test("windowed-aggregate kill-restart: replayed batch neither duplicates nor loses window counts") {
    import spark.implicits._
    // T5 proved kill-restart for flatMapGroupsWithState sessions; the
    // OTHER stateful family — watermarked window aggregation (psi drift,
    // daily counts) — recovers through a different state store layout
    // (StateStoreSave/Restore, not the per-group state machine). Same
    // crash simulation: drop the latest commit marker so offsets/<N>
    // exists without commits/<N>; on restart the batch replays against
    // state version N-1 and the file-sink manifest dedups re-emitted
    // window rows. A duplicate day row or a lost count here would mean
    // the aggregate path isn't structurally exactly-once.
    val base = java.nio.file.Files.createTempDirectory("graft_wagg_kill").toString
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    def ev(id: Long, t: String) = Ev(id, ts(t), id, "click", 0, "{}")
    def drain(): Unit = {
      val q = Streams.dailyCounts(
          spark.readStream.schema(fixture.toDF().schema).parquet(src), "click")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def counts(): Seq[(Long, Long)] =
      spark.read.schema("d BIGINT, n BIGINT").parquet(out)
        .as[(Long, Long)].collect().toSeq.sorted
    val day1 = ts("2024-01-01 00:00:00").getTime / 86400000L
    val day3 = ts("2024-01-03 00:00:00").getTime / 86400000L
    // batch 0: three clicks on day 1 — window still open, nothing emitted
    Seq(ev(0, "2024-01-01 01:00:00"), ev(1, "2024-01-01 02:00:00"),
      ev(2, "2024-01-01 03:00:00")).toDF().write.mode("append").parquet(src)
    drain()
    // batch 1: a day-3 event advances the watermark past day-1's end —
    // the day-1 count (3) flushes to the sink
    Seq(ev(3, "2024-01-03 12:00:00")).toDF().write.mode("append").parquet(src)
    drain()
    drain() // no-data batch: emit windows closed by the new watermark
    assert(counts() == Seq((day1, 3L)), s"pre-kill counts wrong: ${counts()}")
    // KILL: the crash window between sink commit and commit-log write
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.nonEmpty)
    val crc = new java.io.File(commits.last.getParent, s".${commits.last.getName}.crc")
    assert(commits.last.delete(), "could not remove the commit marker")
    if (crc.exists()) crc.delete()
    // restart with no new data: the batch replays; the day-1 row must not
    // duplicate and must not vanish
    drain()
    assert(counts() == Seq((day1, 3L)),
      s"replayed batch duplicated or lost window counts: ${counts()}")
    // post-kill: a far-future event closes day 3 — state and watermark
    // survived the crash, so the day-3 count emerges exactly once
    Seq(ev(4, "2024-01-06 00:00:00")).toDF().write.mode("append").parquet(src)
    drain()
    drain()
    assert(counts() == Seq((day1, 3L), (day3, 1L)),
      s"post-kill window counts wrong: ${counts()}")
  }

  test("stateful-funnel kill-restart: recovered state refines depths exactly like the uninterrupted run") {
    import spark.implicits._
    // The third stateful family under the commit-marker crash recipe:
    // flatMapGroupsWithState in UPDATE mode (three longs of state,
    // idempotent forward-only transitions). Update mode cannot use the
    // file sink directly, so the sink is foreachBatch appending parquet —
    // deliberately at-least-once: a replayed batch re-emits the same
    // refined rows, and the funnel contract makes that harmless (the
    // deepest row per user is the final state; duplicates are identical
    // rows). What MUST survive the crash is the per-user (v, c, p) state:
    // a post-kill purchase only converts if the recovered click ts is
    // there and strictly earlier.
    def mkDirs() = {
      val b = java.nio.file.Files.createTempDirectory("graft_funnel_kill").toString
      (s"$b/src", s"$b/out", s"$b/ckpt")
    }
    val (src, out, ckpt) = mkDirs()
    def drain(srcDir: String, outDir: String, ckptDir: String): Unit = {
      val q = Streams.statefulFunnel(
          spark.readStream.schema("user_id BIGINT, event_type STRING, ts BIGINT")
            .parquet(srcDir).as[(Long, String, Long)])
        .toDF().writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("append").parquet(outDir)
        }
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
        .option("checkpointLocation", ckptDir)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def finalDepths(outDir: String): Set[(Long, Long, Long, Long, Int)] =
      spark.read.schema("userId BIGINT, vTs BIGINT, cTs BIGINT, pTs BIGINT, depth INT")
        .parquet(outDir)
        .groupBy(col("userId"))
        .agg(max(struct(col("depth"), col("vTs"), col("cTs"), col("pTs"))).as("s"))
        .select(col("userId"), col("s.vTs"), col("s.cTs"), col("s.pTs"), col("s.depth"))
        .as[(Long, Long, Long, Long, Int)].collect().toSet
    val batch0 = Seq((1L, "view", 100L), (1L, "click", 200L), (2L, "view", 150L))
    val batch1 = Seq((1L, "purchase", 300L)) // converts only via recovered c=200
    val batch2 = Seq((2L, "click", 400L), (2L, "purchase", 250L)) // p BEFORE c: must not convert
    batch0.toDF("user_id", "event_type", "ts").write.mode("append").parquet(src)
    drain(src, out, ckpt)
    batch1.toDF("user_id", "event_type", "ts").write.mode("append").parquet(src)
    drain(src, out, ckpt)
    // KILL: drop the newest commit marker — offsets/<N> present,
    // commits/<N> missing, the exact crash window; restart replays batch 1
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.nonEmpty)
    val crc = new java.io.File(commits.last.getParent, s".${commits.last.getName}.crc")
    assert(commits.last.delete(), "could not remove the commit marker")
    if (crc.exists()) crc.delete()
    drain(src, out, ckpt) // replay against state version N-1
    batch2.toDF("user_id", "event_type", "ts").write.mode("append").parquet(src)
    drain(src, out, ckpt)
    // uninterrupted twin: same batches, fresh checkpoint, no kill
    val (src2, out2, ckpt2) = mkDirs()
    (batch0 ++ batch1).toDF("user_id", "event_type", "ts").write.mode("append").parquet(src2)
    drain(src2, out2, ckpt2)
    batch2.toDF("user_id", "event_type", "ts").write.mode("append").parquet(src2)
    drain(src2, out2, ckpt2)
    val killed = finalDepths(out)
    assert(killed == finalDepths(out2),
      s"post-kill funnel diverged from the uninterrupted run: $killed vs ${finalDepths(out2)}")
    // and the depths are the ones the state machine promises: user 1 fully
    // converted through the RECOVERED click; user 2's out-of-order
    // purchase (ts 250 < click 400) correctly did NOT convert
    assert(killed == Set((1L, 100L, 200L, 300L, 3), (2L, 150L, 400L, -1L, 2)),
      s"funnel depths wrong: $killed")
  }

  test("streaming CDC into DocStore: bulk versioning per batch, replay is a no-op") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("ds_stream").toString
    val ckpt = java.nio.file.Files.createTempDirectory("ds_ckpt").toString
    val store = new graft.dms.DocStore(spark, root, nShards = 4)
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def docsDf(rows: Seq[(String, String)]) = rows.toDF("filename", "txt")
      .select(col("filename"), encode(col("txt"), "UTF-8").as("content"))
    val mem = MemoryStream[(String, String)](12, spark, None)
    val stream = mem.toDF().toDF("filename", "txt")
      .select(col("filename"), encode(col("txt"), "UTF-8").as("content"))
    // batch 1: two files, one of them twice -> dense versions within batch
    mem.addData(("a.txt", "a v1"), ("a.txt", "a v2"), ("b.txt", "b v1"))
    Streams.docStoreIngest(stream, store, ckpt, ts)
    assert(store.versions("a.txt") == Seq(1, 2) && store.versions("b.txt") == Seq(1))
    // batch 2 from the SAME checkpoint: only new data processed, versions
    // continue from the store's latest
    mem.addData(("a.txt", "a v3"), ("c.txt", "c v1"))
    Streams.docStoreIngest(stream, store, ckpt, ts)
    assert(store.latestVersion("a.txt").contains(3))
    assert(store.versions("c.txt") == Seq(1) && store.versions("b.txt") == Seq(1))
    // at-least-once replay of an already-committed micro-batch: the
    // committed marker makes it a no-op, never a double version
    Streams.ingestBatch(store, ckpt, ts)(docsDf(Seq(("a.txt", "a v3"))), 0L)
    assert(store.latestVersion("a.txt").contains(3))
    // content round-trips through the bulk path (latest wins)
    assert(new String(store.download("a.txt").get, "UTF-8") == "a v3")
  }

  test("uploadBatch intra-batch ordering follows the seq column, not the content hash") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("ds_seq").toString
    val store = new graft.dms.DocStore(spark, root, nShards = 4)
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    // one CDC micro-batch carrying THREE updates to the same file; pick
    // payloads whose xxhash64 order disagrees with event order for at
    // least one permutation by trying a batch of distinct contents
    val batch = Seq(
      ("x.txt", "update one", 1L),
      ("x.txt", "update two", 2L),
      ("x.txt", "update three", 3L))
      .toDF("filename", "txt", "seq")
      .select(col("filename"), encode(col("txt"), "UTF-8").as("content"), col("seq"))
    store.uploadBatch(batch, ts) // `seq` column auto-detected
    assert(store.versions("x.txt") == Seq(1, 2, 3))
    // the LAST event (seq=3) must be the latest version / download() result,
    // regardless of how the content hashes happen to sort
    assert(new String(store.download("x.txt").get, "UTF-8") == "update three")
    assert(new String(store.content("x.txt", 1).get, "UTF-8") == "update one")
    assert(new String(store.content("x.txt", 2).get, "UTF-8") == "update two")
    // guard the test against accidentally-agreeing orders: the content
    // hash order of these payloads must NOT already equal event order,
    // otherwise this test could pass under the old hash-only ordering
    val hashOrder = Seq("update one", "update two", "update three").toDF("txt")
      .select(col("txt"), xxhash64(encode(col("txt"), "UTF-8")).as("h"))
      .orderBy(col("h")).as[(String, Long)].collect().map(_._1).toSeq
    assert(hashOrder != Seq("update one", "update two", "update three"),
      "pick different payloads: hash order coincides with event order")
    // explicit seqCol parameter also works
    val b2 = Seq(("y.txt", "y first", 10L), ("y.txt", "y second", 20L))
      .toDF("filename", "txt", "evseq")
      .select(col("filename"), encode(col("txt"), "UTF-8").as("content"),
        col("evseq"))
    store.uploadBatch(b2, ts, seqCol = Some("evseq"))
    assert(new String(store.download("y.txt").get, "UTF-8") == "y second")
  }

  test("batch-keyed ingest is exactly-once: replay after a partial write heals the store") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("ds_eo").toString
    val store = new graft.dms.DocStore(spark, root, nShards = 4)
    val ts = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    def docs(rows: (String, String)*) = rows.toSeq.toDF("filename", "txt")
      .select(col("filename"), encode(col("txt"), "UTF-8").as("content"))
    // batch 0 commits normally
    store.uploadBatch(docs(("a.txt", "a v1")), ts, batchId = Some("b0"))
    assert(store.versions("a.txt") == Seq(1))
    // simulate a CRASHED first attempt of batch 1: a partial write that
    // landed only one of the batch's two documents, with a version already
    // assigned — the failure mode the old marker-after-append design
    // could double-version on replay
    store.uploadBatch(docs(("a.txt", "a v2 partial")), ts, batchId = Some("b1"))
    assert(store.versions("a.txt") == Seq(1, 2))
    // the replay of batch 1 (full content this time) must WIPE the partial
    // attempt and assign versions as if it never happened
    store.uploadBatch(docs(("a.txt", "a v2"), ("b.txt", "b v1")), ts,
      batchId = Some("b1"))
    assert(store.versions("a.txt") == Seq(1, 2))
    assert(new String(store.download("a.txt").get, "UTF-8") == "a v2")
    assert(store.versions("b.txt") == Seq(1))
    // and replaying the identical batch again is a pure no-op
    store.uploadBatch(docs(("a.txt", "a v2"), ("b.txt", "b v1")), ts,
      batchId = Some("b1"))
    assert(store.versions("a.txt") == Seq(1, 2) && store.versions("b.txt") == Seq(1))
    assert(store.all.count() == 3)
  }

  test("T8 exactly-once file sink: restart from checkpoint does not duplicate") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_eos").toString
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    // split in event-time order: a batch-2 row behind batch-1's watermark
    // would be (correctly) dropped as late, which is T4's test, not this one
    val byTime = fixture.sortBy(_.ts.getTime)
    byTime.take(3).toDF().write.mode("append").parquet(src)
    def drain(): Unit = {
      val q = Streams.dedupEvents(
          spark.readStream.schema(fixture.toDF().schema).parquet(src))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    assert(spark.read.parquet(out).count() == 3)
    // restart with new + already-processed data: checkpoint must skip the
    // old files, dedup must drop the replayed event ids
    byTime.drop(3).toDF().write.mode("append").parquet(src)
    drain()
    val ids = spark.read.parquet(out).select("event_id").as[Long].collect().sorted
    assert(ids.sameElements(fixture.map(_.event_id).sorted), ids.mkString(","))
  }

  test("T10 streaming funnel matches the batch funnel across micro-batches") {
    import spark.implicits._
    // (user, type, ts): user 1 converts fully but split across batches;
    // user 2's click arrives before any view (never converts past depth 1);
    // user 3 stalls at click; user 4 replays a duplicate purchase
    val all = Seq(
      (1L, "view", 10L), (1L, "click", 20L),
      (2L, "click", 5L), (2L, "view", 15L),
      (3L, "view", 10L), (3L, "click", 30L),
      (4L, "view", 1L), (4L, "click", 2L), (4L, "purchase", 3L),
      (1L, "purchase", 40L), (2L, "purchase", 12L),
      (4L, "purchase", 3L) // replayed duplicate — idempotent transition
    )
    val mem = MemoryStream[(Long, String, Long)](11, spark, None)
    mem.addData(all.take(6): _*)
    mem.addData(all.drop(6): _*)
    Streams.runToMemory(Streams.statefulFunnel(mem.toDS()).toDF(),
      "t10_sink", OutputMode.Update())
    // Update mode appends one refined row per user per batch — the
    // deepest row per user is the final funnel state
    val got = spark.table("t10_sink")
      .groupBy(col("userId"))
      .agg(max(struct(col("depth"), col("vTs"), col("cTs"), col("pTs"))).as("s"))
      .select(col("userId"), col("s.vTs"), col("s.cTs"), col("s.pTs"), col("s.depth"))
      .as[(Long, Long, Long, Long, Int)].collect().toSet
    val want = graft.queries.EventOps.funnel(all.toDF("user_id", "event_type", "ts"))
      .select(col("user_id"), coalesce(col("v_ts"), lit(-1L)),
        coalesce(col("c_ts"), lit(-1L)), coalesce(col("p_ts"), lit(-1L)),
        col("depth"))
      .as[(Long, Long, Long, Long, Int)].collect().toSet
    assert(got == want && got.nonEmpty)
  }

  test("W19 streaming Bollinger monitor matches the batch flags across micro-batches") {
    import spark.implicits._
    // real sf daily counts, split into three day-ordered micro-batches —
    // the stateful monitor must emit exactly the batch query's rows
    val daily = graft.sources.Tables(spark, sf).events
      .groupBy(col("event_type"), expr("unix_micros(ts) DIV 86400000000").as("d"))
      .agg(count(lit(1)).as("y"))
      .as[(String, Long, Long)].collect().sortBy(r => (r._2, r._1)).toSeq
    val days = daily.map(_._2).distinct.sorted
    val (cut1, cut2) = (days(days.length / 3), days(2 * days.length / 3))
    val mem = MemoryStream[(String, Long, Long)](19, spark, None)
    mem.addData(daily.filter(_._2 <= cut1): _*)
    mem.addData(daily.filter(r => r._2 > cut1 && r._2 <= cut2): _*)
    mem.addData(daily.filter(_._2 > cut2): _*)
    Streams.runToMemory(Streams.bollingerStream(mem.toDS()).toDF(), "w19_sink")
    val got = spark.table("w19_sink")
      .select(col("eventType"), col("day"), col("y"),
        col("breachUp"), col("breachDown"))
      .as[(String, Long, Long, Int, Int)].collect().toSet
    val want = SparkEntry.queries("w19_bollinger")(spark, sf)
      .select(col("event_type"), col("day"), col("y"),
        col("breach_up"), col("breach_down"))
      .as[(String, Long, Long, Int, Int)].collect().toSet
    assert(got == want && got.nonEmpty)
  }

  test("T8/S10 file streaming source: AvailableNow drains the directory") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_stream").toString
    fixture.toDF().write.mode("overwrite").parquet(dir)
    Streams.runToMemory(
      Streams.tumblingCounts(Streams.eventsFileStream(spark, dir)),
      "t8_sink", OutputMode.Complete())
    val want = Streams.tumblingCounts(fixture.toDF()).count()
    assert(spark.table("t8_sink").count() == want)
  }

  test("heavy-hitters kill-restart: replayed MG state matches the uninterrupted run and the exact recount") {
    import spark.implicits._
    // The FOURTH stateful family under the commit-marker crash recipe
    // (sessions, windowed agg, funnel — now the sharded Misra-Gries
    // sketch with its gen-counter snapshots). The crash window is the
    // same: offsets/<N> written, commits/<N> missing; restart replays
    // batch N against state version N-1. Both the state (shard counter
    // maps) and the gen counters must come back deterministically: the
    // replayed batch re-folds the same rows into the same recovered map
    // and re-emits an IDENTICAL snapshot row, so the max-gen row per
    // shard — the sketch a consumer reads — is bit-equal to the
    // uninterrupted twin's.
    val tokens = graft.sources.Tables(spark, sf).documents
      .select(explode(graft.functions.Text.tokenize(col("text"))).as("t"))
      .as[String].collect().toSeq
    val batches = tokens.grouped((tokens.size + 2) / 3).toSeq
    def mkDirs() = {
      val b = java.nio.file.Files.createTempDirectory("graft_mg_kill").toString
      (s"$b/src", s"$b/out", s"$b/ckpt")
    }
    def drain(srcDir: String, outDir: String, ckptDir: String): Unit = {
      val q = Streams.heavyHittersStream(
          spark.readStream.schema("t STRING").parquet(srcDir).as[String],
          shards = 8, k = 64)
        .toDF().writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("append").parquet(outDir)
        }
        .outputMode(OutputMode.Update())
        .option("checkpointLocation", ckptDir)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def finalSnaps(outDir: String): Map[Int, (Long, Seq[(String, Long)])] =
      spark.read.parquet(outDir).as[Streams.MgSnap].collect()
        .groupBy(_.shard).map { case (sh, ss) =>
          val top = ss.maxBy(_.gen)
          sh -> (top.gen, top.terms.zip(top.lbs).toSeq)
        }
    val (src, out, ckpt) = mkDirs()
    batches(0).toDF("t").write.mode("append").parquet(src)
    drain(src, out, ckpt)
    batches(1).toDF("t").write.mode("append").parquet(src)
    drain(src, out, ckpt)
    // KILL: drop the newest commit marker — the exact crash window
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.nonEmpty)
    val crc = new java.io.File(commits.last.getParent, s".${commits.last.getName}.crc")
    assert(commits.last.delete(), "could not remove the commit marker")
    if (crc.exists()) crc.delete()
    drain(src, out, ckpt) // replay batch 1 against state version 0
    batches(2).toDF("t").write.mode("append").parquet(src)
    drain(src, out, ckpt)
    // uninterrupted twin — same micro-batch boundaries (gen counts
    // micro-batches, so the twin must see three, not a coalesced two)
    val (src2, out2, ckpt2) = mkDirs()
    batches.foreach { b =>
      b.toDF("t").write.mode("append").parquet(src2)
      drain(src2, out2, ckpt2)
    }
    val killed = finalSnaps(out)
    assert(killed == finalSnaps(out2),
      "post-kill MG snapshots diverged from the uninterrupted run")
    // and the recovered sketch still satisfies the exact-oracle contract
    // that a6_heavy_hitters_stream hash-checks: candidates have no false
    // negatives above the n/(k+1) bar, and the pass-2 exact recount of
    // the candidates IS the exact heavy-hitter set
    val cands = killed.values.flatMap(_._2.map(_._1)).toSet
    val n = tokens.size
    val counts = tokens.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val want = counts.filter { case (_, c) => c * 50 > n }.keySet
    assert(want.nonEmpty && want.subsetOf(cands), s"missing: ${want -- cands}")
    assert(cands.filter(t => counts(t) * 50 > n) == want)
  }

  /** The commit-marker crash recipe shared by the two remaining stateful
    * stream families (T15s dedup+count state, T16s watermarked windowed
    * counts): drop the newest `commits/<N>` marker so restart replays
    * batch N against state version N-1, then compare the final per-key
    * values with an uninterrupted twin that saw the same micro-batch
    * boundaries. Counts only grow across Update-mode emissions, so
    * max-per-key is the deterministic "current value" read. */
  private def killRestartCounts(
      name: String,
      batches: Seq[org.apache.spark.sql.DataFrame],
      transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      keyCols: Seq[String], cntCol: String): Unit = {
    def mkDirs() = {
      val b = java.nio.file.Files.createTempDirectory(s"graft_${name}_kill").toString
      (s"$b/src", s"$b/out", s"$b/ckpt")
    }
    val schema = batches.head.schema
    def drain(srcDir: String, outDir: String, ckptDir: String): Unit = {
      val q = transform(spark.readStream.schema(schema).parquet(srcDir))
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.write.mode("append").parquet(outDir)
        }
        .outputMode(OutputMode.Update())
        .option("checkpointLocation", ckptDir)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    def finals(outDir: String): Map[Seq[String], Long] =
      spark.read.parquet(outDir)
        .groupBy(keyCols.map(col): _*).agg(max(col(cntCol)).as("v"))
        .collect()
        .map(r => keyCols.indices.map(i => String.valueOf(r.get(i))) -> r.getLong(keyCols.size))
        .toMap
    val (src, out, ckpt) = mkDirs()
    batches(0).write.mode("append").parquet(src)
    drain(src, out, ckpt)
    batches(1).write.mode("append").parquet(src)
    drain(src, out, ckpt)
    // KILL: drop the newest commit marker — the exact crash window
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.nonEmpty)
    val crc = new java.io.File(commits.last.getParent, s".${commits.last.getName}.crc")
    assert(commits.last.delete(), "could not remove the commit marker")
    if (crc.exists()) crc.delete()
    drain(src, out, ckpt) // replay the batch against the prior state
    batches(2).write.mode("append").parquet(src)
    drain(src, out, ckpt)
    // uninterrupted twin, same micro-batch boundaries
    val (src2, out2, ckpt2) = mkDirs()
    batches.foreach { b =>
      b.write.mode("append").parquet(src2)
      drain(src2, out2, ckpt2)
    }
    val killed = finals(out)
    assert(killed.nonEmpty)
    assert(killed == finals(out2),
      s"$name: post-kill counts diverged from the uninterrupted run")
  }

  test("T15s kill-restart: replayed new-user state neither drops nor double-counts users") {
    import spark.implicits._
    // FIFTH stateful family under the recipe: dropDuplicates(user_id)
    // dedup state + per-day counts. The replayed batch re-folds the same
    // rows into the recovered dedup set, so a user first seen in the
    // replayed batch claims the same day exactly once.
    val evs = graft.sources.Tables(spark, sf).events
      .select(col("user_id"), col("ts"))
      .orderBy(col("ts"), col("user_id"))
      .as[(Long, Timestamp)].collect().toSeq
    val batches = evs.grouped((evs.size + 2) / 3).toSeq
      .map(_.toDF("user_id", "ts"))
    killRestartCounts("t15", batches, Streams.newUserCounts,
      Seq("day"), "new_users")
  }

  test("T16s kill-restart: replayed drift-bucket state keeps every (window, bucket) count exact") {
    import spark.implicits._
    // SIXTH stateful family: watermarked (window, bucket) counts. The
    // watermark position is itself checkpointed state — the replayed
    // batch must re-aggregate into the recovered window cells without
    // re-advancing past them.
    val evDf = graft.sources.Tables(spark, sf).events
    val mm = evDf.agg(min(col("value")).as("lo"), max(col("value")).as("hi")).head()
    val lo = mm.getDouble(0); val width = (mm.getDouble(1) - lo) / 10
    val evs = evDf.select(col("ts"), col("value"))
      .orderBy(col("ts"), col("value"))
      .as[(Timestamp, Double)].collect().toSeq
    val batches = evs.grouped((evs.size + 2) / 3).toSeq
      .map(_.toDF("ts", "value"))
    killRestartCounts("t16", batches,
      df => Streams.psiBucketCounts(df, lo, width),
      Seq("w_start", "bucket"), "n")
  }
}
