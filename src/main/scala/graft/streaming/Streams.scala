package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}

/** Structured Streaming surface — SURVEY.md §2.10. Each transform is a
  * function from a DataFrame to a DataFrame, so one spelling serves a
  * stream and a batch table alike (`withWatermark` is a no-op on batch
  * input). These functions are what registered, oracle-checked queries
  * call on the batch tables:
  *
  *   - T1 [[tumblingCounts]] (`t1_tumbling_window`), T2 [[slidingCounts]]
  *     (`t2_sliding_window`), T3 [[sessionCounts]] (`t3_session_window`);
  *   - T7 [[enrich]] (`t7_stream_static_join`), T9 [[attributionJoin]]
  *     (`t9_interval_attrib`);
  *   - T28 [[dailyCounts]] under [[graft.queries.EventOps.hysteresis]]
  *     (`t28_hysteresis`);
  *   - a6 [[heavyHittersStream]] + [[runToMemory]]
  *     (`a6_heavy_hitters_stream`).
  *
  * StreamingSpec replays the event log through T1, T2, T3 and T28 and
  * compares each sink with the registered row. No registered query calls
  * the streams below, so the oracle does not see their code: T5
  * [[sessionStream]] (its spec replays the log against
  * `t3_session_window`), T6 [[dedupEvents]], T10 [[statefulFunnel]], T15
  * [[newUserCounts]] / [[newUserCountsIndexed]], T16s
  * [[psiBucketCounts]], W19 [[bollingerStream]], [[novelDocs]],
  * [[bloomGatedIngest]], [[mediaIngestStream]] and [[docStoreIngest]].
  *
  * Scale design: every aggregation carries a watermark so state is bounded
  * (late rows beyond the threshold are dropped, finished windows evicted) —
  * unbounded state is the streaming equivalent of a driver-side collect.
  */
object Streams {

  /** File-based streaming source over an events-shaped parquet directory. */
  def eventsFileStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, value DOUBLE, props STRING")
      .parquet(dir)

  /** T1: tumbling 1h counts per event type, 10m watermark. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).as("total"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"), col("total"))

  /** T2: sliding 1h/15m counts. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("w_start"), col("event_type"), col("n"))

  /** T3: session windows, 30m gap, per user. */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "10 minutes")
      .groupBy(session_window(col("ts"), "30 minutes").as("s"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("s.start").as("s_start"), col("s.end").as("s_end"),
        col("user_id"), col("n_events"))

  /** T6: exactly-once event dedup by id within the watermark horizon.
    * Each id's state entry expires once the watermark passes its first
    * row's event time; a plain `dropDuplicates("event_id")` would keep
    * every id forever, since its key has no event-time column. */
  def dedupEvents(events: DataFrame): DataFrame =
    dedupWithinWatermark(events.withWatermark("ts", "10 minutes"), "event_id")

  /** Dedup on `key` whose state entry expires once the watermark passes
    * the key's first row. Spark rejects `dropDuplicatesWithinWatermark`
    * on batch input, where a plain dedup is the same result. */
  private def dedupWithinWatermark(df: DataFrame, key: String): DataFrame =
    if (df.isStreaming) df.dropDuplicatesWithinWatermark(key) else df.dropDuplicates(key)

  /** T7: stream-static enrichment join (static side broadcast by Catalyst). */
  def enrich(events: DataFrame, dim: DataFrame, eventKey: String, dimKey: String): DataFrame =
    events.join(dim, col(eventKey) === col(dimKey))

  /** T16s: streaming DRIFT-MONITOR source — live windowed bucket counts
    * of a feature distribution against FROZEN reference bins (lo/width
    * come from the training snapshot, broadcast as literals). The
    * stateful part is only a watermarked (window, bucket) count — at
    * most windows x 10 rows of state regardless of stream length; the
    * PSI/KS arithmetic itself is a stateless transform a consumer runs
    * on the tiny sink relation, exactly as batch t16_psi_drift /
    * t17_ks_drift do. Works identically on a batch input (window() is
    * the same function, the watermark a no-op) — the parity spec
    * replays the real event log and matches the batch twin exactly. */
  def psiBucketCounts(events: DataFrame, lo: Double, width: Double,
      windowLen: String = "6 hours"): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), windowLen),
        least(greatest(floor((col("value") - lit(lo)) / lit(width)), lit(0.0)),
          lit(9.0)).cast("int").as("bucket"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("bucket"), col("n"))

  /** T28's day counts: watermarked daily counts of a filtered event
    * stream — the live feed of the hysteresis alert monitor. State is one
    * counter per open day-window regardless of stream length; the alert
    * state machine itself ([[graft.queries.EventOps.hysteresis]]) stays a
    * stateless transform over the tiny sink relation. `t28_hysteresis`
    * runs both on the batch events table. */
  def dailyCounts(events: DataFrame, eventType: String): DataFrame =
    events
      .filter(col("event_type") === eventType)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n"))
      .select(expr("unix_micros(window.start) DIV 86400000000").as("d"), col("n"))

  /** T9: stream-stream interval join — view→click attribution: each click
    * matches views of the same user in (click.ts - 30m, click.ts]. BOTH
    * sides carry watermarks and the join condition bounds event time, so
    * Spark evicts buffered rows once the watermark passes the interval —
    * without the time bound, stream-stream join state grows forever (the
    * streaming equivalent of an unfenced cross product).
    *
    * Works identically on batch inputs (withWatermark is a no-op there):
    * the batch oracle query t9_interval_attrib runs THIS function.
    */
  def attributionJoin(views: DataFrame, clicks: DataFrame): DataFrame = {
    val v = views.select(col("event_id").as("view_id"),
        col("user_id").as("v_user"), col("ts").as("v_ts"))
      .withWatermark("v_ts", "10 minutes")
    val c = clicks.select(col("event_id").as("click_id"),
        col("user_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "10 minutes")
    c.join(v,
        col("user_id") === col("v_user") &&
          col("c_ts") >= col("v_ts") &&
          col("c_ts") < col("v_ts") + expr("INTERVAL 30 MINUTES"))
      .select(col("user_id"), col("click_id"), col("view_id"),
        (unix_micros(col("c_ts")) - unix_micros(col("v_ts"))).as("lag_us"))
  }

  /** Incremental-ingest dedup — the production D4 shape: content-hash the
    * incoming document stream, anti-join against the persisted sha index
    * (only content the corpus has never seen passes), then stream-dedup on
    * the hash so duplicates WITHIN the stream collapse to first arrival.
    * At scale `knownShas` is the (tiny relative to content) hash column of
    * the corpus; the anti join is stream-static, so no state grows with
    * corpus size — only the in-stream dedup keeps state. */
  def novelDocs(docs: DataFrame, knownShas: DataFrame): DataFrame =
    docs.withColumn("content_sha", sha2(col("text"), 256))
      .join(knownShas, Seq("content_sha"), "left_anti")
      .dropDuplicates("content_sha")

  /** Incremental new-user counts — the streaming twin of
    * `t15_cumulative_users`: first sighting of each user claims its day
    * (stream dedup on user_id), then a per-day count maintained in
    * Update mode; the running total is the consumer-side cumsum of the
    * day rows, so the growth curve never recounts history. First
    * SIGHTING means arrival order: on an event-time-ordered replay this
    * equals the batch first-day curve exactly (the parity spec drives
    * that), on an out-of-order live stream it is the standard CDC
    * approximation. State is one key per distinct user — at real scale
    * the first-sighting filter becomes a stream-static anti-join
    * against the persisted user index (the [[novelDocs]] shape) so the
    * state store holds only the current watermark window. */
  def newUserCounts(events: DataFrame): DataFrame =
    events.select(col("user_id"), to_date(col("ts")).as("day"))
      .dropDuplicates("user_id")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("new_users"))

  /** The PRODUCTION shape of [[newUserCounts]] the scaladoc above
    * promises (implemented round 15 — the LibraryFenceSpec watermark
    * fence found the demo's per-user state unbounded and this is the
    * fix, not an exemption): first-sighting detection is a STREAM-STATIC
    * anti-join against the persisted user index (`knownUsers`, refreshed
    * per ingest cycle like any search index — the [[novelDocs]] shape),
    * so the state store holds only the users first seen INSIDE the
    * current watermark horizon (the in-stream dedup); everyone older is
    * the index's job. State is bounded by arrival rate × horizon, never
    * by the corpus's total user count. Contract: a user absent from the
    * index recurring BEYOND the horizon re-counts until the index
    * refresh lands — the standard CDC trade, identical to the batch
    * curve whenever refresh cadence ≤ horizon. */
  def newUserCountsIndexed(events: DataFrame, knownUsers: DataFrame): DataFrame = {
    val unindexed = events.select(col("user_id"), col("ts"), to_date(col("ts")).as("day"))
      .withWatermark("ts", "10 minutes")
      .join(knownUsers.select(col("user_id")), Seq("user_id"), "left_anti")
    dedupWithinWatermark(unindexed, "user_id")
      .groupBy(col("day"))
      .agg(count(lit(1)).as("new_users"))
  }

  /** Bloom-gated ingest: flag each streamed doc against a STATIC corpus
    * Bloom filter ([[graft.dedup.Dedup.bloomWords]]) — stateless per
    * micro-batch (no state store at all: the filter rides in as a
    * broadcast static table, the verdict is a pure per-row function of
    * the key). The 100 TB ingest gate: `maybe_seen = false` rows are
    * guaranteed-novel (Bloom has no false negatives) and can skip the
    * expensive exact dedup entirely; only the `maybe_seen` sliver goes
    * on to the anti-join. Emits the doc columns + `maybe_seen`. */
  def bloomGatedIngest(docs: DataFrame, bloom: DataFrame,
      keyCol: String, words: Int, numHashes: Int): DataFrame = {
    // wide form, not explode+groupBy: an aggregate would force a state
    // store in append mode; k left joins against the same tiny broadcast
    // relation keep the verdict a pure per-row function
    var out = docs
    for (s <- 0 until numHashes) {
      out = out
        .withColumn(s"__w$s", expr(s"(${posSql(keyCol, s, words)}) DIV 62"))
        .withColumn(s"__b$s", (expr(posSql(keyCol, s, words)) % 62).cast("int"))
        .join(broadcast(bloom.select(col("word").as(s"__w$s"),
          col("bits").as(s"__bits$s"))), Seq(s"__w$s"), "left")
    }
    val seen = (0 until numHashes).map { s =>
      coalesce(col(s"__bits$s"), lit(0L))
        .bitwiseAND(expr(s"shiftleft(cast(1 as bigint), __b$s)")) =!= 0L
    }.reduce(_ && _)
    out.withColumn("maybe_seen", seen)
      .drop((0 until numHashes).flatMap(s =>
        Seq(s"__w$s", s"__b$s", s"__bits$s")): _*)
  }

  /** SQL text of [[graft.dedup.Dedup.bloomPos]] for streaming-safe inline
    * column reuse. */
  private def posSql(keyCol: String, seed: Int, words: Int): String =
    s"pmod(cast(conv(substring(md5(concat('$seed:', $keyCol)), 1, 15), 16, 10) " +
      s"as bigint), ${words * 62L})"

  /** One running session per user for [[sessionStream]]. */
  case class SessionState(start: Long, lastTs: Long, n: Long)
  case class SessionOut(userId: Long, startMicros: Long, endMicros: Long, nEvents: Long)

  /** Per-user funnel progress for [[statefulFunnel]]: −1 = stage unset. */
  case class FunnelState(v: Long, c: Long, p: Long)
  case class FunnelOut(userId: Long, vTs: Long, cTs: Long, pTs: Long, depth: Int)

  /** T10, incremental: the view → click → purchase funnel as a per-user
    * state machine over a stream — fixed-size state (three longs), Update
    * mode emits the refined funnel row whenever a user's depth can have
    * advanced. Same strictness as [[graft.queries.EventOps.funnel]]: a
    * stage only converts on an event STRICTLY after the previous stage.
    * Contract: per-user event-time-ordered arrival across micro-batches
    * (the CDC-ordered case); the StreamingSpec parity test replays a
    * multi-batch stream and matches the batch funnel exactly. Stage
    * state only ever refines forward, so replays/duplicates are
    * harmless (idempotent transitions).
    */
  def statefulFunnel(
      events: Dataset[(Long, String, Long)] // (user_id, event_type, ts)
  ): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (userId, rows, state: GroupState[FunnelState]) =>
          var s = state.getOption.getOrElse(FunnelState(-1L, -1L, -1L))
          // (ts, type) order makes same-timestamp batches deterministic
          // and agrees with the batch min/strictly-after semantics
          rows.toSeq.sortBy(r => (r._3, r._2)).foreach { case (_, typ, ts) =>
            typ match {
              case "view" if s.v < 0                            => s = s.copy(v = ts)
              case "click" if s.v >= 0 && s.c < 0 && ts > s.v   => s = s.copy(c = ts)
              case "purchase" if s.c >= 0 && s.p < 0 && ts > s.c => s = s.copy(p = ts)
              case _                                            => ()
            }
          }
          state.update(s)
          if (s.v < 0) Iterator.empty
          else Iterator(FunnelOut(userId, s.v, s.c, s.p,
            1 + (if (s.c >= 0) 1 else 0) + (if (s.p >= 0) 1 else 0)))
      }
  }

  /** T5, truly incremental: the custom-state spelling of T3's sessions
    * (the escape hatch for session logic `session_window` can't express:
    * per-event predicates, session caps, custom emission), correct when a
    * user's events arrive across MANY micro-batches. State carries the
    * open session; each batch merges new events in event-time order —
    * a gap >= `gapMicros` closes the open session and starts a new one —
    * and an EVENT-TIME TIMEOUT closes idle sessions once the watermark
    * passes session end, so state is bounded and sessions are emitted
    * even if the user never returns. StreamingSpec replays the event log
    * and matches `t3_session_window` session for session.
    */
  def sessionStream(
      events: DataFrame, // needs user_id, ts (watermarked by caller or here)
      gapMicros: Long = 30L * 60 * 1000000
  ): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "10 minutes")
      .select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            // watermark passed the open session's end: close and evict
            val s = state.get
            state.remove()
            Iterator(SessionOut(userId, s.start, s.lastTs + gapMicros, s.n))
          } else {
            val sorted = rows.map { case (_, t) => // micros, sub-ms kept
              Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000
            }.toSeq.sorted
            val closed = Vector.newBuilder[SessionOut]
            var open = state.getOption
            sorted.foreach { ts =>
              open match {
                case None => open = Some(SessionState(ts, ts, 1))
                case Some(s) =>
                  if (ts - s.lastTs >= gapMicros) {
                    closed += SessionOut(userId, s.start, s.lastTs + gapMicros, s.n)
                    open = Some(SessionState(ts, ts, 1))
                  } else
                    open = Some(s.copy(lastTs = math.max(s.lastTs, ts), n = s.n + 1))
              }
            }
            open.foreach { s =>
              state.update(s)
              // close when the watermark passes the would-be session end
              state.setTimeoutTimestamp((s.lastTs + gapMicros) / 1000L)
            }
            closed.result().iterator
          }
      }
  }

  /** Streaming multimodal ingest — the in-flight media pipeline: a
    * binary-file stream (one row per landed file) flows through the SAME
    * header sniff + real decode used in batch. Stateless per row: no
    * watermark or state store needed; decode stats ride each row, so a
    * downstream aggregation or index update sees real pixel/sample
    * statistics as files arrive. kind is inferred from the sniffed mime
    * prefix (image -> image, audio -> audio), unknown codecs degrade to
    * octet-stream rows rather than failing the stream.
    */
  def mediaIngestStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val mm = graft.multimodal.Multimodal
    // binaryFile's schema is fixed by the source; streaming requires it
    // to be declared explicitly (no inference on streams)
    val binarySchema = new StructType()
      .add("path", StringType).add("modificationTime", TimestampType)
      .add("length", LongType).add("content", BinaryType)
    val raw = spark.readStream.format("binaryFile")
      .schema(binarySchema).load(dir)
      .select(
        // stable id from the landed path (deterministic, restart-safe)
        xxhash64(col("path")).as("media_id"),
        lit("auto").as("kind"),
        col("content"))
    mm.ingest(raw)
      .withColumn("kind",
        when(col("mime").startsWith("image/"), "image")
          .when(col("mime").startsWith("audio/"), "audio")
          .otherwise("binary"))
      .withColumn("bmp", mm.bmpStatsUdf(col("content")))
      .withColumn("wav", mm.wavStatsUdf(col("content")))
      .select(col("media_id"), col("kind"), col("mime"),
        col("width"), col("height"), col("sample_rate"), col("duration_ms"),
        col("bmp.pix_sum").as("pix_sum"),
        col("wav.smp_sum").as("smp_sum"))
  }

  /** The idempotent micro-batch body of [[docStoreIngest]], visible so a
    * spec can replay a batch id and assert the no-op. foreachBatch gives
    * at-least-once delivery of (batch, id); the store makes it
    * EXACTLY-ONCE structurally: each micro-batch lands in its own batch
    * partition via dynamic partition overwrite, with version assignment
    * reading the store minus that partition — so a replay after ANY crash
    * point (including mid-write) recomputes identical versions and wipes
    * whatever the failed attempt left ([[graft.dms.DocStore.uploadBatch]]).
    * The committed-id marker is only a fast-path skip that saves the
    * no-op rewrite on a clean replay; correctness does not depend on it
    * (Hadoop FileSystem so HDFS/S3A checkpoint dirs work). */
  def ingestBatch(store: graft.dms.DocStore, markerDir: String,
      at: java.sql.Timestamp, seqCol: Option[String] = None)(
      batch: DataFrame, id: Long): Unit = {
    val conf = batch.sparkSession.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(markerDir)
    val fs = dir.getFileSystem(conf)
    val marker = new org.apache.hadoop.fs.Path(dir, s"committed-$id")
    if (!fs.exists(marker)) {
      store.uploadBatch(batch, at, seqCol, batchId = Some(s"b$id"))
      fs.mkdirs(dir)
      fs.create(marker, /* overwrite = */ false).close()
    }
  }

  /** Streaming CDC into the versioned document store: each micro-batch of
    * (filename, content) bulk-upserts via [[graft.dms.DocStore.uploadBatch]]
    * — ONE store aggregate + batch-partition write per batch, not per doc
    * — inside foreachBatch. Exactly-once under replay: see
    * [[ingestBatch]] (structural idempotence via per-batch dynamic
    * partition overwrite). Pass the CDC source's ordering column as
    * `seqCol` so conflicting same-file updates inside one micro-batch
    * version in event order. Drains available input and returns. */
  def docStoreIngest(docs: DataFrame, store: graft.dms.DocStore,
      checkpointDir: String, at: java.sql.Timestamp,
      seqCol: Option[String] = None): Unit = {
    val q = docs.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", s"$checkpointDir/ckpt")
      .trigger(Trigger.AvailableNow())
      .foreachBatch(ingestBatch(store, checkpointDir, at, seqCol) _)
      .start()
    q.awaitTermination()
  }

  /** Per-shard candidate snapshot from [[heavyHittersStream]]: `gen` is
    * the shard's batch counter — the row with the max gen per shard is the
    * current sketch. Parallel arrays keep the encoder simple. */
  case class MgSnap(shard: Int, gen: Long, terms: Array[String], lbs: Array[Long])

  /** T11, streaming sketch: sharded Misra-Gries heavy hitters over an
    * unbounded term stream with FIXED state — `shards · k` counters total,
    * no matter how many distinct terms flow past. Each term hashes to
    * exactly ONE shard, so a shard's substream contains the term's whole
    * count and the classic MG guarantee survives sharding: any term with
    * global frequency > n/(k+1) exceeds its own shard's n_shard/(k+1) bar
    * and cannot be evicted from that shard's sketch — the union of shard
    * snapshots has no false negatives. Each micro-batch folds its rows
    * into the state with the SAME reduce as the batch aggregate
    * ([[graft.functions.MisraGries]]) and emits the shard's full snapshot
    * (Update mode); downstream recounts candidates exactly, as in
    * `a6_heavy_hitters` pass 2. StreamingSpec replays a multi-batch
    * stream and matches the exact batch heavy hitters.
    */
  def heavyHittersStream(
      terms: Dataset[String], shards: Int = 16, k: Int = 64): Dataset[MgSnap] = {
    import terms.sparkSession.implicits._
    val agg = new graft.functions.MisraGries(k)
    terms.filter(_ != null)
      .groupByKey(t => math.floorMod(t.hashCode, shards))
      .flatMapGroupsWithState[(Long, Map[String, Long]), MgSnap](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        case (shard, rows, state: GroupState[(Long, Map[String, Long])]) =>
          val (gen, prev) = state.getOption.getOrElse((0L, Map.empty[String, Long]))
          val b = scala.collection.mutable.HashMap.empty[String, Long] ++= prev
          rows.foreach(agg.reduce(b, _))
          val snap = b.toMap
          state.update((gen + 1, snap))
          val sorted = snap.toArray.sortBy(_._1)
          Iterator(MgSnap(shard, gen + 1, sorted.map(_._1), sorted.map(_._2)))
      }
  }

  /** Trailing 7-day window per type for [[bollingerStream]] — fixed size. */
  case class BollState(days: Array[Long], ys: Array[Long])
  case class BollOut(eventType: String, day: Long, y: Long, s1: Long,
      s2: Long, breachUp: Int, breachDown: Int)

  /** W19, incremental: the Bollinger band-breach monitor as a per-type
    * state machine over a stream of (event_type, day, daily_count) rows —
    * the alerting deployment of the batch query. State is the trailing
    * SEVEN (day, y) pairs per event type (fixed-size — 14 longs no
    * matter how long the stream runs); each arriving day slides the
    * window and, once full, emits the exact-integer sums plus the
    * float-free breach verdicts ((7y − S1)² > 4·(7S2 − S1²) on BIGINTs,
    * exactly the batch w19 flags). Contract: per-type day-ordered
    * arrival across micro-batches (the daily-rollup CDC case);
    * StreamingSpec replays a multi-batch stream and matches the batch
    * query's flag rows exactly.
    */
  def bollingerStream(
      daily: Dataset[(String, Long, Long)] // (event_type, day, y)
  ): Dataset[BollOut] = {
    import daily.sparkSession.implicits._
    daily
      .groupByKey(_._1)
      .flatMapGroupsWithState[BollState, BollOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (typ, rows, state: GroupState[BollState]) =>
          var window = state.getOption
            .map(s => s.days.zip(s.ys).toVector).getOrElse(Vector.empty)
          val out = Vector.newBuilder[BollOut]
          rows.toSeq.sortBy(_._2).foreach { case (_, d, y) =>
            window = (window :+ (d, y)).takeRight(7)
            if (window.length == 7) {
              val s1 = window.map(_._2).sum
              val s2 = window.map(v => v._2 * v._2).sum
              val dev = 7 * y - s1
              val b = 7 * s2 - s1 * s1
              out += BollOut(typ, d, y, s1, s2,
                if (dev > 0 && dev * dev > 4 * b) 1 else 0,
                if (dev < 0 && dev * dev > 4 * b) 1 else 0)
            }
          }
          state.update(BollState(window.map(_._1).toArray,
            window.map(_._2).toArray))
          out.result().iterator
      }
  }

  /** T8: drive a stream to the memory sink `name` until idle; query the
    * sink as `spark.table(name)`. AvailableNow processes everything then
    * stops — the batch-parity trigger. */
  def runToMemory(df: DataFrame, name: String, mode: OutputMode = OutputMode.Append()): Unit = {
    val q = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }
}
