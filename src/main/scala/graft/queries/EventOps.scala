package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Canon._
import graft.functions.Bounded
import graft.sources.Tables
import graft.Materialize.{CutSyntax, Shared}
import graft.streaming.Streams

/** Event-time operators over the events table — SURVEY.md §2.10.
  *
  * The windowed rows (t1, t2, t3, t7, t9, t28) call the streaming
  * transforms of [[graft.streaming.Streams]] on the batch relation, so
  * the DuckDB oracle hash-checks the one spelling a stream also runs —
  * window alignment, session gap boundaries (new session iff
  * gap >= threshold) — and the row adds only the oracle-facing
  * rendering. The other rows are batch-only event-time operators.
  *
  * Money-style sums go through decimal(18,4) so the result is independent
  * of partition/accumulation order — double sums are neither.
  */
object EventOps {

  val all: Seq[Q] = Seq(
    Q(
      "t1_tumbling_window",
      Some("""SELECT strftime(time_bucket(INTERVAL 1 HOUR, ts), '%Y-%m-%d %H:%M:%S') AS w_start,
             |       event_type, count(*) AS n,
             |       sum(value::DECIMAL(18,4))::DOUBLE AS total
             |FROM events GROUP BY 1, 2
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        // exact decimal sum (order-independent), one cast back to double
        // at the end so both engines emit a float column
        ordered(
          Streams.tumblingCounts(t.events)
            .select(tstr(col("w_start")).as("w_start"), col("event_type"),
              col("n"), col("total").cast("double").as("total"))
        )
      }
    ),
    Q(
      "t2_sliding_window",
      // 1h windows sliding by 15m: every event lands in 4 windows, starts
      // aligned to 15-minute epoch boundaries (Spark's alignment)
      Some("""SELECT strftime(time_bucket(INTERVAL 15 MINUTES, ts)
             |                - j * INTERVAL 15 MINUTES, '%Y-%m-%d %H:%M:%S') AS w_start,
             |       event_type, count(*) AS n
             |FROM events CROSS JOIN (SELECT unnest(range(4)) AS j)
             |GROUP BY 1, 2
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        ordered(
          Streams.slidingCounts(t.events)
            .select(tstr(col("w_start")).as("w_start"), col("event_type"), col("n"))
        )
      }
    ),
    Q(
      "t3_session_window",
      // session gap 30m; session end = last event + gap (exclusive). New
      // session iff ts - prev >= gap — the gaps-and-islands oracle pins
      // Spark's boundary semantics exactly
      Some("""WITH x AS (
             |  SELECT user_id, ts,
             |         CASE WHEN lag(ts) OVER w IS NULL
             |                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTES
             |              THEN 1 ELSE 0 END AS new_s
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             |),
             |y AS (
             |  SELECT user_id, ts,
             |         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
             |                          ROWS UNBOUNDED PRECEDING) AS sid
             |  FROM x
             |)
             |SELECT user_id,
             |       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS s_start,
             |       strftime(max(ts) + INTERVAL 30 MINUTES,
             |                '%Y-%m-%d %H:%M:%S.%f') AS s_end,
             |       count(*) AS n_events
             |FROM y GROUP BY user_id, sid
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        ordered(
          Streams.sessionCounts(t.events)
            .select(col("user_id"), tus(col("s_start")).as("s_start"),
              tus(col("s_end")).as("s_end"), col("n_events"))
        )
      }
    ),
    Q(
      "t5_sessions_gaps_islands",
      // same sessions built the analytic-window way (lag + cumulative
      // flag) — cross-validates session_window against first principles
      Some("""WITH x AS (
             |  SELECT user_id, ts, event_id,
             |         CASE WHEN lag(ts) OVER w IS NULL
             |                OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTES
             |              THEN 1 ELSE 0 END AS new_s
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
             |),
             |y AS (
             |  SELECT user_id, ts,
             |         CAST(sum(new_s) OVER (PARTITION BY user_id
             |                               ORDER BY ts, event_id
             |                               ROWS UNBOUNDED PRECEDING)
             |              AS BIGINT) AS sid
             |  FROM x
             |)
             |SELECT user_id, sid, count(*) AS n_events,
             |       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS s_start
             |FROM y GROUP BY user_id, sid
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val flagged = t.events.withColumn("new_s",
          when(lag(col("ts"), 1).over(w).isNull ||
            unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w)) >= 1800000000L,
            1L).otherwise(0L))
        // same (ts, event_id) tie-break as the lag window `w` — with tied
        // timestamps an orderBy(ts)-only cumulative sum assigns sids
        // nondeterministically vs the oracle
        val wc = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ordered(
          flagged.withColumn("sid", sum(col("new_s")).over(wc))
            .groupBy(col("user_id"), col("sid"))
            .agg(count(lit(1)).as("n_events"), tus(min(col("ts"))).as("s_start"))
        )
      }
    ),
    Q(
      "t6_dedup_first_event",
      // deterministic stream-dedup keeper: earliest (ts, event_id) per
      // (user, type) — dropDuplicates keeps an arbitrary row, min(struct)
      // keeps a defined one
      Some("""WITH r AS (
             |  SELECT user_id, event_type, event_id, ts,
             |         row_number() OVER (PARTITION BY user_id, event_type
             |                            ORDER BY ts, event_id) AS rn
             |  FROM events
             |)
             |SELECT user_id, event_type, event_id AS first_event_id,
             |       strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS first_ts
             |FROM r WHERE rn = 1
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        // min(struct(...)) — and even min_by with a struct ordering —
        // demotes the group-by to SortAggregate (structs are not mutable
        // aggregation-buffer types). Packing the (ts, event_id) order
        // into ONE decimal keeps every buffer slot fixed-width, so the
        // stage stays a HashAggregate with map-side partials: the keeper
        // choice is still exactly "smallest (ts, event_id)" for any
        // event_id < 10^10 (the multiplier; widen it for larger domains —
        // decimal(38,0) has 13 more digits of headroom).
        val ord = (unix_micros(col("ts")).cast("decimal(28,0)") * lit(10000000000L)
          + col("event_id")).cast("decimal(38,0)")
        ordered(
          t.events
            .groupBy(col("user_id"), col("event_type"))
            .agg(
              min_by(col("event_id"), ord).as("first_event_id"),
              min(col("ts")).as("min_ts"))
            .select(col("user_id"), col("event_type"),
              col("first_event_id"), tus(col("min_ts")).as("first_ts"))
        )
      }
    ),
    Q(
      "t7_stream_static_join",
      // stream-static enrichment shape: fact events x broadcast dim
      Some("""SELECT c.c_mktsegment, e.event_type, count(*) AS n,
             |       sum(e.value::DECIMAL(18,4))::DOUBLE AS total
             |FROM events e JOIN customer c ON e.user_id = c.c_custkey
             |GROUP BY 1, 2
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        ordered(
          Streams.enrich(t.events, broadcast(t.customer), "user_id", "c_custkey")
            .groupBy(col("c_mktsegment"), col("event_type"))
            .agg(count(lit(1)).as("n"),
              sum(col("value").cast("decimal(18,4)")).cast("double").as("total"))
        )
      }
    ),
    Q(
      "t9_interval_attrib",
      // stream-stream interval join, batch-checked: view→click attribution
      // within a 30m horizon. Runs the SAME function the streaming path
      // uses (Streams.attributionJoin — withWatermark is a no-op on batch);
      // StreamingSpec drives it with two MemoryStreams for stream parity.
      Some("""SELECT c.user_id, c.event_id AS click_id, v.event_id AS view_id,
             |       epoch_us(c.ts) - epoch_us(v.ts) AS lag_us
             |FROM events c JOIN events v
             |  ON c.user_id = v.user_id
             | AND c.event_type = 'click' AND v.event_type = 'view'
             | AND c.ts >= v.ts AND c.ts < v.ts + INTERVAL 30 MINUTES
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        ordered(
          Streams.attributionJoin(
            t.events.filter(col("event_type") === "view"),
            t.events.filter(col("event_type") === "click"))
        )
      }
    ),
    Q(
      "t_props_json",
      // events.props is a JSON string — extraction surface (§2.8 JSON)
      Some("""SELECT event_type,
             |       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
             |            AS BIGINT) AS k_sum,
             |       count(*) AS n
             |FROM events GROUP BY 1
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        ordered(
          t.events
            .groupBy(col("event_type"))
            .agg(sum(get_json_object(col("props"), "$.k").cast("long")).as("k_sum"),
              count(lit(1)).as("n"))
        )
      }
    ),
    Q(
      "t11_anomaly_zscore",
      // Per-type z-score anomaly detection — the telemetry outlier gate.
      // Engine-exact despite float stats: per-type Σv and Σv² accumulate
      // as DECIMALs (values are 2-decimal, squares 4-decimal — both exact
      // and order-independent), convert to double ONCE (magnitudes stay
      // under 2^53 so the conversion is exact), and mean/std/z evaluate
      // as the same literal IEEE formula in both engines. 100 TB shape:
      // a 5-row stats aggregate broadcast back onto the event scan — one
      // pass for stats, one for scoring.
      Some("""WITH s AS (
             |  SELECT event_type, count(*) AS n,
             |         sum(CAST(value AS DECIMAL(18,2))) AS s1,
             |         sum(CAST(value AS DECIMAL(18,2))
             |             * CAST(value AS DECIMAL(18,2))) AS s2
             |  FROM events GROUP BY 1
             |)
             |SELECT e.event_id, e.event_type, e.value,
             |       round((e.value - CAST(s.s1 AS DOUBLE) / s.n)
             |             / sqrt((CAST(s.s2 AS DOUBLE)
             |                     - CAST(s.s1 AS DOUBLE) * CAST(s.s1 AS DOUBLE) / s.n)
             |                    / (s.n - 1)), 4) AS z
             |FROM events e JOIN s USING (event_type)
             |WHERE abs((e.value - CAST(s.s1 AS DOUBLE) / s.n)
             |          / sqrt((CAST(s.s2 AS DOUBLE)
             |                  - CAST(s.s1 AS DOUBLE) * CAST(s.s1 AS DOUBLE) / s.n)
             |                 / (s.n - 1))) > 2.5
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val d = col("value").cast("decimal(18,2)")
        val stats = t.events.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), sum(d).as("s1"), sum(d * d).as("s2"))
        val mean = col("s1").cast("double") / col("n")
        val std = sqrt((col("s2").cast("double")
          - col("s1").cast("double") * col("s1").cast("double") / col("n"))
          / (col("n") - 1))
        val z = (col("value") - mean) / std
        ordered(
          t.events.join(broadcast(stats), Seq("event_type"))
            .filter(abs(z) > 2.5)
            .select(col("event_id"), col("event_type"), col("value"),
              round(z, 4).as("z"))
        )
      }
    ),
    Q(
      "t10_funnel",
      // Ordered-sequence FUNNEL (view → click → purchase): for each user,
      // the first view, the first click strictly after it, the first
      // purchase strictly after that — the canonical event-analytics
      // conversion query, with per-user stage timestamps and reached
      // depth. Strictly-ordered semantics (not mere presence) is the
      // point: a click before any view does not count. 100 TB shape:
      // three per-user hash aggregates chained by equi-joins on user_id —
      // every relation after the first scan is one row per user, and the
      // stage predicate prunes the fact scan each pass. Timestamps render
      // via the shared tstr/strftime canon; NULL propagates for users who
      // stall mid-funnel.
      Some("""WITH v AS (
             |  SELECT user_id, min(ts) AS v_ts
             |  FROM events WHERE event_type = 'view' GROUP BY user_id
             |),
             |c AS (
             |  SELECT e.user_id, min(e.ts) AS c_ts
             |  FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.v_ts
             |  WHERE e.event_type = 'click' GROUP BY e.user_id
             |),
             |p AS (
             |  SELECT e.user_id, min(e.ts) AS p_ts
             |  FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.c_ts
             |  WHERE e.event_type = 'purchase' GROUP BY e.user_id
             |)
             |SELECT v.user_id,
             |       strftime(v.v_ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
             |       strftime(c.c_ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
             |       strftime(p.p_ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
             |       1 + CASE WHEN c.c_ts IS NULL THEN 0 ELSE 1 END
             |         + CASE WHEN p.p_ts IS NULL THEN 0 ELSE 1 END AS depth
             |FROM v LEFT JOIN c ON c.user_id = v.user_id
             |       LEFT JOIN p ON p.user_id = v.user_id
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        ordered(
          funnel(t.events)
            .select(col("user_id"),
              tstr(col("v_ts")).as("view_ts"),
              tstr(col("c_ts")).as("click_ts"),
              tstr(col("p_ts")).as("purchase_ts"),
              col("depth"))
        )
      }
    ),
    Q(
      "t12_markov_transitions",
      // First-order Markov transition matrix over per-user event
      // sequences: one lag window per user (ts, event_id total order —
      // the t5 tie-break discipline) yields (src → dst) transitions; the
      // matrix is counts + row-normalized probabilities, p a ratio of
      // exact BIGINTs rounded once. The sequence-analytics complement to
      // the t10 funnel: where the funnel asks "did the canonical path
      // happen", the matrix measures where sequences actually flow.
      // 100 TB shape: ONE user-partitioned window over the event stream
      // (the same partitioning every per-user analytic here shares),
      // then everything rides the |event_type|² transition relation —
      // the row-sum window is over that bounded matrix, not the corpus.
      Some("""WITH tr AS (
             |  SELECT lag(event_type) OVER (PARTITION BY user_id
             |                              ORDER BY ts, event_id) AS src,
             |         event_type AS dst
             |  FROM events
             |),
             |c AS (
             |  SELECT src, dst, count(*) AS c
             |  FROM tr WHERE src IS NOT NULL GROUP BY src, dst
             |)
             |SELECT src, dst, c,
             |       round(CAST(c AS DOUBLE) /
             |             CAST(sum(c) OVER (PARTITION BY src) AS DOUBLE), 4) AS p
             |FROM c
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        val c = t.events
          .select(lag(col("event_type"), 1).over(w).as("src"),
            col("event_type").as("dst"))
          .filter(col("src").isNotNull)
          .groupBy(col("src"), col("dst")).agg(count(lit(1)).as("c"))
        ordered(
          c.withColumn("p",
            round(col("c").cast("double") /
              sum(col("c")).over(Window.partitionBy(col("src"))).cast("double"), 4))
        )
      }
    ),
    Q(
      "t2_sliding_distinct",
      // Distinct users per sliding window — the non-algebraic twin of
      // t2's counts: overlapping windows can't share partial distinct
      // state, so the correct distributed shape is explode-to-window
      // THEN (window, user) dedup THEN count, keeping the heavy distinct
      // on the (window, user) hash — never a per-window set union. 100 TB
      // shape: one shuffle on (window, user) with map-side dedup
      // partials, then a map-side-combinable count; state is bounded by
      // windows × active users, not events.
      Some("""SELECT strftime(time_bucket(INTERVAL 15 MINUTES, ts)
             |                - j * INTERVAL 15 MINUTES, '%Y-%m-%d %H:%M:%S') AS w_start,
             |       count(DISTINCT user_id) AS n_users
             |FROM events CROSS JOIN (SELECT unnest(range(4)) AS j)
             |GROUP BY 1
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        ordered(
          t.events
            .select(window(col("ts"), "1 hour", "15 minutes").as("w"),
              col("user_id"))
            .select(tstr(col("w.start")).as("w_start"), col("user_id"))
            .distinct()
            .groupBy(col("w_start"))
            .agg(count(lit(1)).as("n_users"))
        )
      }
    ),
    Q(
      "t14_cohort_retention",
      // Cohort retention matrix — the product-analytics complement to the
      // t10 funnel: users cohorted by first-active week, each cell
      // (cohort_week, week_offset) counts the cohort's users still
      // active that many weeks later, with retention as a percentage of
      // cohort size. All bucketing is integer day arithmetic off a fixed
      // epoch (datediff div 7 — no timezone/week-start semantics to
      // disagree on) and retention is a ratio of exact BIGINTs rounded
      // once. 100 TB shape: one hash aggregate to per-user first-day
      // (map-side partial over user_id), an equi-join of events to their
      // user's cohort on the SAME user_id partitioning, then everything
      // rides the (user, week) distinct relation and the weeks² cell
      // matrix; cohort sizes (≤ weeks rows) broadcast onto the cells.
      Some("""WITH ev AS (
             |  SELECT user_id,
             |         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day
             |  FROM events
             |),
             |firstday AS (SELECT user_id, min(day) AS first_day FROM ev GROUP BY user_id),
             |uw AS (
             |  SELECT DISTINCT ev.user_id, f.first_day // 7 AS cohort_week,
             |         ev.day // 7 - f.first_day // 7 AS week_offset
             |  FROM ev JOIN firstday f ON ev.user_id = f.user_id
             |),
             |cells AS (
             |  SELECT cohort_week, week_offset, count(*) AS n_active
             |  FROM uw GROUP BY cohort_week, week_offset
             |),
             |sizes AS (
             |  SELECT first_day // 7 AS cohort_week, count(*) AS cohort_size
             |  FROM firstday GROUP BY 1
             |)
             |SELECT c.cohort_week, c.week_offset, c.n_active, s.cohort_size,
             |       round(100.0 * CAST(c.n_active AS DOUBLE) / s.cohort_size, 4)
             |         AS retention_pct
             |FROM cells c JOIN sizes s ON c.cohort_week = s.cohort_week
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val ev = t.events.select(col("user_id"),
          datediff(to_date(col("ts")), lit("2024-01-01").cast("date")).as("day"))
        val firstDay = ev.groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
        val uw = ev.join(firstDay, Seq("user_id"))
          .select(col("user_id"), expr("first_day div 7").as("cohort_week"),
            expr("day div 7 - first_day div 7").as("week_offset"))
          .distinct()
        val cells = uw.groupBy(col("cohort_week"), col("week_offset"))
          .agg(count(lit(1)).as("n_active"))
        val sizes = firstDay.groupBy(expr("first_day div 7").as("cohort_week"))
          .agg(count(lit(1)).as("cohort_size"))
        ordered(
          cells.join(broadcast(sizes), Seq("cohort_week"))
            .select(col("cohort_week"), col("week_offset"), col("n_active"),
              col("cohort_size"),
              round(lit(100.0) * col("n_active") / col("cohort_size"), 4)
                .as("retention_pct"))
        )
      }
    ),
    Q(
      "t36_retention_fit",
      // EXPONENTIAL RETENTION-DECAY FIT — the model layer above t14's
      // raw matrix: per cohort, fit ln(retention_k) = a − λ·k over week
      // offsets 0..3 by least squares and report the decay rate and
      // half-life (the "how fast do we lose users" number growth teams
      // actually track). Engine-exact via the d7_source_kl discipline
      // lifted to regression: each ln(retention) is rounded to 12
      // decimals FIRST and summed as DECIMAL, and because the
      // regressor k = 0..3 is fixed, the least-squares slope collapses
      // to (2·Σk·y − 3·Σy)/10 — pure exact-decimal arithmetic with one
      // final double division (and one for ln2/λ, with the ln 2
      // constant pinned as a literal so no second libm call exists).
      // Cohorts missing any of the four points are excluded by an
      // exact-integer HAVING. 100 TB shape: rides t14's relations —
      // per-user first-day aggregate, one equi-join, the (user, week)
      // distinct relation — then everything is weeks²-bounded.
      Some("""WITH ev AS (
             |  SELECT user_id,
             |         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day
             |  FROM events
             |),
             |firstday AS (SELECT user_id, min(day) AS first_day FROM ev GROUP BY user_id),
             |uw AS (
             |  SELECT DISTINCT ev.user_id, f.first_day // 7 AS cohort_week,
             |         ev.day // 7 - f.first_day // 7 AS week_offset
             |  FROM ev JOIN firstday f ON ev.user_id = f.user_id
             |),
             |cells AS (
             |  SELECT cohort_week, week_offset, count(*) AS n_active
             |  FROM uw GROUP BY cohort_week, week_offset
             |),
             |sizes AS (
             |  SELECT first_day // 7 AS cohort_week, count(*) AS cohort_size
             |  FROM firstday GROUP BY 1
             |),
             |r AS (
             |  SELECT c.cohort_week, c.week_offset AS k,
             |         CAST(round(ln(c.n_active * 1.0 / s.cohort_size), 12)
             |              AS DECIMAL(28,12)) AS y
             |  FROM cells c JOIN sizes s USING (cohort_week)
             |  WHERE c.week_offset BETWEEN 0 AND 3 AND c.n_active > 0
             |),
             |f AS (
             |  SELECT cohort_week, sum(k * y) AS sky, sum(y) AS sy
             |  FROM r GROUP BY 1 HAVING count(*) = 4
             |)
             |SELECT f.cohort_week, s.cohort_size,
             |       round(CAST(2*f.sky - 3*f.sy AS DOUBLE) / 10, 6) AS slope,
             |       CASE WHEN 2*f.sky - 3*f.sy < 0
             |            THEN round(0.6931471805599453 /
             |                       (-(CAST(2*f.sky - 3*f.sy AS DOUBLE) / 10)), 4)
             |       END AS half_life_weeks
             |FROM f JOIN sizes s USING (cohort_week)
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val ev = t.events.select(col("user_id"),
          datediff(to_date(col("ts")), lit("2024-01-01").cast("date")).as("day"))
        val firstDay = ev.groupBy(col("user_id")).agg(min(col("day")).as("first_day"))
        val uw = ev.join(firstDay, Seq("user_id"))
          .select(col("user_id"), expr("first_day div 7").as("cohort_week"),
            expr("day div 7 - first_day div 7").as("week_offset"))
          .distinct()
        val cells = uw.groupBy(col("cohort_week"), col("week_offset"))
          .agg(count(lit(1)).as("n_active"))
        val sizes = firstDay.groupBy(expr("first_day div 7").as("cohort_week"))
          .agg(count(lit(1)).as("cohort_size"))
        val r = cells.join(broadcast(sizes), Seq("cohort_week"))
          .filter(col("week_offset").between(0, 3) && col("n_active") > 0)
          .select(col("cohort_week"), col("week_offset").as("k"),
            // cast(... as double): expr-parsed 1.0 is DECIMAL and Spark's
            // decimal division truncates at scale 6; DuckDB divides as
            // DOUBLE — the ln arguments must share the double path
            expr("cast(round(ln(cast(n_active as double) / cohort_size), 12) as decimal(28,12))")
              .as("y"))
        val fit = r.groupBy(col("cohort_week"))
          .agg(sum(col("k") * col("y")).as("sky"), sum(col("y")).as("sy"),
            count(lit(1)).as("npts"))
          .filter(col("npts") === 4)
        val num = lit(2) * col("sky") - lit(3) * col("sy")
        ordered(
          fit.join(broadcast(sizes), Seq("cohort_week"))
            .select(col("cohort_week"), col("cohort_size"),
              round(num.cast("double") / 10, 6).as("slope"),
              when(num < 0,
                round(lit(0.6931471805599453) /
                  (-(num.cast("double") / 10)), 4)).as("half_life_weeks")))
      }
    ),
    Q(
      "t11_mad_robust",
      // Robust anomaly gate — t11's z-score breaks when the outliers
      // you hunt contaminate the mean/std themselves; median/MAD has a
      // 50% breakdown point. med and MAD are EXACT discrete medians
      // (percentile_disc returns an element, no interpolation formula
      // to diverge on), the deviation |x − med| is exact IEEE, and the
      // score (x − med)/(1.4826·MAD) is the same literal double formula
      // in both engines — comparisons and the final rounding see
      // identical bits. 100 TB shape: two grouped percentile passes
      // over event_type (5 rows out), the per-row scoring joins the
      // 5-row stats relation broadcast onto the scan; at real scale the
      // discrete median comes from the GK sketch with this query as
      // the exact fence.
      Some("""WITH med AS (
             |  SELECT event_type,
             |         percentile_disc(0.5) WITHIN GROUP (ORDER BY value) AS med
             |  FROM events GROUP BY 1
             |),
             |dev AS (
             |  SELECT e.event_id, e.event_type, e.value, m.med,
             |         abs(e.value - m.med) AS adev
             |  FROM events e JOIN med m USING (event_type)
             |),
             |mad AS (
             |  SELECT event_type,
             |         percentile_disc(0.5) WITHIN GROUP (ORDER BY adev) AS mad
             |  FROM dev GROUP BY 1
             |)
             |SELECT d.event_id, d.event_type, d.value,
             |       round((d.value - d.med) / (1.4826 * m2.mad), 4) AS robust_z
             |FROM dev d JOIN mad m2 USING (event_type)
             |WHERE m2.mad > 0
             |  AND abs((d.value - d.med) / (1.4826 * m2.mad)) > 3.5
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val ev = t.events.select(col("event_id"), col("event_type"), col("value"))
        val med = ev.groupBy(col("event_type"))
          .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").as("med"))
        val dev = ev.join(broadcast(med), "event_type")
          .withColumn("adev", abs(col("value") - col("med")))
        val mad = dev.groupBy(col("event_type"))
          .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY adev)").as("mad"))
        val z = (col("value") - col("med")) / (lit(1.4826) * col("mad"))
        ordered(
          dev.join(broadcast(mad), "event_type")
            .filter(col("mad") > 0 && abs(z) > 3.5)
            .select(col("event_id"), col("event_type"), col("value"),
              r4(z).as("robust_z")))
      }
    ),
    Q(
      "w9_max_gap",
      // Longest inactivity gap per user — the SLA/churn-signal window:
      // one user-partitioned lag (the SAME per-user event-time sort
      // every per-user analytic shares), gaps in exact integer
      // microseconds, one max aggregate. Users with a single event
      // have no gap and drop out via the lag NULL.
      Some("""WITH g AS (
             |  SELECT user_id,
             |         epoch_us(ts) - lag(epoch_us(ts))
             |           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
             |  FROM events
             |)
             |SELECT user_id, max(gap_us) AS max_gap_us
             |FROM g WHERE gap_us IS NOT NULL
             |GROUP BY 1
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        ordered(
          t.events
            .withColumn("gap_us",
              unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
            .filter(col("gap_us").isNotNull)
            .groupBy(col("user_id"))
            .agg(max(col("gap_us")).as("max_gap_us")))
      }
    ),
    Q(
      "t15_cumulative_users",
      // Cumulative-unique-users growth curve — the DAU/MAU "total users
      // ever seen by day d" chart. The classic trap is a cumulative
      // COUNT(DISTINCT) window (quadratic: every day rescans every
      // user); the distributive form used here is per-user FIRST day
      // (one hash aggregate), new-user counts per day, and a running
      // sum over the day grid — all exact integers. 100 TB shape: one
      // map-side-combinable min-aggregate over user_id, then everything
      // rides the days-sized relation; the cumulative window orders a
      // few hundred rows, never the event log.
      Some("""WITH fd AS (
             |  SELECT user_id, min(CAST(ts AS DATE)) AS day FROM events GROUP BY 1
             |),
             |days AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
             |nu AS (SELECT day, count(*) AS new_users FROM fd GROUP BY 1)
             |SELECT CAST(d.day AS VARCHAR) AS day,
             |       coalesce(nu.new_users, 0) AS new_users,
             |       CAST(sum(coalesce(nu.new_users, 0))
             |              OVER (ORDER BY d.day) AS BIGINT) AS cum_users
             |FROM days d LEFT JOIN nu USING (day)
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val ev = t.events.select(to_date(col("ts")).as("day"), col("user_id"))
        val firstDay = ev.groupBy(col("user_id")).agg(min(col("day")).as("day"))
        val newUsers = firstDay.groupBy(col("day")).agg(count(lit(1)).as("new_users"))
        val days = ev.select(col("day")).distinct()
        val w = Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ordered(
          days.join(newUsers, Seq("day"), "left")
            .select(col("day"), coalesce(col("new_users"), lit(0L)).as("new_users"))
            .select(date_format(col("day"), "yyyy-MM-dd").as("day"),
              col("new_users"), sum(col("new_users")).over(w).as("cum_users"))
        )
      }
    ),
    Q(
      "t16_psi_drift",
      // Population-Stability-Index DRIFT MONITOR — the standard ingest
      // health check between two time slices of a feature distribution
      // (PSI < 0.1 stable, > 0.25 drifted): the event value bucketed into
      // 10 equal widths, first-vs-second epoch half compared per bucket.
      // Exact-hash-checked via the d7_source_kl discipline: with add-one
      // smoothing the ln argument is (c1s·t2s)/(c2s·t1s) — a ratio of
      // exact BIGINT products — rounded ONCE to DECIMAL(20,12); the
      // weight (p1−p2) is rewritten as the exact integer numerator
      // (c1s·t2s − c2s·t1s) so each bucket's contribution is decimal ×
      // bigint (exact), and the single division by t1s·t2s happens once
      // per output value. 100 TB shape: one scan tags (bucket, half)
      // against broadcast min/max/midpoint scalars, everything after
      // rides the 10-row bucket relation; the epoch split needs no
      // second scan (the midpoint is exact integer microseconds).
      Some("""WITH mm AS (
             |  SELECT min(value) AS lo, max(value) AS hi,
             |         (min(epoch_us(ts)) + max(epoch_us(ts))) // 2 AS mid_us
             |  FROM events
             |),
             |tagged AS (
             |  SELECT CAST(least(floor((value - mm.lo) / ((mm.hi - mm.lo) / 10)), 9) AS INT)
             |           AS bucket,
             |         CASE WHEN epoch_us(ts) >= mm.mid_us THEN 2 ELSE 1 END AS half
             |  FROM events CROSS JOIN mm
             |),
             |c AS (
             |  SELECT k.bucket,
             |         CAST(coalesce(sum(CASE WHEN half = 1 THEN 1 END), 0) AS BIGINT) AS c1,
             |         CAST(coalesce(sum(CASE WHEN half = 2 THEN 1 END), 0) AS BIGINT) AS c2
             |  FROM (SELECT unnest(range(0, 10)) AS bucket) k
             |  LEFT JOIN tagged t ON t.bucket = k.bucket
             |  GROUP BY k.bucket
             |),
             |tot AS (
             |  SELECT CAST(sum(c1) + 10 AS BIGINT) AS t1s,
             |         CAST(sum(c2) + 10 AS BIGINT) AS t2s
             |  FROM c
             |),
             |terms AS (
             |  SELECT bucket, c1, c2,
             |         (c1 + 1) * t2s - (c2 + 1) * t1s AS num,
             |         CAST(round(ln(CAST((c1 + 1) * t2s AS DOUBLE)
             |                       / CAST((c2 + 1) * t1s AS DOUBLE)), 12)
             |              AS DECIMAL(20,12)) AS lr,
             |         t1s, t2s
             |  FROM c CROSS JOIN tot
             |)
             |SELECT bucket, c1 AS n_first, c2 AS n_second,
             |       round(CAST(num * lr AS DOUBLE) / (t1s * t2s), 4) AS psi_term,
             |       round(CAST(sum(num * lr) OVER () AS DOUBLE) / (t1s * t2s), 4)
             |         AS psi_total
             |FROM terms
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val ev = t.events
        val mm = ev.agg(min(col("value")).as("lo"), max(col("value")).as("hi"),
          ((min(unix_micros(col("ts"))) + max(unix_micros(col("ts")))) / 2)
            .cast("long").as("mid_us"))
        val width = (col("hi") - col("lo")) / 10
        val tagged = ev.crossJoin(broadcast(mm)) // 1-row stats scalar
          .select(
            least(floor((col("value") - col("lo")) / width), lit(9.0))
              .cast("int").as("bucket"),
            when(unix_micros(col("ts")) >= col("mid_us"), 2).otherwise(1).as("half"))
        // 10-row bucket relation feeds totals and the terms: driver-held
        // (Bounded.local) — constant-sized by design, no executor pinning
        val c = Bounded.local(
          spark.range(0, 10).select(col("id").cast("int").as("bucket"))
            .join(tagged, Seq("bucket"), "left")
            .groupBy(col("bucket"))
            .agg(coalesce(sum(when(col("half") === 1, 1L)), lit(0L)).as("c1"),
              coalesce(sum(when(col("half") === 2, 1L)), lit(0L)).as("c2")))
        val tot = c.agg((sum(col("c1")) + 10).cast("long").as("t1s"),
          (sum(col("c2")) + 10).cast("long").as("t2s"))
        val lr = round(
          log(((col("c1") + 1) * col("t2s")).cast("double") /
            ((col("c2") + 1) * col("t1s")).cast("double")), 12)
          .cast("decimal(20,12)")
        val wAll = Window.partitionBy() // 10-row relation: bounded by design
        ordered(
          c.crossJoin(broadcast(tot)) // 1-row smoothed totals
            .select(col("bucket"), col("c1").as("n_first"), col("c2").as("n_second"),
              ((col("c1") + 1) * col("t2s") - (col("c2") + 1) * col("t1s")).as("num"),
              lr.as("lr"), col("t1s"), col("t2s"))
            .select(col("bucket"), col("n_first"), col("n_second"),
              round((col("num") * col("lr")).cast("double") /
                (col("t1s") * col("t2s")), 4).as("psi_term"),
              round(sum(col("num") * col("lr")).over(wAll).cast("double") /
                (col("t1s") * col("t2s")), 4).as("psi_total"))
        )
      }
    ),
    Q(
      "t17_ks_drift",
      // Kolmogorov-Smirnov two-sample DRIFT TEST — t16's nonparametric
      // sibling: D = max |ECDF_first(v) - ECDF_second(v)| between the two
      // epoch halves of the event value distribution, with no binning
      // assumption. Exact-hash discipline: per-value half counts are
      // BIGINTs, the ECDF difference is rewritten as the integer
      // |cum1·t2 − cum2·t1| (all products < 2^53), the max is an integer
      // argmax with ties broken by the smallest value, and the single
      // division by t1·t2 happens once on the winning row. 100 TB shape:
      // one scan tags halves against a broadcast midpoint scalar, then
      // everything rides the DISTINCT-VALUE relation — bounded for this
      // generator's 2-decimal grid, but NOT for a continuous value
      // column, so the running half-CDFs use the range-bucketed
      // distributed prefix sum (graft.functions.PrefixSum) and the
      // totals a 1-row broadcast fold; no whole-relation window either
      // way.
      Some("""WITH e AS (SELECT value, epoch_us(ts) AS us FROM events),
             |mm AS (SELECT (min(us) + max(us)) // 2 AS mid FROM e),
             |c AS (
             |  SELECT value,
             |         CAST(coalesce(sum(CASE WHEN us < mm.mid THEN 1 END), 0)
             |              AS BIGINT) AS c1,
             |         CAST(coalesce(sum(CASE WHEN us >= mm.mid THEN 1 END), 0)
             |              AS BIGINT) AS c2
             |  FROM e CROSS JOIN mm GROUP BY value
             |),
             |cum AS (
             |  SELECT value,
             |         CAST(sum(c1) OVER (ORDER BY value) AS BIGINT) AS cum1,
             |         CAST(sum(c2) OVER (ORDER BY value) AS BIGINT) AS cum2,
             |         CAST(sum(c1) OVER () AS BIGINT) AS t1,
             |         CAST(sum(c2) OVER () AS BIGINT) AS t2
             |  FROM c
             |),
             |scored AS (
             |  SELECT value, abs(cum1 * t2 - cum2 * t1) AS num, t1, t2 FROM cum
             |)
             |SELECT t1 AS n_first, t2 AS n_second, round(value, 4) AS ks_at,
             |       round(CAST(num AS DOUBLE) / (t1 * t2), 4) AS ks_stat
             |FROM scored ORDER BY num DESC, value ASC LIMIT 1""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val ev = t.events.select(col("value"), unix_micros(col("ts")).as("us"))
        val mm = ev.agg(((min(col("us")) + max(col("us"))) / 2)
          .cast("long").as("mid"))
        val c = ev.crossJoin(broadcast(mm)) // 1-row midpoint scalar
          .groupBy(col("value"))
          .agg(
            coalesce(sum(when(col("us") < col("mid"), 1L)), lit(0L)).as("c1"),
            coalesce(sum(when(col("us") >= col("mid"), 1L)), lit(0L)).as("c2"))
        // the running half-CDFs ride the distinct-value relation — which
        // this generator's 2-decimal grid keeps bounded, but a
        // continuous value column would not; the range-bucketed
        // distributed prefix sum (graft.functions.PrefixSum, one shared
        // bucket pass for both halves) makes the shape scale-safe either
        // way, and the totals are a broadcast 1-row fold instead of a
        // whole-relation window
        val cum = graft.functions.PrefixSum.cumOverDistinct(
          c, "value", Seq("c1" -> "cum1", "c2" -> "cum2"), 0)
        // totals fold the (already cut) cum relation — one broadcast row
        val tot = cum.agg(sum(col("c1")).as("t1"), sum(col("c2")).as("t2"))
        val scored = cum.crossJoin(broadcast(tot)) // 1-row totals scalar
          .select(col("value"),
            abs(col("cum1") * col("t2") - col("cum2") * col("t1")).as("num"),
            col("t1"), col("t2"))
        ordered(
          scored.orderBy(col("num").desc, col("value").asc).limit(1)
            .select(col("t1").as("n_first"), col("t2").as("n_second"),
              r4(col("value")).as("ks_at"),
              round(col("num").cast("double") / (col("t1") * col("t2")), 4)
                .as("ks_stat")))
      }
    ),
    Q(
      "t18_trending",
      // TRENDING DETECTION — day-over-day lift per event type with top-3
      // ranking per day: the burst-monitoring complement to the t16/t17
      // drift pair. Smoothed lift (n+1)/(prev+1) is a ratio of exact
      // BIGINTs rounded once; ranking happens on the ROUNDED lift with
      // event_type as the tiebreak so both engines rank identically. A
      // calendar-aware lag (previous PRESENT day only counts if it is
      // day_idx - 1) avoids the gap bug a bare lag() has. 100 TB shape:
      // one map-side-combinable (type, day) count aggregate, then
      // everything — lag window, rank window — rides that bounded
      // types×days relation, never raw events.
      Some("""WITH d AS (
             |  SELECT event_type,
             |         CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_idx
             |  FROM events
             |),
             |c AS (SELECT event_type, day_idx, count(*) AS n
             |      FROM d GROUP BY 1, 2),
             |j AS (
             |  SELECT event_type, day_idx, n,
             |         CAST(CASE WHEN lag(day_idx) OVER w = day_idx - 1
             |              THEN lag(n) OVER w ELSE 0 END AS BIGINT) AS prev_n
             |  FROM c WINDOW w AS (PARTITION BY event_type ORDER BY day_idx)
             |),
             |r AS (
             |  SELECT day_idx, event_type, n, prev_n,
             |         round((n + 1) * 1.0 / (prev_n + 1), 4) AS lift,
             |         row_number() OVER (
             |           PARTITION BY day_idx
             |           ORDER BY round((n + 1) * 1.0 / (prev_n + 1), 4) DESC,
             |                    event_type ASC) AS rn
             |  FROM j
             |)
             |SELECT day_idx, rn, event_type, n, prev_n, lift
             |FROM r WHERE rn <= 3
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val d = t.events.select(col("event_type"),
          expr("unix_micros(ts) DIV 86400000000").as("day_idx"))
        val c = d.groupBy(col("event_type"), col("day_idx"))
          .agg(count(lit(1)).as("n"))
        val wl = Window.partitionBy(col("event_type")).orderBy(col("day_idx"))
        val j = c.select(col("event_type"), col("day_idx"), col("n"),
          when(lag(col("day_idx"), 1).over(wl) === col("day_idx") - 1,
            lag(col("n"), 1).over(wl)).otherwise(0L).as("prev_n"))
        val lift = round((col("n") + 1) * lit(1.0) / (col("prev_n") + 1), 4)
        val wr = Window.partitionBy(col("day_idx"))
          .orderBy(lift.desc, col("event_type").asc)
        ordered(
          j.withColumn("lift", lift)
            .withColumn("rn", row_number().over(wr))
            .filter(col("rn") <= 3)
            .select(col("day_idx"), col("rn"), col("event_type"),
              col("n"), col("prev_n"), col("lift")))
      }
    ),
    Q(
      "t19_funnel_windowed",
      // TIME-CONSTRAINED FUNNEL — t10 with per-stage conversion DEADLINES
      // (click within 1 hour of the view, purchase within 24 hours of the
      // click): the form product analytics actually bills, because an
      // unbounded funnel credits conversions that happen weeks later.
      // Same strictly-ordered min-aggregate chain as t10 — the window
      // bound is one extra interval predicate on each stage join, so the
      // 100 TB shape is unchanged: three stage-pruned per-user hash
      // aggregates chained by user_id equi-joins, one row per user after
      // the first scan. Users who convert but MISS the deadline stall at
      // the prior depth — the law spec pins windowed depth <= t10 depth.
      Some("""WITH v AS (
             |  SELECT user_id, min(ts) AS v_ts
             |  FROM events WHERE event_type = 'view' GROUP BY user_id
             |),
             |c AS (
             |  SELECT e.user_id, min(e.ts) AS c_ts
             |  FROM events e JOIN v ON e.user_id = v.user_id
             |   AND e.ts > v.v_ts AND e.ts <= v.v_ts + INTERVAL 1 HOUR
             |  WHERE e.event_type = 'click' GROUP BY e.user_id
             |),
             |p AS (
             |  SELECT e.user_id, min(e.ts) AS p_ts
             |  FROM events e JOIN c ON e.user_id = c.user_id
             |   AND e.ts > c.c_ts AND e.ts <= c.c_ts + INTERVAL 24 HOUR
             |  WHERE e.event_type = 'purchase' GROUP BY e.user_id
             |)
             |SELECT v.user_id,
             |       strftime(v.v_ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
             |       strftime(c.c_ts, '%Y-%m-%d %H:%M:%S') AS click_ts,
             |       strftime(p.p_ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
             |       1 + CASE WHEN c.c_ts IS NULL THEN 0 ELSE 1 END
             |         + CASE WHEN p.p_ts IS NULL THEN 0 ELSE 1 END AS depth
             |FROM v LEFT JOIN c ON c.user_id = v.user_id
             |       LEFT JOIN p ON p.user_id = v.user_id
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val ev = t.events
        val v = ev.filter(col("event_type") === "view")
          .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
        val c = ev.filter(col("event_type") === "click").as("e")
          .join(v.as("v"), col("e.user_id") === col("v.user_id") &&
            col("e.ts") > col("v.v_ts") &&
            col("e.ts") <= col("v.v_ts") + expr("INTERVAL 1 HOUR"))
          .groupBy(col("e.user_id").as("user_id"))
          .agg(min(col("e.ts")).as("c_ts"))
        val p = ev.filter(col("event_type") === "purchase").as("e")
          .join(c.as("c"), col("e.user_id") === col("c.user_id") &&
            col("e.ts") > col("c.c_ts") &&
            col("e.ts") <= col("c.c_ts") + expr("INTERVAL 24 HOURS"))
          .groupBy(col("e.user_id").as("user_id"))
          .agg(min(col("e.ts")).as("p_ts"))
        ordered(
          v.join(c, Seq("user_id"), "left")
            .join(p, Seq("user_id"), "left")
            .select(col("user_id"),
              tstr(col("v_ts")).as("view_ts"),
              tstr(col("c_ts")).as("click_ts"),
              tstr(col("p_ts")).as("purchase_ts"),
              (lit(1) + when(col("c_ts").isNull, 0).otherwise(1)
                + when(col("p_ts").isNull, 0).otherwise(1)).as("depth")))
      }
    ),
    Q(
      "w11_streak",
      // LONGEST ACTIVITY STREAK per user — the engagement metric next to
      // w9's max gap: the longest run of CONSECUTIVE active days, via the
      // classic gaps-and-islands trick on the distinct-day grid (island
      // id = day − row_number is constant exactly while days are
      // consecutive). Pure integer day arithmetic off the epoch — no
      // calendar/timezone semantics to diverge on. 100 TB shape: one
      // (user, day) dedup aggregate with map-side partials, then the
      // window and both aggregates ride that bounded users×days relation
      // on the SAME user partitioning — never raw events.
      Some("""WITH days AS (
             |  SELECT DISTINCT user_id,
             |         CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
             |  FROM events
             |),
             |isl AS (
             |  SELECT user_id,
             |         day - row_number() OVER (PARTITION BY user_id
             |                                  ORDER BY day) AS grp
             |  FROM days
             |),
             |runs AS (
             |  SELECT user_id, grp, count(*) AS len
             |  FROM isl GROUP BY user_id, grp
             |)
             |SELECT user_id, max(len) AS longest_streak,
             |       CAST(sum(len) AS BIGINT) AS n_active_days
             |FROM runs GROUP BY user_id
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val days = t.events
          .select(col("user_id"),
            expr("unix_micros(ts) DIV 86400000000").as("day"))
          .distinct()
        val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
        ordered(
          days.withColumn("grp", col("day") - row_number().over(w))
            .groupBy(col("user_id"), col("grp"))
            .agg(count(lit(1)).as("len"))
            .groupBy(col("user_id"))
            .agg(max(col("len")).as("longest_streak"),
              sum(col("len")).as("n_active_days")))
      }
    ),
    Q(
      "t20_time_to_convert",
      // conversion-latency distribution: per user, exact integer seconds
      // from FIRST signup to the FIRST purchase at-or-after it, then the
      // population stats product teams actually read (count, min, exact
      // discrete median/p90, max). All latency math is integer
      // microseconds (never float seconds); percentile_disc picks real
      // data points, so every output is engine-exact. 100 TB shape: two
      // type-filtered hash aggregates (signups, then purchases gated by
      // the signup time through ONE user_id equi-join — both sides
      // already partitioned by user_id, so the join reuses the aggregate
      // exchange), and the final stats are a single-row total aggregate
      // with map-side partials. Nothing wider than per-user rows ever
      // shuffles.
      Some("""WITH su AS (
             |  SELECT user_id, min(ts) AS st
             |  FROM events WHERE event_type = 'signup' GROUP BY 1
             |),
             |conv AS (
             |  SELECT e.user_id,
             |         CAST((epoch_us(min(e.ts)) - epoch_us(min(su.st)))
             |              // 1000000 AS BIGINT) AS lat_s
             |  FROM events e JOIN su ON e.user_id = su.user_id
             |  WHERE e.event_type = 'purchase' AND e.ts >= su.st
             |  GROUP BY e.user_id
             |)
             |SELECT count(*) AS n_converted,
             |       min(lat_s) AS min_s,
             |       CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY lat_s)
             |            AS BIGINT) AS p50_s,
             |       CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY lat_s)
             |            AS BIGINT) AS p90_s,
             |       max(lat_s) AS max_s
             |FROM conv""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val su = t.events.filter(col("event_type") === "signup")
          .groupBy(col("user_id")).agg(min(col("ts")).as("st"))
        val conv = t.events.filter(col("event_type") === "purchase").as("e")
          .join(su.as("s"), col("e.user_id") === col("s.user_id") &&
            col("e.ts") >= col("s.st"))
          .groupBy(col("e.user_id"))
          // integer microsecond DIV — never float seconds
          .agg(expr("(unix_micros(min(e.ts)) - unix_micros(min(s.st)))" +
            " DIV 1000000").as("lat_s"))
        conv.agg(
          count(lit(1)).as("n_converted"),
          min(col("lat_s")).as("min_s"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY lat_s)")
            .cast("long").as("p50_s"),
          expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY lat_s)")
            .cast("long").as("p90_s"),
          max(col("lat_s")).as("max_s"))
      }
    ),
    Q(
      "t21_seasonal_dow",
      // Day-of-week seasonality profile — each (event_type, day)'s traffic
      // against its weekday baseline, the decomposition behind "is Monday
      // always this slow or is today anomalous?". Weekday is pure integer
      // arithmetic (epoch-day mod 7, Thursday=0) so both engines bucket
      // identically with zero timezone/locale semantics; the baseline is
      // the mean daily count for that (type, weekday) and the ratio is a
      // division of exact BIGINTs evaluated as the same IEEE expression in
      // both engines, rounded once. 100 TB shape: the fact collapses to
      // ONE (type, day) hash aggregate with map-side partials; the weekday
      // baseline and the ratio both ride that bounded types x days
      // relation — nothing after the first shuffle scales with events.
      Some("""WITH daily AS (
             |  SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS cnt
             |  FROM events GROUP BY 1, 2
             |),
             |dowd AS (
             |  SELECT event_type, d, cnt,
             |         datediff('day', DATE '1970-01-01', d) % 7 AS dow
             |  FROM daily
             |),
             |base AS (
             |  SELECT event_type, dow, sum(cnt) AS tot, count(*) AS n_days
             |  FROM dowd GROUP BY 1, 2
             |)
             |SELECT event_type, CAST(d AS VARCHAR) AS day, dow, cnt,
             |       round(CAST(tot AS DOUBLE) / n_days, 4) AS dow_mean,
             |       round(cnt / (CAST(tot AS DOUBLE) / n_days), 4) AS ratio
             |FROM dowd JOIN base USING (event_type, dow)
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val daily = t.events
          .groupBy(col("event_type"), col("ts").cast("date").as("d"))
          .agg(count(lit(1)).as("cnt"))
          .withColumn("dow",
            pmod(datediff(col("d"), to_date(lit("1970-01-01"))), lit(7)))
        val base = daily.groupBy(col("event_type"), col("dow"))
          .agg(sum(col("cnt")).as("tot"), count(lit(1)).as("n_days"))
        ordered(
          daily.join(base, Seq("event_type", "dow"))
            .select(col("event_type"),
              date_format(col("d"), "yyyy-MM-dd").as("day"),
              col("dow"), col("cnt"),
              round(col("tot").cast("double") / col("n_days"), 4)
                .as("dow_mean"),
              round(col("cnt") / (col("tot").cast("double") / col("n_days")), 4)
                .as("ratio"))
        )
      }
    ),
    Q(
      "t22_attribution_position",
      // Position-based (U-shaped) multi-touch attribution — each purchase
      // distributes its value across the user's views in the prior 7 days:
      // one touch takes 100%, two take 50/50, three+ give 40% to the first
      // touch, 40% to the last, and the middles split the remaining 20%
      // evenly. The marketing-analytics complement to t9's last-touch
      // interval join. Credit weights are CASE arithmetic over exact
      // BIGINT (rn, n) — the same IEEE expression in both engines, with
      // one rounding at the end. 100 TB shape: the pair relation is an
      // equi-join on user_id with the time-range predicate as a join
      // residual (the t9 shape — never a cartesian), and both windows ride
      // the per-purchase touch lists, which the 7-day horizon bounds.
      Some("""WITH p AS (
             |  SELECT event_id AS p_id, user_id, ts AS p_ts, value AS v
             |  FROM events WHERE event_type = 'purchase'
             |),
             |w AS (
             |  SELECT event_id AS v_id, user_id, ts AS v_ts
             |  FROM events WHERE event_type = 'view'
             |),
             |pairs AS (
             |  SELECT p.p_id, p.user_id, p.v, w.v_id, w.v_ts
             |  FROM p JOIN w ON p.user_id = w.user_id
             |   AND w.v_ts < p.p_ts AND w.v_ts >= p.p_ts - INTERVAL 7 DAY
             |),
             |pos AS (
             |  SELECT *,
             |         row_number() OVER (PARTITION BY p_id
             |                            ORDER BY v_ts, v_id) AS rn,
             |         count(*) OVER (PARTITION BY p_id) AS n
             |  FROM pairs
             |)
             |SELECT p_id, user_id, v_id, rn, n,
             |       round(CASE WHEN n = 1 THEN 1.0
             |                  WHEN n = 2 THEN 0.5
             |                  WHEN rn = 1 OR rn = n THEN 0.4
             |                  ELSE 0.2 / (n - 2) END * v, 4) AS credit
             |FROM pos
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val ev = t.events
        val p = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("p_id"), col("user_id"),
            col("ts").as("p_ts"), col("value").as("v"))
        val w = ev.filter(col("event_type") === "view")
          .select(col("event_id").as("v_id"), col("user_id").as("w_user"),
            col("ts").as("v_ts"))
        val pairs = p.join(w,
          col("user_id") === col("w_user") &&
            col("v_ts") < col("p_ts") &&
            col("v_ts") >= col("p_ts") - expr("INTERVAL 7 DAYS"))
        val byP = Window.partitionBy(col("p_id"))
        val pos = pairs
          .withColumn("rn",
            row_number().over(byP.orderBy(col("v_ts"), col("v_id"))))
          .withColumn("n", count(lit(1)).over(byP))
        ordered(
          pos.select(col("p_id"), col("user_id"), col("v_id"),
            col("rn").cast("long").as("rn"), col("n"),
            round(when(col("n") === 1, lit(1.0))
              .when(col("n") === 2, lit(0.5))
              .when(col("rn") === 1 || col("rn") === col("n"), lit(0.4))
              .otherwise(lit(0.2) / (col("n") - 2)) * col("v"), 4)
              .as("credit"))
        )
      }
    ),
    Q(
      "t23_rfm_segmentation",
      // RFM customer segmentation — recency / frequency / monetary
      // quintile scores plus a rule-based segment label, the workhorse
      // behind lifecycle marketing ("champions", "at-risk"). Recency is
      // integer calendar-day arithmetic against the corpus max timestamp
      // (a 1-row broadcast scalar); monetary is an exact DECIMAL sum;
      // quintiles are ntile(5) with a user_id tie-break so bucket edges
      // are engine-independent. 100 TB shape: the fact collapses to ONE
      // per-user purchase aggregate (map-side partials); the quintiles
      // are NOT a global window — they are the a9_approx_quantiles
      // discipline applied to ntile (graft.functions.ExactNtile): a GK
      // sketch brackets each of the 12 cut values, one exact pass
      // counts rows below/at both bracket endpoints, arithmetic on the
      // tie masses places each boundary (inside a tie run or strictly
      // between), and a band-partitioned rank window over ~0.2%-of-rows
      // bands extracts the exact order-statistic KEY (sort value,
      // user_id) at each cut rank. Heavy tie runs at a cut (e.g. most
      // users sharing freq=1) are re-bracketed by a second sketch over
      // the unique user_id, so no band partition exceeds ~2·eps·n rows
      // in ANY tie regime (ExactNtileSpec pins the bound). Bucket
      // assignment is a pure per-row scalar against those 12 driver-held
      // boundary keys. Rank > cut ⟺ key > boundary key (keys are unique
      // under the user_id tie-break), so the result is bit-identical to
      // ntile. If the sketch bound ever failed, a boundary would vanish
      // and ExactNtile's require() fails loudly — never a silent
      // mis-bucket.
      Some("""WITH pur AS (
             |  SELECT user_id, max(ts) AS last_ts, count(*) AS freq,
             |         sum(CAST(value AS DECIMAL(18,4))) AS mon
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1
             |),
             |mx AS (SELECT max(ts) AS now FROM events),
             |base AS (
             |  SELECT user_id,
             |         datediff('day', CAST(last_ts AS DATE), CAST(now AS DATE))
             |           AS recency_days,
             |         freq, round(CAST(mon AS DOUBLE), 2) AS monetary
             |  FROM pur CROSS JOIN mx
             |),
             |scored AS (
             |  SELECT *,
             |         ntile(5) OVER (ORDER BY recency_days DESC, user_id) AS r,
             |         ntile(5) OVER (ORDER BY freq ASC, user_id) AS f,
             |         ntile(5) OVER (ORDER BY monetary ASC, user_id) AS m
             |  FROM base
             |)
             |SELECT user_id, recency_days, freq, monetary, r, f, m,
             |       CASE WHEN r >= 4 AND f >= 4 AND m >= 4 THEN 'champion'
             |            WHEN r <= 2 AND f >= 4 THEN 'at_risk_loyal'
             |            WHEN r >= 4 AND f <= 2 THEN 'recent_light'
             |            ELSE 'regular' END AS segment
             |FROM scored
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val ev = t.events
        val pur = ev.filter(col("event_type") === "purchase")
          .groupBy(col("user_id"))
          .agg(max(col("ts")).as("last_ts"), count(lit(1)).as("freq"),
            sum(money(col("value"))).as("mon"))
        val mx = ev.agg(max(col("ts")).as("now"))
        // corpus-derived per-user relation consumed by four passes below
        // (count, sketch, below-band counts, band refine) + the final
        // select → checkpoint (class-a multi-consumed corpus relation)
        val base = pur.crossJoin(broadcast(mx)) // 1-row corpus-max scalar
          .select(col("user_id"),
            datediff(col("now").cast("date"), col("last_ts").cast("date"))
              .as("recency_days"),
            col("freq"), round(col("mon").cast("double"), 2).as("monetary"))
          // uniform ASC double sort keys; recency ranks DESC, so negate
          .withColumn("sr", -col("recency_days").cast("double"))
          .withColumn("sf", col("freq").cast("double"))
          .withColumn("sm", col("monetary"))
          .cut(Shared)
        val n = base.count()
        // exact ntile(5) boundary keys via GK-band refinement, ties
        // handled arithmetically (graft.functions.ExactNtile — the
        // round-10 caveat is now implemented there: a heavy tie run at
        // a cut is bracketed by a SECOND sketch over the unique
        // user_id, so no band partition ever exceeds ~2·eps·n rows in
        // any tie regime; bounds spec'd by ExactNtileSpec)
        val measures = Seq("sr", "sf", "sm")
        val cuts = graft.functions.ExactNtile.ntileCuts(n, 5)
        val bandSpecs = graft.functions.ExactNtile.bands(
          base, measures, "user_id", cuts, n)
        val bnd = graft.functions.ExactNtile.boundaries(
          base, bandSpecs, "user_id")
        // bucket = 1 + #{cut boundaries strictly before this key} — a
        // pure per-row scalar: no window, no join in the final plan
        def score(c: String) =
          graft.functions.ExactNtile.bucket(c, "user_id", bnd(c))
        val scored = base
          .withColumn("r", score("sr").cast("int"))
          .withColumn("f", score("sf").cast("int"))
          .withColumn("m", score("sm").cast("int"))
        ordered(
          scored.select(col("user_id"), col("recency_days"), col("freq"),
            col("monetary"), col("r"), col("f"), col("m"),
            when(col("r") >= 4 && col("f") >= 4 && col("m") >= 4, "champion")
              .when(col("r") <= 2 && col("f") >= 4, "at_risk_loyal")
              .when(col("r") >= 4 && col("f") <= 2, "recent_light")
              .otherwise("regular").as("segment"))
        )
      }
    ),
    Q(
      "t24_ab_test",
      // TWO-PROPORTION A/B TEST — the experimentation primitive every
      // product pipeline ends in: users deterministically assigned to
      // variants by the same auditable md5 bucket as the d11 splits (no
      // RNG, assignment stable as the corpus grows), conversion = a
      // purchase of at least 150 (a mid-distribution threshold; "any
      // purchase" is degenerate here — every user has one, and p = 1
      // zeroes the pooled variance), pooled two-proportion z statistic
      // with the denominator nullif-guarded so a degenerate cohort
      // yields NULL, not an ANSI divide-by-zero. All counts are
      // exact integers from two hash aggregates; rates and z are IEEE
      // expressions over those integers written with IDENTICAL shape in
      // both engines (each +,*,/,sqrt is correctly-rounded, so identical
      // inputs + identical tree = identical doubles), each rounded once.
      // 100 TB shape: one per-user aggregate (map-side combinable), then
      // a single-row conditional-sum aggregate; the z math runs on one
      // row. Output is one row regardless of corpus size.
      Some("""WITH u AS (
             |  SELECT user_id,
             |         CASE WHEN (('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT % 2) = 0
             |              THEN 'A' ELSE 'B' END AS variant,
             |         max(CASE WHEN event_type = 'purchase' AND value >= 150
             |                  THEN 1 ELSE 0 END) AS conv
             |  FROM events GROUP BY 1, 2
             |),
             |s AS (
             |  SELECT CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             |         CAST(sum(CASE WHEN variant = 'A' THEN conv ELSE 0 END) AS BIGINT) AS conv_a,
             |         CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
             |         CAST(sum(CASE WHEN variant = 'B' THEN conv ELSE 0 END) AS BIGINT) AS conv_b
             |  FROM u
             |)
             |SELECT n_a, conv_a, round(conv_a * 1.0 / n_a, 4) AS rate_a,
             |       n_b, conv_b, round(conv_b * 1.0 / n_b, 4) AS rate_b,
             |       round((conv_a * 1.0 / n_a - conv_b * 1.0 / n_b) /
             |             nullif(sqrt(((conv_a + conv_b) * 1.0 / (n_a + n_b)) *
             |                  (1 - (conv_a + conv_b) * 1.0 / (n_a + n_b)) *
             |                  (1.0 / n_a + 1.0 / n_b)), 0), 4) AS z
             |FROM s""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val bucket = pmod(
          conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
            .cast("long"), lit(2L))
        val u = t.events
          .groupBy(col("user_id"),
            when(bucket === 0, "A").otherwise("B").as("variant"))
          .agg(max(when(col("event_type") === "purchase" && col("value") >= 150, 1)
            .otherwise(0)).as("conv"))
        val s = u.agg(
          sum(when(col("variant") === "A", 1L).otherwise(0L)).as("n_a"),
          sum(when(col("variant") === "A", col("conv")).otherwise(0L)).cast("long").as("conv_a"),
          sum(when(col("variant") === "B", 1L).otherwise(0L)).as("n_b"),
          sum(when(col("variant") === "B", col("conv")).otherwise(0L)).cast("long").as("conv_b"))
        val pA = col("conv_a") * lit(1.0) / col("n_a")
        val pB = col("conv_b") * lit(1.0) / col("n_b")
        val pPool = (col("conv_a") + col("conv_b")) * lit(1.0) / (col("n_a") + col("n_b"))
        s.select(col("n_a"), col("conv_a"), round(pA, 4).as("rate_a"),
          col("n_b"), col("conv_b"), round(pB, 4).as("rate_b"),
          round((pA - pB) /
            nullif(sqrt(pPool * (lit(1) - pPool) *
              (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), lit(0)), 4).as("z"))
      }
    ),
    Q(
      "t35_fano_burstiness",
      // FANO FACTOR / DISPERSION INDEX per event type — the burstiness
      // diagnostic behind alerting thresholds: variance/mean of the
      // daily counts, 1 for a Poisson arrival process, >1 for bursty
      // traffic. Exact-integer inside (Fano = (n·Σy² − (Σy)²)/(n·Σy)),
      // one rounded division. Two hash aggregates ((type, day) then
      // type) with map-side partials — vocabulary-bounded output.
      Some("""WITH c AS (
             |  SELECT event_type, epoch_us(ts) // 86400000000 AS d,
             |         CAST(count(*) AS BIGINT) AS y
             |  FROM events GROUP BY 1, 2
             |)
             |SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
             |       CAST(sum(y) AS BIGINT) AS n_events,
             |       round((count(*) * sum(y*y) - sum(y) * sum(y)) * 1.0
             |             / (count(*) * sum(y)), 4) AS fano
             |FROM c GROUP BY event_type
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val c = t.events
          .groupBy(col("event_type"),
            expr("unix_micros(ts) DIV 86400000000").as("d"))
          .agg(count(lit(1)).as("y"))
        ordered(
          c.groupBy(col("event_type"))
            .agg(count(lit(1)).as("n_days"), sum(col("y")).as("n_events"),
              sum(col("y") * col("y")).as("syy"))
            .select(col("event_type"), col("n_days"), col("n_events"),
              round((col("n_days") * col("syy") -
                col("n_events") * col("n_events")) * 1.0 /
                (col("n_days") * col("n_events")), 4).as("fano")))
      }
    ),
    Q(
      "t34_stl_decompose",
      // STL-LITE SEASONAL DECOMPOSITION — y = trend + seasonal + residual
      // for the daily event-count series: trend = centered 7-day moving
      // average, seasonal = per-weekday mean of the detrended series,
      // residual = the rest. Kept ENGINE-EXACT by working in scaled
      // integers end to end: trend7 = Σy over the centered window (= 7·
      // trend, integer), detr7 = 7·y − trend7 (integer), the seasonal
      // mean is the exact rational snum/sden (Σdetr7 over 7·n_days), and
      // every output is ONE rounded division of an exact-integer
      // numerator — residual spelled as (7·sden·y − sden·trend7 −
      // 7·snum)/(7·sden), so no intermediate float ever differs between
      // engines. Interior days only (full centered window). 100 TB
      // shape: events collapse to one day aggregate; one centered
      // window, one 7-row dow aggregate, one broadcast-size join back.
      Some("""WITH c AS (
             |  SELECT epoch_us(ts) // 86400000000 AS d,
             |         CAST(count(*) AS BIGINT) AS y
             |  FROM events GROUP BY 1
             |),
             |w AS (
             |  SELECT d, y,
             |         sum(y) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING
             |                      AND 3 FOLLOWING) AS trend7,
             |         row_number() OVER (ORDER BY d) AS rn,
             |         count(*) OVER () AS n
             |  FROM c
             |),
             |interior AS (
             |  SELECT d, y, trend7, 7*y - trend7 AS detr7, d % 7 AS dow
             |  FROM w WHERE rn >= 4 AND rn <= n - 3
             |),
             |season AS (
             |  SELECT dow, CAST(sum(detr7) AS BIGINT) AS snum,
             |         CAST(7 * count(*) AS BIGINT) AS sden
             |  FROM interior GROUP BY 1
             |)
             |SELECT i.d AS day, i.y, CAST(i.dow AS BIGINT) AS dow,
             |       round(i.trend7 / 7.0, 4) AS trend,
             |       round(s.snum * 1.0 / s.sden, 4) AS seasonal,
             |       round(CAST(7*s.sden*i.y - s.sden*i.trend7 - 7*s.snum
             |                  AS DOUBLE) / (7.0 * s.sden), 4) AS residual
             |FROM interior i JOIN season s USING (dow)
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val c = t.events
          .groupBy(expr("unix_micros(ts) DIV 86400000000").as("d"))
          .agg(count(lit(1)).as("y"))
        val cw = Window.orderBy(col("d")).rowsBetween(-3, 3)
        val seqW = Window.orderBy(col("d"))
        val interior = c
          .select(col("d"), col("y"),
            sum(col("y")).over(cw).as("trend7"),
            row_number().over(seqW).as("rn"),
            count(lit(1)).over(Window.partitionBy()).as("n"))
          .filter(col("rn") >= 4 && col("rn") <= col("n") - 3)
          .select(col("d"), col("y"), col("trend7"),
            (lit(7) * col("y") - col("trend7")).as("detr7"),
            (col("d") % 7).as("dow"))
        val season = interior.groupBy(col("dow"))
          .agg(sum(col("detr7")).as("snum"),
            (lit(7) * count(lit(1))).as("sden"))
        ordered(
          interior.join(broadcast(season), Seq("dow"))
            .select(col("d").as("day"), col("y"), col("dow").cast("long").as("dow"),
              round(col("trend7") / 7.0, 4).as("trend"),
              round(col("snum") * 1.0 / col("sden"), 4).as("seasonal"),
              round((lit(7) * col("sden") * col("y") -
                col("sden") * col("trend7") - lit(7) * col("snum"))
                .cast("double") / (lit(7.0) * col("sden")), 4).as("residual")))
      }
    ),
    Q(
      "t37_stl_anomaly",
      // SEASONAL-AWARE ANOMALY DETECTION — the composition t34 exists
      // for: z-score the STL residuals WITHIN each weekday group, so a
      // busy-Monday spike is judged against other Mondays, not the
      // weekly average (the deseasonalized monitor plain t11 z-scores
      // can't express). Stays engine-exact end to end: the scaled
      // residual r = 7·sden·y − sden·trend7 − 7·snum is t34's integer
      // numerator, the group moments (m, Σr, Σr²) are integer hash
      // aggregates (Σr = 0 exactly — residuals are deviations from the
      // per-dow mean, a property the spec asserts), z = (m·r − Σr)/
      // √(m·Σr² − (Σr)²) costs one sqrt of an exact value + one rounded
      // division, and the |z| > 2 breach flag never touches a float:
      // (m·r − Σr)² > 4·(m·Σr² − (Σr)²) is pure BIGINT comparison.
      // 100 TB shape: t34's day aggregate + centered window, then two
      // 7-row dow aggregates broadcast back — output is day-grid-sized.
      Some("""WITH c AS (
             |  SELECT epoch_us(ts) // 86400000000 AS d,
             |         CAST(count(*) AS BIGINT) AS y
             |  FROM events GROUP BY 1
             |),
             |w AS (
             |  SELECT d, y,
             |         sum(y) OVER (ORDER BY d ROWS BETWEEN 3 PRECEDING
             |                      AND 3 FOLLOWING) AS trend7,
             |         row_number() OVER (ORDER BY d) AS rn,
             |         count(*) OVER () AS n
             |  FROM c
             |),
             |interior AS (
             |  SELECT d, y, trend7, 7*y - trend7 AS detr7, d % 7 AS dow
             |  FROM w WHERE rn >= 4 AND rn <= n - 3
             |),
             |season AS (
             |  SELECT dow, CAST(sum(detr7) AS BIGINT) AS snum,
             |         CAST(7 * count(*) AS BIGINT) AS sden
             |  FROM interior GROUP BY 1
             |),
             |res AS (
             |  SELECT i.d, i.y, i.dow,
             |         CAST(7*s.sden*i.y - s.sden*i.trend7 - 7*s.snum AS BIGINT) AS r
             |  FROM interior i JOIN season s USING (dow)
             |),
             |g AS (
             |  SELECT dow, CAST(count(*) AS BIGINT) AS m,
             |         CAST(sum(r) AS BIGINT) AS sr,
             |         CAST(sum(r*r) AS BIGINT) AS srr
             |  FROM res GROUP BY 1
             |)
             |SELECT res.d AS day, res.y, CAST(res.dow AS BIGINT) AS dow,
             |       CASE WHEN g.m*g.srr - g.sr*g.sr > 0
             |            THEN round((g.m*res.r - g.sr) /
             |                 sqrt(CAST(g.m*g.srr - g.sr*g.sr AS DOUBLE)), 4)
             |       END AS z,
             |       CASE WHEN (g.m*res.r - g.sr)*(g.m*res.r - g.sr)
             |                 > 4*(g.m*g.srr - g.sr*g.sr)
             |            THEN 1 ELSE 0 END AS flagged
             |FROM res JOIN g USING (dow)
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val c = t.events
          .groupBy(expr("unix_micros(ts) DIV 86400000000").as("d"))
          .agg(count(lit(1)).as("y"))
        val cw = Window.orderBy(col("d")).rowsBetween(-3, 3)
        val seqW = Window.orderBy(col("d"))
        val interior = c
          .select(col("d"), col("y"),
            sum(col("y")).over(cw).as("trend7"),
            row_number().over(seqW).as("rn"),
            count(lit(1)).over(Window.partitionBy()).as("n"))
          .filter(col("rn") >= 4 && col("rn") <= col("n") - 3)
          .select(col("d"), col("y"), col("trend7"),
            (lit(7) * col("y") - col("trend7")).as("detr7"),
            (col("d") % 7).as("dow"))
        val season = interior.groupBy(col("dow"))
          .agg(sum(col("detr7")).as("snum"),
            (lit(7) * count(lit(1))).as("sden"))
        val res = interior.join(broadcast(season), Seq("dow"))
          .select(col("d"), col("y"), col("dow"),
            (lit(7) * col("sden") * col("y") - col("sden") * col("trend7") -
              lit(7) * col("snum")).as("r"))
        val g = res.groupBy(col("dow"))
          .agg(count(lit(1)).as("m"), sum(col("r")).as("sr"),
            sum(col("r") * col("r")).as("srr"))
        val b = col("m") * col("srr") - col("sr") * col("sr")
        val num = col("m") * col("r") - col("sr")
        ordered(
          res.join(broadcast(g), Seq("dow"))
            .select(col("d").as("day"), col("y"),
              col("dow").cast("long").as("dow"),
              when(b > 0, round(num / sqrt(b.cast("double")), 4)).as("z"),
              when(num * num > lit(4) * b, 1).otherwise(0).as("flagged")))
      }
    ),
    Q(
      "t38_did",
      // DIFFERENCE-IN-DIFFERENCES — the causal-inference workhorse for
      // "did the launch move the metric?" when a randomized test isn't
      // available: treatment (click) vs control (view) daily counts,
      // intervention pinned at the integer day midpoint; the DiD
      // estimate subtracts the control group's pre/post drift from the
      // treatment's, cancelling shared seasonality. All four cell sums
      // and day counts are exact BIGINTs; each mean is ONE double
      // division and the estimate is three double subtractions in a
      // pinned order — mirrored token-for-token in both engines.
      // 100 TB shape: one (type, day) aggregate, a 1-row bounds scalar
      // broadcast for the midpoint, a 4-row cell aggregate, a 1-row
      // pivot. Nothing after the first aggregate exceeds 4 rows.
      Some("""WITH c AS (
             |  SELECT event_type, epoch_us(ts) // 86400000000 AS d,
             |         CAST(count(*) AS BIGINT) AS y
             |  FROM events WHERE event_type IN ('click', 'view')
             |  GROUP BY 1, 2
             |),
             |b AS (SELECT min(d) AS d0, max(d) AS d1 FROM c),
             |g AS (
             |  SELECT event_type,
             |         (d >= b.d0 + (b.d1 - b.d0 + 1) // 2) AS post,
             |         CAST(sum(y) AS BIGINT) AS s,
             |         CAST(count(*) AS BIGINT) AS nd
             |  FROM c CROSS JOIN b GROUP BY 1, 2
             |),
             |m AS (
             |  SELECT
             |    max(CASE WHEN event_type = 'click' AND NOT post THEN nd END) AS nd_pre,
             |    max(CASE WHEN event_type = 'click' AND post THEN nd END) AS nd_post,
             |    max(CASE WHEN event_type = 'click' AND NOT post
             |             THEN CAST(s AS DOUBLE) / nd END) AS tpre,
             |    max(CASE WHEN event_type = 'click' AND post
             |             THEN CAST(s AS DOUBLE) / nd END) AS tpost,
             |    max(CASE WHEN event_type = 'view' AND NOT post
             |             THEN CAST(s AS DOUBLE) / nd END) AS cpre,
             |    max(CASE WHEN event_type = 'view' AND post
             |             THEN CAST(s AS DOUBLE) / nd END) AS cpost
             |  FROM g
             |)
             |SELECT nd_pre, nd_post,
             |       round(tpre, 4) AS mean_t_pre, round(tpost, 4) AS mean_t_post,
             |       round(cpre, 4) AS mean_c_pre, round(cpost, 4) AS mean_c_post,
             |       round((tpost - tpre) - (cpost - cpre), 4) AS did
             |FROM m ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val c = t.events
          .filter(col("event_type").isin("click", "view"))
          .groupBy(col("event_type"),
            expr("unix_micros(ts) DIV 86400000000").as("d"))
          .agg(count(lit(1)).as("y"))
        val b = c.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
        val g = c.crossJoin(broadcast(b))
          .groupBy(col("event_type"),
            (col("d") >= expr("d0 + (d1 - d0 + 1) DIV 2")).as("post"))
          .agg(sum(col("y")).as("s"), count(lit(1)).as("nd"))
        def cell(typ: String, post: Boolean, e: org.apache.spark.sql.Column) =
          max(when(col("event_type") === typ &&
            (if (post) col("post") else !col("post")), e))
        val mean = col("s").cast("double") / col("nd")
        val m = g.agg(
          cell("click", post = false, col("nd")).as("nd_pre"),
          cell("click", post = true, col("nd")).as("nd_post"),
          cell("click", post = false, mean).as("tpre"),
          cell("click", post = true, mean).as("tpost"),
          cell("view", post = false, mean).as("cpre"),
          cell("view", post = true, mean).as("cpost"))
        ordered(
          m.select(col("nd_pre"), col("nd_post"),
            round(col("tpre"), 4).as("mean_t_pre"),
            round(col("tpost"), 4).as("mean_t_post"),
            round(col("cpre"), 4).as("mean_c_pre"),
            round(col("cpost"), 4).as("mean_c_post"),
            round((col("tpost") - col("tpre")) - (col("cpost") - col("cpre")), 4)
              .as("did")))
      }
    ),
    Q(
      "j20_lerp_resample",
      // LINEAR-INTERPOLATION RESAMPLING — the step past t25's zero-fill /
      // forward-fill: each user's daily purchase-count series is
      // densified onto its own [min_day, max_day] grid, and absent days
      // take the LINEAR interpolation between the bracketing
      // observations: est = ((t1−t)·v0 + (t−t0)·v1)/(t1−t0). Bracketing
      // days come from two window passes (running max of the observed day
      // forward, running min backward — the engine-exact forward-fill
      // idiom from t25), the values from two equi-joins back to the
      // observation relation. One multiply-add sequence + one rounded
      // division keeps the float path identical in both engines. 100 TB
      // shape: one (user, day) hash aggregate, a per-user grid explode
      // (the OUTPUT of any resample, not a blowup), two windows and two
      // joins all sharing the user_id partitioning — a single shuffle
      // key end to end.
      Some("""WITH o AS (
             |  SELECT user_id, epoch_us(ts) // 86400000000 AS d,
             |         CAST(count(*) AS DOUBLE) AS v
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
             |),
             |b AS (SELECT user_id, min(d) AS d0, max(d) AS d1 FROM o GROUP BY 1),
             |grid AS (SELECT user_id, unnest(range(d0, d1 + 1)) AS d FROM b),
             |g AS (
             |  SELECT grid.user_id, grid.d, o.v
             |  FROM grid LEFT JOIN o ON o.user_id = grid.user_id AND o.d = grid.d
             |),
             |f AS (
             |  SELECT user_id, d, v,
             |         max(CASE WHEN v IS NOT NULL THEN d END)
             |           OVER (PARTITION BY user_id ORDER BY d
             |                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |           AS pd,
             |         min(CASE WHEN v IS NOT NULL THEN d END)
             |           OVER (PARTITION BY user_id ORDER BY d
             |                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
             |           AS nd
             |  FROM g
             |)
             |SELECT f.user_id, f.d AS day, (f.v IS NOT NULL) AS observed,
             |       round(CASE WHEN f.nd = f.pd THEN po.v
             |             ELSE ((f.nd - f.d) * po.v + (f.d - f.pd) * no.v)
             |                  / (f.nd - f.pd) END, 4) AS est
             |FROM f
             |JOIN o po ON po.user_id = f.user_id AND po.d = f.pd
             |JOIN o no ON no.user_id = f.user_id AND no.d = f.nd
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val o = t.events.filter(col("event_type") === "purchase")
          .groupBy(col("user_id"),
            expr("unix_micros(ts) DIV 86400000000").as("d"))
          .agg(count(lit(1)).cast("double").as("v"))
        val grid = o.groupBy(col("user_id"))
          .agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
          .select(col("user_id"), explode(expr("sequence(d0, d1)")).as("d"))
        val g = grid.join(
          o.select(col("user_id").as("ou"), col("d").as("od"), col("v")),
          col("user_id") === col("ou") && col("d") === col("od"), "left")
          .select(col("user_id"), col("d"), col("v"))
        val wp = Window.partitionBy(col("user_id")).orderBy(col("d"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        val wn = Window.partitionBy(col("user_id")).orderBy(col("d"))
          .rowsBetween(Window.currentRow, Window.unboundedFollowing)
        val f = g.select(col("user_id"), col("d"), col("v"),
          max(when(col("v").isNotNull, col("d"))).over(wp).as("pd"),
          min(when(col("v").isNotNull, col("d"))).over(wn).as("nd"))
        val po = o.select(col("user_id").as("pu"), col("d").as("pdd"),
          col("v").as("pv"))
        val no = o.select(col("user_id").as("nu"), col("d").as("ndd"),
          col("v").as("nv"))
        ordered(
          f.join(po, col("user_id") === col("pu") && col("pd") === col("pdd"))
            .join(no, col("user_id") === col("nu") && col("nd") === col("ndd"))
            .select(col("user_id"), col("d").as("day"),
              col("v").isNotNull.as("observed"),
              round(when(col("nd") === col("pd"), col("pv"))
                .otherwise(((col("nd") - col("d")) * col("pv") +
                  (col("d") - col("pd")) * col("nv")) / (col("nd") - col("pd"))),
                4).as("est")))
      }
    ),
    Q(
      "t25_gap_fill",
      // GAP-FILL / RESAMPLE TO A REGULAR GRID — the time-series
      // regularization step before any per-entity model: per-user daily
      // purchase activity densified onto the full corpus day range with
      // zero-fill for absent days, a forward-filled cumulative spend, and
      // days-since-last-activity (forward fill expressed as a RUNNING MAX
      // of the active day — engine-exact integer arithmetic, no
      // last_value/IGNORE NULLS portability edge). Money rides
      // DECIMAL(18,4) so the running sum is order-independent; the only
      // doubles are final casts of exact decimals. 100 TB shape: events
      // collapse to one (user, day) hash aggregate; the grid is the
      // users relation × a generated day sequence (the OUTPUT size of any
      // resample, not a blowup) built from a 1-row broadcast bounds
      // scalar; windows partition by user over day-count-sized frames.
      Some("""WITH p AS (
             |  SELECT user_id, CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_idx,
             |         count(*) AS n, sum(CAST(value AS DECIMAL(18,4))) AS spend
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
             |),
             |b AS (SELECT CAST(min(epoch_us(ts) // 86400000000) AS BIGINT) AS d0,
             |             CAST(max(epoch_us(ts) // 86400000000) AS BIGINT) AS d1
             |      FROM events),
             |u AS (SELECT DISTINCT user_id FROM events),
             |grid AS (
             |  SELECT u.user_id, g.d AS day_idx
             |  FROM u CROSS JOIN b CROSS JOIN UNNEST(range(b.d0, b.d1 + 1)) AS g(d)
             |),
             |f AS (
             |  SELECT grid.user_id, grid.day_idx,
             |         CAST(coalesce(p.n, 0) AS BIGINT) AS n,
             |         CAST(coalesce(p.spend, 0) AS DECIMAL(18,4)) AS spend,
             |         CASE WHEN p.n IS NOT NULL THEN grid.day_idx END AS active_day
             |  FROM grid LEFT JOIN p
             |    ON grid.user_id = p.user_id AND grid.day_idx = p.day_idx
             |)
             |SELECT user_id, day_idx, n,
             |       CAST(spend AS DOUBLE) AS spend,
             |       CAST(CAST(sum(spend) OVER w AS DECIMAL(18,4)) AS DOUBLE) AS cum_spend,
             |       day_idx - max(active_day) OVER w AS days_since_active
             |FROM f
             |WINDOW w AS (PARTITION BY user_id ORDER BY day_idx
             |             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val day = expr("unix_micros(ts) DIV 86400000000")
        val p = t.events.filter(col("event_type") === "purchase")
          .groupBy(col("user_id").as("p_user"), day.as("p_day"))
          .agg(count(lit(1)).as("pn"), sum(money(col("value"))).as("pspend"))
        val b = t.events.agg(min(day).as("d0"), max(day).as("d1"))
        val grid = t.events.select(col("user_id")).distinct()
          .crossJoin(broadcast(b)) // 1-row day-bounds scalar
          .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day_idx"))
        val f = grid.join(p,
            col("user_id") === col("p_user") && col("day_idx") === col("p_day"),
            "left")
          .select(col("user_id"), col("day_idx"),
            coalesce(col("pn"), lit(0L)).as("n"),
            coalesce(col("pspend"), lit(0).cast("decimal(18,4)")).as("spend"),
            when(col("pn").isNotNull, col("day_idx")).as("active_day"))
        val w = Window.partitionBy(col("user_id")).orderBy(col("day_idx"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ordered(
          f.select(col("user_id"), col("day_idx"), col("n"),
            col("spend").cast("double").as("spend"),
            sum(col("spend")).over(w).cast("decimal(18,4)").cast("double")
              .as("cum_spend"),
            (col("day_idx") - max(col("active_day")).over(w)).as("days_since_active")))
      }
    ),
    Q(
      "t31_binseg",
      // BINARY SEGMENTATION — t26's CUSUM localization applied
      // recursively one level down: find the global change point, split
      // the series there, and report each half's own strongest internal
      // shift. Each level's excursion is the same all-integer scaled
      // statistic (local cum·local D − local rank·local T), so no float
      // enters until nothing needs rounding — the output is pure
      // BIGINTs and the argmax flags are engine-independent by
      // construction (abs-max with min-day tiebreak via one more
      // integer compare). 100 TB shape: one per-day aggregate; the
      // level-1 peak is a 1-row broadcast back onto the bounded day
      // relation; every window rides that relation.
      Some("""WITH c AS (
             |  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
             |         CAST(count(*) AS BIGINT) AS n
             |  FROM events WHERE event_type = 'error' GROUP BY 1
             |),
             |s AS (
             |  SELECT d, n,
             |         CAST(sum(n) OVER (ORDER BY d ROWS BETWEEN UNBOUNDED
             |                           PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
             |         CAST(row_number() OVER (ORDER BY d) AS BIGINT) AS k
             |  FROM c
             |),
             |t AS (SELECT CAST(max(cum) AS BIGINT) AS tot,
             |             CAST(max(k) AS BIGINT) AS nd FROM s),
             |e1 AS (SELECT s.d, s.k, s.cum, cum * nd - k * tot AS exc
             |       FROM s CROSS JOIN t),
             |k1 AS (
             |  SELECT d AS split_d, k AS split_k, cum AS cum1, exc AS exc1
             |  FROM e1 ORDER BY abs(exc) DESC, d ASC LIMIT 1
             |),
             |e2 AS (
             |  SELECT e1.d,
             |         CASE WHEN e1.k <= k1.split_k THEN 'left' ELSE 'right' END AS seg,
             |         CASE WHEN e1.k <= k1.split_k
             |              THEN e1.cum * k1.split_k - e1.k * k1.cum1
             |              ELSE (e1.cum - k1.cum1) * (t.nd - k1.split_k)
             |                   - (e1.k - k1.split_k) * (t.tot - k1.cum1)
             |         END AS exc
             |  FROM e1 CROSS JOIN k1 CROSS JOIN t
             |),
             |l2 AS (
             |  SELECT seg, d, exc,
             |         row_number() OVER (PARTITION BY seg
             |                            ORDER BY abs(exc) DESC, d ASC) AS rn
             |  FROM e2
             |)
             |SELECT level, seg, day_idx, excursion FROM (
             |  SELECT 1 AS level, 'all' AS seg, split_d AS day_idx, exc1 AS excursion
             |  FROM k1
             |  UNION ALL
             |  SELECT 2, seg, d, exc FROM l2 WHERE rn = 1
             |)
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val c = t.events.filter(col("event_type") === "error")
          .groupBy(expr("unix_micros(ts) DIV 86400000000").as("d"))
          .agg(count(lit(1)).as("n"))
        val wd = Window.orderBy(col("d")) // bounded day relation
        val s = c.select(col("d"), col("n"),
          sum(col("n")).over(wd.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)).as("cum"),
          row_number().over(wd).cast("long").as("k"))
        val tot = s.agg(max(col("cum")).as("tot"), max(col("k")).as("nd"))
        val e1 = s.crossJoin(broadcast(tot))
          .select(col("d"), col("k"), col("cum"), col("tot"), col("nd"),
            (col("cum") * col("nd") - col("k") * col("tot")).as("exc"))
        val k1 = e1.orderBy(abs(col("exc")).desc, col("d").asc).limit(1)
          .select(col("d").as("split_d"), col("k").as("split_k"),
            col("cum").as("cum1"), col("exc").as("exc1"))
        val e2 = e1.crossJoin(broadcast(k1))
          .select(col("d"),
            when(col("k") <= col("split_k"), "left").otherwise("right").as("seg"),
            when(col("k") <= col("split_k"),
              col("cum") * col("split_k") - col("k") * col("cum1"))
              .otherwise((col("cum") - col("cum1")) * (col("nd") - col("split_k"))
                - (col("k") - col("split_k")) * (col("tot") - col("cum1")))
              .as("exc"))
        val l2 = e2.withColumn("rn",
          row_number().over(Window.partitionBy(col("seg"))
            .orderBy(abs(col("exc")).desc, col("d").asc)))
          .filter(col("rn") === 1)
        ordered(
          k1.select(lit(1).as("level"), lit("all").as("seg"),
            col("split_d").as("day_idx"), col("exc1").as("excursion"))
            .unionAll(l2.select(lit(2), col("seg"), col("d"), col("exc"))))
      }
    ),
    Q(
      "t30_autocorrelation",
      // AUTOCORRELATION FUNCTION over the daily event-count series — the
      // periodicity detector that finds the weekly cycle (the t21
      // day-of-week seasonality shows up as a spike at lag 7): r_k =
      // Σ dev_i·dev_{i+k} / Σ dev_i², with deviations centered EXACTLY
      // by scaling (dev = D·n − T, so the mean never materializes as a
      // float). Numerator and denominator are exact BIGINT sums of
      // bounded products; one rounded division per lag. 100 TB shape:
      // events collapse to the per-day aggregate; the lag pairing is a
      // (day+k) equi-join on the bounded day relation fanned out by a
      // 10-row lag grid; the denominator is a 1-row broadcast.
      Some("""WITH c AS (
             |  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
             |         CAST(count(*) AS BIGINT) AS n
             |  FROM events GROUP BY 1
             |),
             |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot,
             |             CAST(count(*) AS BIGINT) AS nd FROM c),
             |x AS (SELECT d, n * nd - tot AS dev FROM c CROSS JOIN t),
             |den AS (SELECT CAST(sum(dev * dev) AS BIGINT) AS den FROM x),
             |lags AS (SELECT unnest(range(1, 11)) AS k),
             |num AS (
             |  SELECT lags.k, CAST(sum(a.dev * b.dev) AS BIGINT) AS num,
             |         CAST(count(*) AS BIGINT) AS n_pairs
             |  FROM lags JOIN x a ON TRUE JOIN x b ON b.d = a.d + lags.k
             |  GROUP BY lags.k
             |)
             |SELECT num.k, num.num, den.den, num.n_pairs,
             |       round(num.num * 1.0 / den.den, 4) AS r
             |FROM num CROSS JOIN den
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val c = t.events
          .groupBy(expr("unix_micros(ts) DIV 86400000000").as("d"))
          .agg(count(lit(1)).as("n"))
        val tot = c.agg(sum(col("n")).as("tot"), count(lit(1)).as("nd"))
        val x = c.crossJoin(broadcast(tot))
          .select(col("d"), (col("n") * col("nd") - col("tot")).as("dev"))
        val den = x.agg(sum(col("dev") * col("dev")).as("den"))
        val lags = spark.range(1, 11).select(col("id").as("k"))
        val num = broadcast(lags).crossJoin(x.as("a"))
          .join(x.as("b"), col("b.d") === col("a.d") + col("k"))
          .groupBy(col("k"))
          .agg(sum(col("a.dev") * col("b.dev")).as("num"),
            count(lit(1)).as("n_pairs"))
        ordered(
          num.crossJoin(broadcast(den))
            .select(col("k"), col("num"), col("den"), col("n_pairs"),
              round(col("num") * lit(1.0) / col("den"), 4).as("r")))
      }
    ),
    Q(
      "t29_interarrival",
      // INTER-ARRIVAL DISTRIBUTION — the arrival-process profile per
      // event type: per-user consecutive gaps in exact integer seconds,
      // summarized with percentile_disc so every output value is a REAL
      // observed gap (engine-exact, no interpolation — the t20
      // discipline). Sizing signal for session thresholds (t3), state
      // TTLs, and watermark delays. 100 TB shape: one per-(user, type)
      // event-time sort feeds the lag; the percentile aggregate rides
      // the gap relation with a per-type sort, bounded by type count.
      Some("""WITH g AS (
             |  SELECT event_type,
             |         (epoch_us(ts) - lag(epoch_us(ts)) OVER
             |            (PARTITION BY user_id, event_type ORDER BY ts, event_id))
             |           // 1000000 AS gap_s
             |  FROM events
             |)
             |SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
             |       CAST(percentile_disc(0.5) WITHIN GROUP (ORDER BY gap_s) AS BIGINT) AS p50_s,
             |       CAST(percentile_disc(0.9) WITHIN GROUP (ORDER BY gap_s) AS BIGINT) AS p90_s,
             |       CAST(max(gap_s) AS BIGINT) AS max_s
             |FROM g WHERE gap_s IS NOT NULL
             |GROUP BY event_type
             |ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val w = Window.partitionBy(col("user_id"), col("event_type"))
          .orderBy(col("ts"), col("event_id"))
        val us = expr("unix_micros(ts)")
        val g = t.events.select(col("event_type"),
          (us - lag(us, 1).over(w)).as("gap_us"))
          .select(col("event_type"), expr("gap_us DIV 1000000").as("gap_s"))
        ordered(
          g.filter(col("gap_s").isNotNull)
            .groupBy(col("event_type"))
            .agg(count(lit(1)).as("n_gaps"),
              expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY gap_s)")
                .cast("long").as("p50_s"),
              expr("percentile_disc(0.9) WITHIN GROUP (ORDER BY gap_s)")
                .cast("long").as("p90_s"),
              max(col("gap_s")).as("max_s")))
      }
    ),
    Q(
      "t28_hysteresis",
      // ALERTING STATE MACHINE WITH HYSTERESIS — the monitor that pages:
      // a day turns the alert ON at ≥110% of the mean daily error count
      // and OFF at ≤90%; between the bands it CARRIES the previous
      // state, so a series hovering at the threshold doesn't flap. Both
      // gates are INTEGER-ONLY (10·n·D vs 11·T / 9·T — the mean never
      // materializes as a float), and the carry is forward-fill via two
      // RUNNING MAXes of the last on-day / off-day (the t25 discipline:
      // no last_value/IGNORE NULLS portability edge) — the whole state
      // machine is engine-exact integer arithmetic. 100 TB shape: events
      // collapse to the per-day aggregate; the totals row broadcasts;
      // every window rides the bounded day relation.
      Some("""WITH c AS (
             |  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
             |         CAST(count(*) AS BIGINT) AS n
             |  FROM events WHERE event_type = 'error' GROUP BY 1
             |),
             |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot,
             |             CAST(count(*) AS BIGINT) AS nd FROM c),
             |f AS (
             |  SELECT d, n,
             |         CASE WHEN 10 * n * nd >= 11 * tot THEN 1
             |              WHEN 10 * n * nd <= 9 * tot THEN 0 END AS gate
             |  FROM c CROSS JOIN t
             |),
             |s AS (
             |  SELECT d, n, gate,
             |         max(CASE WHEN gate = 1 THEN d END) OVER w AS last_on,
             |         max(CASE WHEN gate = 0 THEN d END) OVER w AS last_off
             |  FROM f WINDOW w AS (ORDER BY d
             |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |)
             |SELECT d AS day_idx, n, gate,
             |       CASE WHEN last_on IS NULL THEN 0
             |            WHEN last_off IS NULL THEN 1
             |            WHEN last_on > last_off THEN 1 ELSE 0 END AS alert
             |FROM s ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        ordered(hysteresis(Streams.dailyCounts(t.events, "error")))
      }
    ),
    Q(
      "w15_rolling_slope",
      // ROLLING OLS TREND — the windowed regression primitive: per event
      // type, the least-squares slope of daily counts over the trailing
      // 7 present days, from the closed form
      // (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²). Every Σ is an exact BIGINT
      // windowed sum (all products < 2^53: day_idx ≈ 2·10⁴, counts
      // bounded), so numerator and denominator are engine-exact integers
      // and the single division is rounded once; short head frames
      // (n = 1 ⇒ zero denominator) yield NULL via nullif, identically in
      // both engines. 100 TB shape: events collapse to the (type, day)
      // aggregate; all five windowed sums share ONE frame over that
      // bounded relation — one window family, no self-join.
      Some("""WITH c AS (
             |  SELECT event_type,
             |         CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
             |         CAST(count(*) AS BIGINT) AS y
             |  FROM events GROUP BY 1, 2
             |),
             |s AS (
             |  SELECT event_type, d, y,
             |         CAST(count(*) OVER w AS BIGINT) AS n,
             |         CAST(sum(d) OVER w AS BIGINT) AS sx,
             |         CAST(sum(y) OVER w AS BIGINT) AS sy,
             |         CAST(sum(d * y) OVER w AS BIGINT) AS sxy,
             |         CAST(sum(d * d) OVER w AS BIGINT) AS sxx
             |  FROM c WINDOW w AS (PARTITION BY event_type ORDER BY d
             |                      ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
             |)
             |SELECT event_type, d AS day_idx, y AS n_events,
             |       round((n * sxy - sx * sy) * 1.0 /
             |             nullif(n * sxx - sx * sx, 0), 4) AS slope
             |FROM s ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val c = t.events
          .groupBy(col("event_type"),
            expr("unix_micros(ts) DIV 86400000000").as("d"))
          .agg(count(lit(1)).as("y"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("d"))
          .rowsBetween(-6, Window.currentRow)
        val s = c.select(col("event_type"), col("d"), col("y"),
          count(lit(1)).over(w).as("n"),
          sum(col("d")).over(w).as("sx"),
          sum(col("y")).over(w).as("sy"),
          sum(col("d") * col("y")).over(w).as("sxy"),
          sum(col("d") * col("d")).over(w).as("sxx"))
        ordered(
          s.select(col("event_type"), col("d").as("day_idx"),
            col("y").as("n_events"),
            round((col("n") * col("sxy") - col("sx") * col("sy")) * lit(1.0) /
              nullif(col("n") * col("sxx") - col("sx") * col("sx"), lit(0)), 4)
              .as("slope")))
      }
    ),
    Q(
      "t27_path_regex",
      // SEQUENCE-PATTERN MATCHING (MATCH_RECOGNIZE-lite) — regex over a
      // user's event-symbol string: each event becomes one character
      // (v/c/p/s/e), the per-user journey is the (ts, event_id)-ordered
      // concatenation, and funnel-ish patterns are counted with plain
      // regex ('vc*p' = view, any clicks, purchase). Non-overlapping
      // leftmost matching and greedy 'c*' behave identically in Java
      // regex and RE2, and the symbol order is total ((ts, event_id)
      // unique), so the whole result is engine-exact. 100 TB shape: one
      // per-user sorted collect (bounded by a user's event count — the
      // same per-user relation every sessionization already builds),
      // then pure per-row regex compute; no window, no join.
      Some("""WITH s AS (
             |  SELECT user_id, ts, event_id,
             |         CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
             |              WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
             |              ELSE 'e' END AS sym
             |  FROM events
             |),
             |p AS (
             |  SELECT user_id, string_agg(sym, '' ORDER BY ts, event_id) AS path
             |  FROM s GROUP BY user_id
             |)
             |SELECT user_id, CAST(length(path) AS BIGINT) AS path_len,
             |       CAST(len(regexp_extract_all(path, 'vc')) AS BIGINT) AS n_vc,
             |       CAST(len(regexp_extract_all(path, 'vc*p')) AS BIGINT) AS n_conv,
             |       substring(path, 1, 5) AS prefix5
             |FROM p ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val sym = when(col("event_type") === "view", "v")
          .when(col("event_type") === "click", "c")
          .when(col("event_type") === "purchase", "p")
          .when(col("event_type") === "signup", "s")
          .otherwise("e")
        val p = t.events
          .select(col("user_id"),
            struct(col("ts"), col("event_id"), sym.as("sym")).as("st"))
          .groupBy(col("user_id"))
          .agg(concat_ws("",
            transform(sort_array(collect_list(col("st"))),
              x => x.getField("sym"))).as("path"))
        ordered(
          p.select(col("user_id"),
            length(col("path")).cast("long").as("path_len"),
            regexp_count(col("path"), lit("vc")).cast("long").as("n_vc"),
            regexp_count(col("path"), lit("vc*p")).cast("long").as("n_conv"),
            substring(col("path"), 1, 5).as("prefix5")))
      }
    ),
    Q(
      "t32_holt_forecast",
      // HOLT'S LINEAR EXPONENTIAL SMOOTHING — the level+trend forecaster
      // one step up from w6's EWMA (which has no trend term): per event
      // type, the classic recurrence l' = α·y + (1-α)(l+b),
      // b' = β(l'-l) + (1-β)b folded over the day-ordered daily counts,
      // α = β = 1/2. The fold is a sequential struct-accumulator
      // list_reduce/aggregate in BOTH engines running the IDENTICAL IEEE
      // expression sequence — halving and adding doubles is deterministic
      // bit-for-bit, the w6 discipline extended to two-component state.
      // Output: final level, trend, and the 7-day-ahead forecast
      // l + 7b. 100 TB shape: events collapse to the per-(type, day)
      // aggregate; each type's fold rides its bounded day list (the same
      // per-key sequential-state shape T5 runs incrementally); output is
      // type-count rows.
      // (the DuckDB twin runs the recurrence as a recursive CTE — its
      // list_reduce rebinds struct-accumulator fields mid-struct in 1.0,
      // so the two-component fold is NOT portable through lambdas)
      Some("""WITH RECURSIVE c AS (
             |  SELECT event_type, epoch_us(ts) // 86400000000 AS d,
             |         CAST(count(*) AS DOUBLE) AS y
             |  FROM events GROUP BY 1, 2
             |),
             |cr AS (
             |  SELECT event_type, y,
             |         row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn
             |  FROM c
             |),
             |st AS (
             |  SELECT event_type, 1 AS k, y AS l, CAST(0 AS DOUBLE) AS b
             |  FROM cr WHERE rn = 1
             |  UNION ALL
             |  SELECT cr.event_type, st.k + 1,
             |         0.5 * cr.y + 0.5 * (st.l + st.b),
             |         0.5 * (0.5 * cr.y + 0.5 * (st.l + st.b) - st.l) + 0.5 * st.b
             |  FROM st JOIN cr ON cr.event_type = st.event_type
             |                 AND cr.rn = st.k + 1
             |),
             |fin AS (
             |  SELECT event_type, k, l, b,
             |         row_number() OVER (PARTITION BY event_type ORDER BY k DESC)
             |           AS rr
             |  FROM st
             |)
             |SELECT event_type, CAST(k AS BIGINT) AS n_days,
             |       round(l, 4) AS level, round(b, 4) AS trend,
             |       round(l + 7 * b, 4) AS forecast_7d
             |FROM fin WHERE rr = 1 ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val c = t.events
          .groupBy(col("event_type"),
            expr("unix_micros(ts) DIV 86400000000").as("d"))
          .agg(count(lit(1)).cast("double").as("y"))
        val ser = c.groupBy(col("event_type"))
          .agg(expr("transform(array_sort(collect_list(struct(d, y))), p -> p.y)")
            .as("ys"), count(lit(1)).as("n_days"))
        val st = ser.select(col("event_type"), col("n_days"), expr(
          """CASE WHEN size(ys) >= 2 THEN aggregate(
            |  slice(ys, 2, size(ys) - 1),
            |  named_struct('l', ys[0], 'b', cast(0 as double)),
            |  (acc, y) -> named_struct(
            |    'l', 0.5D * y + 0.5D * (acc.l + acc.b),
            |    'b', 0.5D * (0.5D * y + 0.5D * (acc.l + acc.b) - acc.l)
            |         + 0.5D * acc.b),
            |  acc -> acc)
            |ELSE named_struct('l', ys[0], 'b', cast(0 as double)) END
            |""".stripMargin).as("s"))
        ordered(
          st.select(col("event_type"), col("n_days"),
            round(col("s.l"), 4).as("level"),
            round(col("s.b"), 4).as("trend"),
            round(col("s.l") + lit(7) * col("s.b"), 4).as("forecast_7d")))
      }
    ), {
      // T33: HOLT-WINTERS ADDITIVE SEASONAL — t32's level+trend recurrence
      // plus a 7-slot weekly seasonal state (α = β = γ = 1/2):
      //   l' = (y − s[t%7])/2 + (l + b)/2
      //   b' = (l' − l)/2 + b/2
      //   s[t%7]' = (y − l')/2 + s[t%7]/2
      // Halving/adding doubles is IEEE-deterministic, so Spark's
      // struct-accumulator aggregate() and DuckDB's recursive CTE run the
      // IDENTICAL bit sequence — the seasonal state is spelled as seven
      // scalar slots (not a list) because element-wise list update is the
      // one construct the two engines don't share; both expression texts
      // are generated below from the same templates so they cannot drift.
      // 100 TB shape: identical to t32 — per-(type, day) aggregate, then a
      // per-type fold over the bounded day list; output is type-count rows.
      val ks = 0 to 6
      // Spark-side fold fragments
      val sAt = ks.map(k => s"WHEN $k THEN acc.s$k")
        .mkString("CASE acc.t % 7 ", " ", " END")
      val lp = s"(0.5D * (y - $sAt) + 0.5D * (acc.l + acc.b))"
      val sUpd = ks.map(k =>
        s"'s$k', IF(acc.t % 7 = $k, 0.5D * (y - $lp) + 0.5D * acc.s$k, acc.s$k)")
        .mkString(",\n")
      val init = s"named_struct('t', 1, 'l', ys[0], 'b', cast(0 as double), " +
        ks.map(k => s"'s$k', cast(0 as double)").mkString(", ") + ")"
      val foldExpr =
        s"""CASE WHEN size(ys) >= 2 THEN aggregate(
           |  slice(ys, 2, size(ys) - 1), $init,
           |  (acc, y) -> named_struct(
           |    't', acc.t + 1,
           |    'l', $lp,
           |    'b', 0.5D * ($lp - acc.l) + 0.5D * acc.b,
           |    $sUpd),
           |  acc -> acc)
           |ELSE $init END""".stripMargin
      val fSlot = ks.map(k => s"WHEN $k THEN s.s$k")
        .mkString("CASE (s.t + 6) % 7 ", " ", " END")
      val peak = "greatest(" + ks.map(k => s"s.s$k").mkString(", ") + ")"
      // DuckDB-side fragments (same templates over the CTE column names)
      val dAt = ks.map(k => s"WHEN $k THEN st.s$k")
        .mkString("CASE st.k % 7 ", " ", " END")
      val dLp = s"(0.5 * (cr.y - $dAt) + 0.5 * (st.l + st.b))"
      val dUpd = ks.map(k =>
        s"CASE WHEN st.k % 7 = $k THEN 0.5 * (cr.y - $dLp) + 0.5 * st.s$k " +
          s"ELSE st.s$k END").mkString(",\n")
      val dInit = ks.map(k => s"CAST(0 AS DOUBLE) AS s$k").mkString(", ")
      val dSlot = ks.map(k => s"WHEN $k THEN s$k")
        .mkString("CASE (k + 6) % 7 ", " ", " END")
      val dPeak = "greatest(" + ks.map(k => s"s$k").mkString(", ") + ")"
      Q(
        "t33_holt_winters",
        Some(s"""WITH RECURSIVE c AS (
               |  SELECT event_type, epoch_us(ts) // 86400000000 AS d,
               |         CAST(count(*) AS DOUBLE) AS y
               |  FROM events GROUP BY 1, 2
               |),
               |cr AS (
               |  SELECT event_type, y,
               |         row_number() OVER (PARTITION BY event_type ORDER BY d) AS rn
               |  FROM c
               |),
               |st AS (
               |  SELECT event_type, 1 AS k, y AS l, CAST(0 AS DOUBLE) AS b, $dInit
               |  FROM cr WHERE rn = 1
               |  UNION ALL
               |  SELECT cr.event_type, st.k + 1,
               |         $dLp,
               |         0.5 * ($dLp - st.l) + 0.5 * st.b,
               |         $dUpd
               |  FROM st JOIN cr ON cr.event_type = st.event_type
               |                 AND cr.rn = st.k + 1
               |),
               |fin AS (
               |  SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY k DESC)
               |           AS rr
               |  FROM st
               |)
               |SELECT event_type, CAST(k AS BIGINT) AS n_days,
               |       round(l, 4) AS level, round(b, 4) AS trend,
               |       round(l + 7 * b + $dSlot, 4) AS forecast_7d,
               |       round($dPeak, 4) AS season_peak
               |FROM fin WHERE rr = 1 ORDER BY ALL NULLS FIRST""".stripMargin),
        (spark, dir) => {
          val t = Tables(spark, dir)
          val c = t.events
            .groupBy(col("event_type"),
              expr("unix_micros(ts) DIV 86400000000").as("d"))
            .agg(count(lit(1)).cast("double").as("y"))
          val ser = c.groupBy(col("event_type"))
            .agg(expr("transform(array_sort(collect_list(struct(d, y))), p -> p.y)")
              .as("ys"), count(lit(1)).as("n_days"))
          val st = ser.select(col("event_type"), col("n_days"),
            expr(foldExpr).as("s"))
          ordered(
            st.select(col("event_type"), col("n_days"),
              round(col("s.l"), 4).as("level"),
              round(col("s.b"), 4).as("trend"),
              round(col("s.l") + lit(7) * col("s.b") + expr(fSlot), 4)
                .as("forecast_7d"),
              round(expr(peak), 4).as("season_peak")))
        }
      )
    },
    Q(
      "t26_cusum",
      // CUSUM CHANGE-POINT LOCALIZATION — where did the error-rate level
      // shift? The cumulative sum of deviations from the global mean
      // peaks (in absolute value) at the change point. Kept EXACT by
      // scaling: S_k·D = cum_n·D − k·T (cum count × day count minus rank
      // × total) is pure BIGINT arithmetic — no mean division, no float
      // anywhere in the output, so the argmax flag is engine-independent
      // by construction. 100 TB shape: events collapse to one per-day
      // hash aggregate; every window (running sum, rank, global max)
      // rides the bounded day relation, never raw events; the totals row
      // broadcasts.
      Some("""WITH d AS (
             |  SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_idx
             |  FROM events WHERE event_type = 'error'
             |),
             |c AS (SELECT day_idx, count(*) AS n FROM d GROUP BY 1),
             |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot, CAST(count(*) AS BIGINT) AS nd FROM c),
             |s AS (
             |  SELECT day_idx, CAST(n AS BIGINT) AS n,
             |         CAST(sum(n) OVER (ORDER BY day_idx) AS BIGINT) AS cum_n,
             |         CAST(row_number() OVER (ORDER BY day_idx) AS BIGINT) AS k,
             |         tot, nd
             |  FROM c CROSS JOIN t
             |)
             |SELECT day_idx, n, cum_n,
             |       cum_n * nd - k * tot AS s_scaled,
             |       CASE WHEN abs(cum_n * nd - k * tot) =
             |                 max(abs(cum_n * nd - k * tot)) OVER () THEN 1 ELSE 0 END AS is_peak
             |FROM s ORDER BY ALL NULLS FIRST""".stripMargin),
      (spark, dir) => {
        val t = Tables(spark, dir)
        val c = t.events.filter(col("event_type") === "error")
          .groupBy(expr("unix_micros(ts) DIV 86400000000").as("day_idx"))
          .agg(count(lit(1)).as("n"))
        val tot = c.agg(sum(col("n")).as("tot"), count(lit(1)).as("nd"))
        val wd = Window.orderBy(col("day_idx")) // rides the bounded day relation
        val s = c.crossJoin(broadcast(tot))
          .select(col("day_idx"), col("n"),
            sum(col("n")).over(wd.rowsBetween(Window.unboundedPreceding, Window.currentRow))
              .as("cum_n"),
            row_number().over(wd).cast("long").as("k"),
            col("tot"), col("nd"))
        val sScaled = col("cum_n") * col("nd") - col("k") * col("tot")
        val wAll = Window.partitionBy() // 30-row relation: global max is fine
        ordered(
          s.select(col("day_idx"), col("n"), col("cum_n"),
            sScaled.as("s_scaled"),
            when(abs(sScaled) === max(abs(sScaled)).over(
              wAll.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)),
              1).otherwise(0).as("is_peak")))
      }
    )
  )

  /** The t28 hysteresis state machine as a reusable transform over any
    * (d, n) daily-count relation: alert ON at ≥110% of the mean daily
    * count, OFF at ≤90%, CARRY between the bands. Integer-only gates
    * (10·n·D vs 11·T / 9·T) and running-max forward fill — engine-exact.
    * The same transform runs over a streaming sink's windowed counts
    * (StreamingSpec parity) and over the batch aggregate (the t28
    * oracle). Input relation is day-count-bounded, so every window here
    * is cheap at any corpus scale. */
  def hysteresis(c: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val tot = c.agg(sum(col("n")).as("tot"), count(lit(1)).as("nd"))
    val gate = when(lit(10) * col("n") * col("nd") >= lit(11) * col("tot"), 1)
      .when(lit(10) * col("n") * col("nd") <= lit(9) * col("tot"), 0)
    val w = Window.orderBy(col("d")) // bounded day relation
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    c.crossJoin(broadcast(tot))
      .select(col("d"), col("n"), gate.as("gate"))
      .select(col("d"), col("n"), col("gate"),
        max(when(col("gate") === 1, col("d"))).over(w).as("last_on"),
        max(when(col("gate") === 0, col("d"))).over(w).as("last_off"))
      .select(col("d").as("day_idx"), col("n"), col("gate"),
        when(col("last_on").isNull, 0)
          .when(col("last_off").isNull, 1)
          .when(col("last_on") > col("last_off"), 1)
          .otherwise(0).as("alert"))
  }

  /** The t10 funnel as a reusable transform over any (user_id, event_type,
    * ts) relation: first view, first click STRICTLY after it, first
    * purchase strictly after that; depth = stages reached. Out-of-order
    * stages never convert — the strictness PropertySpec pins that. */
  def funnel(ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("v_ts"))
    val c = ev.filter(col("event_type") === "click").as("e")
      .join(v.as("v"), col("e.user_id") === col("v.user_id") &&
        col("e.ts") > col("v.v_ts"))
      .groupBy(col("e.user_id").as("user_id"))
      .agg(min(col("e.ts")).as("c_ts"))
    val p = ev.filter(col("event_type") === "purchase").as("e")
      .join(c.as("c"), col("e.user_id") === col("c.user_id") &&
        col("e.ts") > col("c.c_ts"))
      .groupBy(col("e.user_id").as("user_id"))
      .agg(min(col("e.ts")).as("p_ts"))
    v.join(c, Seq("user_id"), "left")
      .join(p, Seq("user_id"), "left")
      .select(col("user_id"), col("v_ts"), col("c_ts"), col("p_ts"),
        (lit(1) + when(col("c_ts").isNull, 0).otherwise(1)
          + when(col("p_ts").isNull, 0).otherwise(1)).as("depth"))
  }
}
