package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Analytic (row) windows and time windows — tumbling / sliding / session
  * (SURVEY.md §2B). Time windows are the batch-equivalent of the streaming
  * queries in graft.streaming; both use the same epoch-aligned bucket
  * semantics so batch ≡ streaming replay (property-tested).
  *
  * Scale: every window here partitions by a key (user_id / custkey /
  * bucket), so state is distributed by hash — no single-partition global
  * window anywhere (a `Window.orderBy` without partitionBy collapses to one
  * task and is banned in this codebase).
  */
object Windows {

  /** rank() within customer; window order made total with the key tiebreak
    * so rank is deterministic. */
  private val qWindowRank = Q(
    "q_window_rank",
    (s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(desc("o_totalprice"), asc("o_orderkey"))
      Tables.orders(s, dir)
        .select(col("o_custkey"), col("o_orderkey"), rank().over(w).cast("long").as("rnk"))
        .filter(col("rnk") <= 3)
        .orderBy("o_custkey", "rnk", "o_orderkey")
    },
    Some("""WITH r AS (SELECT o_custkey, o_orderkey,
              CAST(rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
            FROM orders)
            SELECT o_custkey, o_orderkey, rnk FROM r WHERE rnk <= 3
            ORDER BY o_custkey, rnk, o_orderkey""")
  )

  /** lag() per user ordered by event time: per-user value deltas. */
  private val qWindowLag = Q(
    "q_window_lag",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(asc("ts_ms"), asc("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"),
          round(col("value") - lag("value", 1).over(w), 4).as("delta"))
        .orderBy("user_id", "event_id")
    },
    Some("""SELECT user_id, event_id,
              round(value - lag(value) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id), 4) AS delta
            FROM events ORDER BY user_id, event_id""")
  )

  /** Explicit frame spec: running sum, rowsBetween(unboundedPreceding,
    * currentRow). Sequential accumulation order is identical in both
    * engines, so doubles match bit-for-bit before rounding. */
  private val qWindowFrame = Q(
    "q_window_frame",
    (s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(asc("ts_ms"), asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, dir)
        .select(col("user_id"), col("event_id"),
          (floor(sum(col("value").cast("decimal(30,10)")).over(w).cast("double") * 10000) / 10000.0).as("run_sum"))
        .orderBy("user_id", "event_id")
    },
    // decimal accumulation + floor-truncation: windowed float sums are
    // association-order-sensitive too (Spark accumulates the running
    // frame, DuckDB uses segment-tree aggregation) — same two hazards
    // the group aggregates hit at sf0.1 (see q_resample_agg)
    Some("""SELECT user_id, event_id,
              floor(CAST(sum(CAST(value AS DECIMAL(30,10))) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) * 10000) / 10000 AS run_sum
            FROM events ORDER BY user_id, event_id""")
  )

  /** 5-minute tumbling window (ref R6's poll cadence generalized). Spark's
    * window() is epoch-aligned, so the oracle is plain integer bucket math.
    * Plans as a regular hash aggregate on the derived bucket — partial
    * combine applies, shuffle carries only |buckets| rows. */
  private val qWindowTumbling = Q(
    "q_window_tumbling",
    (s, dir) =>
      graft.api.TimeSeries.tumbling(Tables.events(s, dir), "ts_t", "5 minutes",
          Seq(count(lit(1)).as("cnt"),
            (floor(sum(col("value").cast("decimal(30,10)")).cast("double") * 10000) / 10000.0).as("sum_value")))
        .select("win_start_ms", "cnt", "sum_value")
        .orderBy("win_start_ms"),
    Some("""SELECT (epoch_ms(ts) // 300000) * 300000 AS win_start_ms,
              count(*) AS cnt,
              floor(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE) * 10000) / 10000 AS sum_value
            FROM events GROUP BY win_start_ms ORDER BY win_start_ms""")
  )

  /** 10-minute windows sliding by 5: every event lands in exactly two
    * epoch-aligned windows (starts b5 and b5-5min). */
  private val qWindowSliding = Q(
    "q_window_sliding",
    (s, dir) =>
      graft.api.TimeSeries.sliding(Tables.events(s, dir), "ts_t", "10 minutes", "5 minutes",
          Seq(count(lit(1)).as("cnt"),
            (floor(sum(col("value").cast("decimal(30,10)")).cast("double") * 10000) / 10000.0).as("sum_value")))
        .select("win_start_ms", "cnt", "sum_value")
        .orderBy("win_start_ms"),
    Some("""WITH b AS (SELECT (epoch_ms(ts) // 300000) * 300000 AS b5, value FROM events),
                 w AS (SELECT unnest([b5, b5 - 300000]) AS win_start_ms, value FROM b)
            SELECT win_start_ms, count(*) AS cnt,
              floor(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE) * 10000) / 10000 AS sum_value
            FROM w GROUP BY win_start_ms ORDER BY win_start_ms""")
  )

  /** Per-user session windows, 30-minute gap. Spark merges an event into
    * the open session iff ts < prev_ts + gap (half-open [start, last+gap));
    * the oracle replays that rule with lag + break-flag + running sum —
    * computed in MICROseconds to match Spark's internal precision exactly
    * (ms-truncated gap math can disagree within 1ms of the boundary). */
  private val qSessionWindow = Q(
    "q_session_window",
    (s, dir) =>
      graft.api.TimeSeries.sessionize(Tables.events(s, dir), "ts_t", "user_id", "30 minutes",
          Seq(count(lit(1)).as("cnt"),
            (floor(sum(col("value").cast("decimal(30,10)")).cast("double") * 10000) / 10000.0).as("sum_value")))
        .select("user_id", "session_start_ms", "cnt", "sum_value")
        .orderBy("user_id", "session_start_ms"),
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS tu, value FROM events),
                 l AS (SELECT user_id, tu, value,
                         lag(tu) OVER (PARTITION BY user_id ORDER BY tu) AS prev FROM e),
                 f AS (SELECT user_id, tu, value,
                         CASE WHEN prev IS NULL OR tu - prev >= 1800000000 THEN 1 ELSE 0 END AS brk FROM l),
                 s AS (SELECT user_id, tu, value,
                         sum(brk) OVER (PARTITION BY user_id ORDER BY tu
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM f)
            SELECT user_id, min(tu) // 1000 AS session_start_ms,
              count(*) AS cnt,
              floor(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE) * 10000) / 10000 AS sum_value
            FROM s GROUP BY user_id, sid ORDER BY user_id, session_start_ms""")
  )

  /** Interval join (graft.api.TimeSeries.intervalJoinCount): for every
    * purchase, how many errors (any user) land in [ts, ts+10min). The
    * scale plan is a bucketed EQUI-join — each left window spans ≤ 2
    * ten-minute buckets, each right point 1 — plus an exact residual
    * filter; never a BroadcastNestedLoopJoin. Oracle = correlated count
    * subquery. */
  private val qIntervalCount = Q(
    "q_interval_count",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      graft.api.TimeSeries.intervalJoinCount(
          ev.filter(col("event_type") === "purchase"), "event_id", "ts_ms",
          ev.filter(col("event_type") === "error"), "ts_ms", windowMs = 600000L)
        .orderBy("event_id")
    },
    Some("""SELECT p.event_id,
              (SELECT count(*) FROM events e
               WHERE e.event_type = 'error'
                 AND epoch_ms(e.ts) >= epoch_ms(p.ts)
                 AND epoch_ms(e.ts) < epoch_ms(p.ts) + 600000) AS match_cnt
            FROM events p WHERE p.event_type = 'purchase'
            ORDER BY p.event_id""")
  )

  /** Day-over-day cohort RETENTION: of the users active on day d, the
    * fraction also active on day d+1 — the engagement staple every
    * event-analytics system ships. One distinct (user, day) aggregate +
    * a per-user window lead + one day aggregate; work ∝ distinct
    * (user, day), never raw events, at any scale. Day bucketing uses
    * the same true-floor-division correction as the other time ops. */
  private val qRetention = Q(
    "q_retention",
    (s, dir) => {
      val ub = Tables.events(s, dir)
        .select(col("user_id"),
          expr(graft.api.TimeSeries.floorDivSql("ts_ms", 86400000L)).as("day_idx"))
        .distinct()
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("day_idx")
      ub.withColumn("next_day", lead("day_idx", 1).over(w))
        .groupBy("day_idx")
        .agg(count(lit(1)).as("n_active"),
          count(when(col("next_day") === col("day_idx") + 1, 1)).as("n_retained"))
        .withColumn("retention", round(col("n_retained") / col("n_active"), 4))
        .orderBy("day_idx")
    },
    Some("""WITH ub AS (SELECT DISTINCT user_id,
                   epoch_ms(ts) // 86400000
                     - CASE WHEN epoch_ms(ts) % 86400000 < 0 THEN 1 ELSE 0 END AS day_idx
                 FROM events),
                 l AS (SELECT user_id, day_idx,
                   lead(day_idx) OVER (PARTITION BY user_id ORDER BY day_idx) AS next_day
                 FROM ub)
            SELECT day_idx, count(*) AS n_active,
                   count(CASE WHEN next_day = day_idx + 1 THEN 1 END) AS n_retained,
                   round(count(CASE WHEN next_day = day_idx + 1 THEN 1 END) * 1.0 / count(*), 4) AS retention
            FROM l GROUP BY day_idx ORDER BY day_idx""")
  )

  /** FUNNEL conversion: per day, how many purchases were preceded by an
    * error from the same user within 10 minutes — the error→purchase
    * attribution staple, composed from the library's tolerance as-of
    * join (one shuffle by user) + a day aggregate. The rate is emitted
    * as INTEGER basis points ((hits × 10000) div purchases) — exact
    * integer arithmetic, immune to every cross-engine float hazard. */
  private val qFunnel = Q(
    "q_funnel",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
      val asof = graft.api.TimeSeries.asofJoin(
        purchases, "event_id", "ts_ms", "user_id",
        ev.filter(col("event_type") === "error"), "ts_ms", "user_id",
        toleranceMs = Some(600000L))
      purchases
        .select(col("event_id"),
          expr(graft.api.TimeSeries.floorDivSql("ts_ms", 86400000L)).as("day_idx"))
        .join(asof, "event_id")
        .groupBy("day_idx")
        .agg(count(lit(1)).as("n_purchases"),
          count(col("asof_ts_ms")).as("n_with_recent_error"))
        .withColumn("conv_bps",
          expr("(n_with_recent_error * 10000) div n_purchases"))
        .orderBy("day_idx")
    },
    Some("""WITH p AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
                   (epoch_ms(ts) // 86400000
                    - CASE WHEN epoch_ms(ts) % 86400000 < 0 THEN 1 ELSE 0 END) AS day_idx
                 FROM events WHERE event_type = 'purchase'),
                 f AS (SELECT p.day_idx,
                   CASE WHEN EXISTS (SELECT 1 FROM events e
                        WHERE e.event_type = 'error' AND e.user_id = p.user_id
                          AND epoch_ms(e.ts) <= p.ts_ms
                          AND epoch_ms(e.ts) >= p.ts_ms - 600000) THEN 1 ELSE 0 END AS hit
                 FROM p)
            SELECT day_idx, count(*) AS n_purchases,
                   CAST(sum(hit) AS BIGINT) AS n_with_recent_error,
                   CAST((sum(hit) * 10000) // count(*) AS BIGINT) AS conv_bps
            FROM f GROUP BY day_idx ORDER BY day_idx""")
  )

  /** TIME-based (RANGE) window frame: per event, the count and summed
    * value of the same user's events in the trailing 30 minutes —
    * RANGE BETWEEN over epoch-ms, the frame ROWS frames can't express
    * (peers at equal timestamps are all included, and the window is
    * defined by TIME distance, not row count). The rolling-rate /
    * trailing-exposure shape. */
  private val qWindowRangeFrame = Q(
    "q_window_range_frame",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy("ts_ms")
        .rangeBetween(-1800000L, 0L)
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("ts_ms"),
          count(lit(1)).over(w).as("n_30m"),
          (floor(sum(col("value").cast("decimal(30,10)")).over(w).cast("double") * 10000) / 10000.0).as("sum_30m"))
        .filter(col("event_id") % 13 === 0)
        .orderBy("event_id")
    },
    Some("""WITH r AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
                   count(*) OVER w AS n_30m,
                   floor(CAST(sum(CAST(value AS DECIMAL(30,10))) OVER w AS DOUBLE) * 10000) / 10000 AS sum_30m
                 FROM events
                 WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
                   RANGE BETWEEN 1800000 PRECEDING AND CURRENT ROW))
            SELECT event_id, user_id, ts_ms, n_30m, sum_30m FROM r
            WHERE event_id % 13 = 0 ORDER BY event_id""")
  )

  /** Interval join with PARAMETERIZED aggregates
    * (graft.api.TimeSeries.intervalJoinAgg): for every purchase, the
    * count AND summed value of errors in [ts, ts+10min) — empty windows
    * report count 0 but sum NULL (matching what a correlated SQL
    * aggregate over zero rows returns; a zero sum would fake signal).
    * Same bucketed equi-join plan as q_interval_count. */
  private val qIntervalAgg = Q(
    "q_interval_agg",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      graft.api.TimeSeries.intervalJoinAgg(
          ev.filter(col("event_type") === "purchase"), "event_id", "ts_ms",
          ev.filter(col("event_type") === "error"), "ts_ms", windowMs = 600000L,
          aggs = Seq(count(lit(1)).as("match_cnt"),
            // decimal accumulation (order-independent exact sum) +
            // floor-truncation (round(double,4) semantics differ across
            // engines) — same two hazards q_resample_agg hit at sf0.1
            (floor(sum(col("value").cast("decimal(30,10)")).cast("double") * 10000) / 10000.0).as("err_value")),
          fills = Seq(lit(0L), lit(null).cast("double")))
        .orderBy("event_id")
    },
    Some("""SELECT p.event_id,
              (SELECT count(*) FROM events e
               WHERE e.event_type = 'error'
                 AND epoch_ms(e.ts) >= epoch_ms(p.ts)
                 AND epoch_ms(e.ts) < epoch_ms(p.ts) + 600000) AS match_cnt,
              (SELECT floor(CAST(sum(CAST(e.value AS DECIMAL(30,10))) AS DOUBLE) * 10000) / 10000 FROM events e
               WHERE e.event_type = 'error'
                 AND epoch_ms(e.ts) >= epoch_ms(p.ts)
                 AND epoch_ms(e.ts) < epoch_ms(p.ts) + 600000) AS err_value
            FROM events p WHERE p.event_type = 'purchase'
            ORDER BY p.event_id""")
  )

  /** first_value / last_value over an explicit full-partition frame
    * (default frames differ between engines for last_value — pin
    * unbounded-to-unbounded on both sides). */
  private val qWindowFirstLast = Q(
    "q_window_first_last",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_orderstatus")
        .orderBy(asc("o_totalprice"), asc("o_orderkey"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"),
          first("o_orderkey").over(w).as("cheapest_key"),
          last("o_orderkey").over(w).as("priciest_key"))
        .filter(col("o_orderkey") % 71 === 0)
        .orderBy("o_orderkey")
    },
    Some("""WITH r AS (SELECT o_orderkey, o_orderstatus,
              first_value(o_orderkey) OVER (PARTITION BY o_orderstatus
                ORDER BY o_totalprice, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS cheapest_key,
              last_value(o_orderkey) OVER (PARTITION BY o_orderstatus
                ORDER BY o_totalprice, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS priciest_key
            FROM orders)
            SELECT o_orderkey, o_orderstatus, cheapest_key, priciest_key FROM r
            WHERE o_orderkey % 71 = 0 ORDER BY o_orderkey""")
  )

  /** Resample + gap-fill (graft.api.TimeSeries.resampleGapFill): dense
    * per-(event_type, 5-min bucket) counts over the full corpus range,
    * explicit zeros for empty buckets — a plain groupBy silently omits
    * them. Spine = keys × bucket range from a 1-row min/max broadcast. */
  private val qResample = Q(
    "q_resample",
    (s, dir) =>
      graft.api.TimeSeries.resampleGapFill(Tables.events(s, dir),
          "ts_ms", "event_type", widthMs = 300000L)
        .orderBy(asc_nulls_first("event_type"), asc_nulls_first("bucket_start_ms")),
    // bucket = true FLOOR division on both sides: DuckDB's `//` (like
    // Spark's `div`) truncates toward zero, so both engines apply the
    // same negative-remainder correction — pre-1970 timestamps bucket
    // identically
    Some("""WITH b AS (SELECT event_type,
                   (epoch_ms(ts) // 300000
                    - CASE WHEN epoch_ms(ts) % 300000 < 0 THEN 1 ELSE 0 END) AS b
                 FROM events),
                 c AS (SELECT event_type, b, count(*) AS cnt FROM b GROUP BY 1, 2),
                 r AS (SELECT min(b) AS b0, max(b) AS b1 FROM b),
                 k AS (SELECT DISTINCT event_type FROM events),
                 spine AS (SELECT k.event_type, unnest(generate_series(r.b0, r.b1)) AS b
                           FROM k CROSS JOIN r)
            SELECT spine.event_type AS event_type,
                   CAST(spine.b * 300000 AS BIGINT) AS bucket_start_ms,
                   CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
            FROM spine LEFT JOIN c
              ON c.event_type = spine.event_type AND c.b = spine.b
            ORDER BY spine.event_type NULLS FIRST, bucket_start_ms NULLS FIRST""")
  )

  /** Resample + gap-fill with PARAMETERIZED aggregates: per-(event_type,
    * 15-min bucket) count, sum(value) and avg(value) over the full corpus
    * range. Gap buckets report count 0 and sum 0.0 but avg NULL — the
    * per-agg fill defaults (a zero average would invent data where none
    * exists; a chart wants the line to break). */
  private val qResampleAgg = Q(
    "q_resample_agg",
    (s, dir) =>
      // Two cross-engine float hazards, both hit at sf0.1 scale:
      // (1) float partial-aggregation ORDER differs → accumulate in
      // DECIMAL (exact, order-independent), cast the identical exact
      // value to double in both engines; (2) round(double, 4) SEMANTICS
      // differ — Spark rounds the shortest decimal string
      // (BigDecimal.valueOf), DuckDB the exact binary, so x.xxxx5
      // boundaries flip opposite ways → truncate with floor(x·1e4)/1e4,
      // pure IEEE arithmetic that is bit-identical on identical doubles
      graft.api.TimeSeries.resampleGapFill(Tables.events(s, dir),
          "ts_ms", "event_type", widthMs = 900000L,
          aggs = Seq(count(lit(1)).as("cnt"),
            (floor(sum(col("value").cast("decimal(30,10)")).cast("double") * 10000) / 10000.0).as("sum_value"),
            when(count(col("value")) > 0,
              floor(sum(col("value").cast("decimal(30,10)")).cast("double") / count(col("value")) * 10000) / 10000.0).as("avg_value")),
          fills = Seq(lit(0L), lit(0.0), lit(null).cast("double")))
        .orderBy(asc_nulls_first("event_type"), asc_nulls_first("bucket_start_ms")),
    Some("""WITH b AS (SELECT event_type, value,
                   (epoch_ms(ts) // 900000
                    - CASE WHEN epoch_ms(ts) % 900000 < 0 THEN 1 ELSE 0 END) AS b
                 FROM events),
                 c AS (SELECT event_type, b, count(*) AS cnt,
                       floor(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE) * 10000) / 10000 AS sum_value,
                       CASE WHEN count(value) > 0
                            THEN floor(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE) / count(value) * 10000) / 10000
                       END AS avg_value
                     FROM b GROUP BY 1, 2),
                 r AS (SELECT min(b) AS b0, max(b) AS b1 FROM b),
                 k AS (SELECT DISTINCT event_type FROM events),
                 spine AS (SELECT k.event_type, unnest(generate_series(r.b0, r.b1)) AS b
                           FROM k CROSS JOIN r)
            SELECT spine.event_type AS event_type,
                   CAST(spine.b * 900000 AS BIGINT) AS bucket_start_ms,
                   CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt,
                   coalesce(c.sum_value, 0.0) AS sum_value,
                   c.avg_value AS avg_value
            FROM spine LEFT JOIN c
              ON c.event_type = spine.event_type AND c.b = spine.b
            ORDER BY spine.event_type NULLS FIRST, bucket_start_ms NULLS FIRST""")
  )

  /** Session-distribution statistics: the sessionization QA view — how
    * many sessions, how many events per session, and the p50/p90 active
    * duration (max − min event time WITHIN the session; gap padding
    * excluded so the number is engine-neutral). Built on the same
    * session assignment q_session_window pins hash-exact; the global
    * rollup aggregates |sessions| rows, two-phase. Exact interpolated
    * percentiles ≡ DuckDB quantile_cont (the q_agg_percentile parity);
    * avg is an exact long sum / count, deterministic. */
  private val qSessionStats = Q(
    "q_session_stats",
    (s, dir) =>
      graft.api.TimeSeries.sessionize(Tables.events(s, dir), "ts_t", "user_id", "30 minutes",
          Seq(count(lit(1)).as("cnt"),
            (max(col("ts_ms")) - min(col("ts_ms"))).as("dur_ms")))
        .agg(count(lit(1)).as("n_sessions"),
          sum("cnt").as("n_events"),
          round(avg(col("cnt")), 4).as("avg_events"),
          round(expr("percentile(dur_ms, 0.5)"), 4).as("p50_dur_ms"),
          round(expr("percentile(dur_ms, 0.9)"), 4).as("p90_dur_ms")),
    Some("""WITH e AS (SELECT user_id, epoch_us(ts) AS tu FROM events),
                 l AS (SELECT user_id, tu,
                         lag(tu) OVER (PARTITION BY user_id ORDER BY tu) AS prev FROM e),
                 f AS (SELECT user_id, tu,
                         CASE WHEN prev IS NULL OR tu - prev >= 1800000000 THEN 1 ELSE 0 END AS brk FROM l),
                 s AS (SELECT user_id, tu,
                         sum(brk) OVER (PARTITION BY user_id ORDER BY tu
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM f),
                 sess AS (SELECT user_id, sid, count(*) AS cnt,
                            max(tu // 1000) - min(tu // 1000) AS dur_ms
                          FROM s GROUP BY user_id, sid)
            SELECT CAST(count(*) AS BIGINT) AS n_sessions,
                   CAST(sum(cnt) AS BIGINT) AS n_events,
                   round(avg(cnt), 4) AS avg_events,
                   round(quantile_cont(dur_ms, 0.5), 4) AS p50_dur_ms,
                   round(quantile_cont(dur_ms, 0.9), 4) AS p90_dur_ms
            FROM sess""")
  )

  /** Top session PATHS: the 20 most common within-session event-type
    * sequences (first 8 events, '>'-joined) — the path-analysis staple
    * (what do users actually DO in a session). Uses the PER-ROW session
    * assignment (graft.api.TimeSeries.sessionIds — the lag/cumulative-
    * break form of the same 30-minute-gap semantics q_session_stats
    * pins) so a `row_number <= 8` truncation runs BEFORE collect_list:
    * the per-session aggregation buffer is bounded at 8 rows even when
    * a hot key (a bot emitting sub-gap events forever) makes one
    * session span millions of events — a post-hoc slice would buffer
    * them all first. Within-session order is (tu, event_id, event_type)
    * at µs precision — total on BOTH engines, so the kept-8 set and the
    * path string are deterministic and identical. One user-key window
    * shuffle (the session/row_number windows and the per-session
    * collect all reuse HashPartitioning(user_id)) + one path-count
    * shuffle + TakeOrdered; count-desc and path tiebreaks explicit. */
  private val qSessionPaths = Q(
    "q_session_paths",
    (s, dir) =>
      graft.api.TimeSeries.sessionIds(
          Tables.events(s, dir).withColumn("ts_us", expr("ts div 1000")),
          "ts_us", "user_id", 1800000000L, Seq("event_id", "event_type"))
        .filter(col("sn") <= 8)
        .groupBy("user_id", "session_id")
        .agg(sort_array(collect_list(struct(col("ts_us"), col("event_id"), col("event_type")))).as("evs"))
        .select(concat_ws(">", col("evs.event_type")).as("path"))
        .groupBy("path").agg(count(lit(1)).as("cnt"))
        .orderBy(desc("cnt"), asc("path"))
        .limit(20),
    Some("""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tu FROM events),
                 l AS (SELECT user_id, event_id, event_type, tu,
                         lag(tu) OVER (PARTITION BY user_id ORDER BY tu, event_id, event_type) AS prev FROM e),
                 f AS (SELECT user_id, event_id, event_type, tu,
                         CASE WHEN prev IS NULL OR tu - prev >= 1800000000 THEN 1 ELSE 0 END AS brk FROM l),
                 s AS (SELECT user_id, event_id, event_type, tu,
                         sum(brk) OVER (PARTITION BY user_id ORDER BY tu, event_id, event_type
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM f),
                 t AS (SELECT user_id, sid, event_type, tu, event_id,
                         row_number() OVER (PARTITION BY user_id, sid
                           ORDER BY tu, event_id, event_type) AS rn FROM s),
                 p AS (SELECT array_to_string(
                         list(event_type ORDER BY tu, event_id, event_type), '>') AS path
                       FROM t WHERE rn <= 8 GROUP BY user_id, sid)
            SELECT path, CAST(count(*) AS BIGINT) AS cnt
            FROM p GROUP BY path ORDER BY cnt DESC, path LIMIT 20""")
  )

  /** Trailing EWMA smoothing (graft.api.TimeSeries.ewma): each view
    * event's value exponentially smoothed over the user's trailing
    * 20-row window, α = 0.5 — the charting/denoising primitive next to
    * q_anomaly's z-score. One user-key window shuffle, bounded 20-row
    * collect + fold per row. Dyadic α makes every weight exact binary,
    * each term one identical IEEE multiply on both engines, and terms
    * cross the sum as DECIMAL(30,10) (the q_resample_agg pattern) — the
    * oracle replays the identical formula via a banded self-join on row
    * numbers (oracle-side only; the Spark plan is window-only). */
  private val qEwma = Q(
    "q_ewma",
    (s, dir) =>
      graft.api.TimeSeries.ewma(
          Tables.events(s, dir).filter(col("event_type") === "view" && col("value").isNotNull),
          "user_id", "ts_ms", "event_id", "value", windowRows = 20, alpha = 0.5)
        .select(col("user_id"), col("event_id"), col("win_m"),
          (floor(col("ewma") * 10000) / 10000.0).as("ewma"))
        .orderBy("user_id", "event_id"),
    Some("""WITH e AS (SELECT user_id, event_id, value, epoch_ms(ts) AS tm
                       FROM events WHERE event_type = 'view' AND value IS NOT NULL),
                 s AS (SELECT user_id, event_id, value,
                         row_number() OVER (PARTITION BY user_id ORDER BY tm, event_id) AS rn
                       FROM e),
                 j AS (SELECT a.user_id, a.event_id,
                         CAST(least(a.rn, 20) AS BIGINT) AS win_m,
                         sum(CAST(b.value * pow(0.5, a.rn - b.rn) AS DECIMAL(30,10))) AS num,
                         (1 - pow(0.5, least(a.rn, 20))) / 0.5 AS den
                       FROM s a JOIN s b ON b.user_id = a.user_id
                                        AND b.rn BETWEEN a.rn - 19 AND a.rn
                       GROUP BY a.user_id, a.event_id, a.rn)
            SELECT user_id, event_id, win_m,
                   floor(CAST(num AS DOUBLE) / den * 10000) / 10000 AS ewma
            FROM j ORDER BY user_id, event_id""")
  )

  /** Rolling z-score anomaly detection
    * (graft.api.TimeSeries.rollingZscore): flag events whose value sits
    * more than 2σ from the mean of the same user's trailing 20-row
    * window — per-key streaming-shape outlier detection, one hash
    * exchange (the user window). Full windows only (warmup rows have a
    * noise baseline). The window moments come from DECIMAL(30,10) sums
    * (accumulation-order-proof); mean/var/z derive in double through one
    * fixed expression tree the oracle replays verbatim, so the 2σ cut
    * and the 4dp floor agree bit-for-bit across engines. */
  private val qAnomaly = Q(
    "q_anomaly",
    (s, dir) =>
      graft.api.TimeSeries.rollingZscore(Tables.events(s, dir),
          "user_id", "ts_ms", "event_id", "value", windowRows = 20)
        .filter(abs(col("z")) > 2)
        .select(col("user_id"), col("event_id"),
          (floor(col("z") * 10000) / 10000.0).as("z"))
        .orderBy("user_id", "event_id"),
    Some("""WITH w AS (SELECT user_id, event_id, value,
                         count(value) OVER win AS n,
                         CAST(sum(CAST(value AS DECIMAL(30,10))) OVER win AS DOUBLE) AS s1,
                         CAST(sum(CAST(value * value AS DECIMAL(30,10))) OVER win AS DOUBLE) AS s2
                       FROM events
                       WINDOW win AS (PARTITION BY user_id
                         ORDER BY epoch_ms(ts), event_id
                         ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)),
                 zc AS (SELECT user_id, event_id,
                          CASE WHEN (s2 - n * (s1 / n) * (s1 / n)) / (n - 1) > 0
                               THEN (value - s1 / n) / sqrt((s2 - n * (s1 / n) * (s1 / n)) / (n - 1))
                               ELSE 0.0 END AS z
                        FROM w WHERE n = 20)
            SELECT user_id, event_id, floor(z * 10000) / 10000 AS z
            FROM zc WHERE abs(z) > 2
            ORDER BY user_id, event_id""")
  )

  /** ACF of each event_type's hourly value-sum series at lags 1-3 —
    * the periodicity probe over the events stream. Integer-exact
    * end-to-end (the q_correlation discipline, see
    * [[graft.api.TimeSeries.autocorr]]): bucket sums in DECIMAL(30,10),
    * quantized to ints, five DECIMAL(38,0) moment sums, one fixed double
    * expression, floor-truncated at 4dp. The lag shift is an equi-join
    * on (event_type, bucket + lag) — no window, no cross product. */
  /** Per-user CUSUM changepoint scan over the event-value series: the
    * row where the cumulative deviation from the user mean peaks (the
    * most likely single level-shift point), with the normalized
    * statistic max|S_i|/n. Integer-exact argmax over 4dp-quantized
    * cumulative sums in the common-denominator form `n·cum_i − i·T` —
    * the one float division happens after the row is selected, so the
    * chosen changepoint is engine-exact ([[graft.api.TimeSeries.cusum]]).
    * All frames share one hash partitioning on user_id: one exchange,
    * no join, no global window. */
  private val qChangepoint = Q(
    "q_changepoint",
    (s, dir) =>
      graft.api.TimeSeries.cusum(Tables.events(s, dir),
          keyCol = "user_id", tsMsCol = "ts_ms", idCol = "event_id",
          valueCol = "value")
        .orderBy(asc_nulls_first("user_id")),
    Some("""WITH o AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, value,
                   CAST(row_number() OVER (PARTITION BY user_id
                     ORDER BY epoch_ms(ts), event_id) AS BIGINT) AS i,
                   sum(CAST(value AS DECIMAL(30,10))) OVER (PARTITION BY user_id
                     ORDER BY epoch_ms(ts), event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
                   count(*) OVER (PARTITION BY user_id) AS n,
                   sum(CAST(value AS DECIMAL(30,10))) OVER (PARTITION BY user_id) AS tot
                 FROM events
                 WHERE value IS NOT NULL AND user_id IS NOT NULL),
                 q AS (SELECT user_id, ts_ms, i, n,
                         abs(n * CAST(floor(CAST(cum AS DOUBLE) * 10000) AS BIGINT)
                             - i * CAST(floor(CAST(tot AS DOUBLE) * 10000) AS BIGINT)) AS a
                       FROM o),
                 r AS (SELECT user_id, ts_ms, i, n, a,
                         row_number() OVER (PARTITION BY user_id
                           ORDER BY a DESC, i) AS rn
                       FROM q)
            SELECT CAST(user_id AS BIGINT) AS user_id, CAST(n AS BIGINT) AS n,
                   i AS cp_idx, CAST(ts_ms AS BIGINT) AS cp_ts_ms,
                   floor(CAST(a AS DOUBLE) / (n * 10000.0) * 10000) / 10000
                     AS cusum_stat
            FROM r WHERE rn = 1 ORDER BY user_id NULLS FIRST""")
  )

  private val qAutocorr = Q(
    "q_autocorr",
    (s, dir) =>
      graft.api.TimeSeries.autocorr(Tables.events(s, dir),
          keyCol = "event_type", tsMsCol = "ts_ms", valueCol = "value",
          widthMs = 3600000L, maxLag = 3)
        .select(col("g"), col("lag"), col("n_pairs"), col("acf"))
        .orderBy(asc_nulls_first("g"), asc_nulls_first("lag")),
    Some(s"""WITH ${OracleSql.hourlySeries("event_type IS NOT NULL")},
            lags AS (SELECT unnest(generate_series(1, 3)) AS lag),
            pairs AS (SELECT s1.g, l.lag, s1.x AS x, s2.x AS y
                      FROM series s1
                      CROSS JOIN lags l
                      JOIN series s2
                        ON s1.g = s2.g AND s1.bucket + l.lag = s2.bucket),
            m AS (SELECT g, lag, count(*) AS n,
                         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
                         sum(x * x) AS sxx, sum(y * y) AS syy
                  FROM pairs GROUP BY 1, 2)
            SELECT g, CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
                   CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                        THEN floor(CAST(n * sxy - sx * sy AS DOUBLE)
                             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                                    * CAST(n * syy - sy * sy AS DOUBLE)) * 10000) / 10000
                        ELSE 0.0 END AS acf
            FROM m
            ORDER BY g NULLS FIRST, lag NULLS FIRST""")
  )

  /** Lead-lag cross-correlation of the hourly click-value series
    * against the purchase-value series, lags −3..3 — "do purchases
    * follow clicks, and by how many hours?" The integer-moment
    * Pearson pipeline of [[qAutocorr]] verbatim (quantized bucket
    * sums, DECIMAL(38,0) moments, one final double expression). */
  private val qXcorr = Q(
    "q_xcorr",
    (s, dir) =>
      graft.api.TimeSeries.crossCorr(Tables.events(s, dir),
          keyCol = "event_type", tsMsCol = "ts_ms", valueCol = "value",
          keyA = "click", keyB = "purchase", widthMs = 3600000L, maxLag = 3)
        .select(col("lag"), col("n_pairs"), col("xcf"))
        .orderBy("lag"),
    Some(s"""WITH ${OracleSql.hourlySeries("event_type IN ('click', 'purchase')")},
            lags AS (SELECT unnest(generate_series(-3, 3)) AS lag),
            pairs AS (SELECT l.lag, s1.x AS x, s2.x AS y
                      FROM series s1
                      CROSS JOIN lags l
                      JOIN series s2
                        ON s2.g = 'purchase' AND s1.bucket + l.lag = s2.bucket
                      WHERE s1.g = 'click'),
            m AS (SELECT lag, count(*) AS n,
                         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
                         sum(x * x) AS sxx, sum(y * y) AS syy
                  FROM pairs GROUP BY 1)
            SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_pairs,
                   CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                        THEN floor(CAST(n * sxy - sx * sy AS DOUBLE)
                             / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                                    * CAST(n * syy - sy * sy AS DOUBLE)) * 10000) / 10000
                        ELSE 0.0 END AS xcf
            FROM m
            ORDER BY lag""")
  )

  /** Last-touch attribution: each purchase attributed to the same
    * user's most recent prior click within a 7-day lookback (the
    * marketing-analytics staple; NULL when no qualifying click). One
    * user-key window carrying the last seen click via
    * `last(..., ignoreNulls)` — no self-join, no interval scan; the
    * lookback is a post-window CASE on the carried timestamp. Window
    * order (ts_ms, event_id) is total, so a click and purchase sharing
    * a timestamp attribute deterministically (click seen iff its
    * event_id sorts first). */
  private val qAttribution = Q(
    "q_attribution",
    (s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(asc("ts_ms"), asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val lookbackMs = 7L * 24 * 3600 * 1000
      Tables.events(s, dir)
        .withColumn("click_ts",
          last(when(col("event_type") === "click", col("ts_ms")), ignoreNulls = true).over(w))
        .withColumn("click_id",
          last(when(col("event_type") === "click", col("event_id")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_ms").as("purchase_ts_ms"),
          when(col("click_ts") >= col("ts_ms") - lookbackMs, col("click_id"))
            .as("attributed_click_id"),
          when(col("click_ts") >= col("ts_ms") - lookbackMs,
            col("ts_ms") - col("click_ts")).as("lag_ms"))
        .orderBy(asc_nulls_first("event_id"))
    },
    Some("""WITH e AS (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, event_type
                       FROM events),
                 c AS (SELECT *,
                              last_value(CASE WHEN event_type = 'click' THEN ts_ms END IGNORE NULLS)
                                OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_ts,
                              last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
                                OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_id
                       FROM e)
            SELECT CAST(event_id AS BIGINT) AS event_id,
                   CAST(user_id AS BIGINT) AS user_id,
                   CAST(ts_ms AS BIGINT) AS purchase_ts_ms,
                   CAST(CASE WHEN click_ts >= ts_ms - 604800000 THEN click_id END AS BIGINT)
                     AS attributed_click_id,
                   CAST(CASE WHEN click_ts >= ts_ms - 604800000 THEN ts_ms - click_ts END AS BIGINT)
                     AS lag_ms
            FROM c WHERE event_type = 'purchase'
            ORDER BY event_id NULLS FIRST""")
  )

  /** Trailing rolling median (21-row window, FULL windows only) of each
    * event_type's value series — the robust denoiser next to the
    * mean-based q_anomaly/q_ewma. The 21-row frame is deliberately ODD:
    * the exact median is a single stored element, so no interpolation
    * arithmetic exists to differ cross-engine — output doubles are
    * fixture values verbatim. Per-key window, O(n·w) frame
    * re-aggregation (w = 21, constant); for 100 TB quantiles use the
    * mergeable DDSketch rollup instead (q_quantile_rollup). */
  private val qRollingMedian = Q(
    "q_rolling_median",
    (s, dir) => {
      val ord = Window.partitionBy("event_type")
        .orderBy(asc("ts_ms"), asc("event_id"))
      val frame = ord.rowsBetween(-20, Window.currentRow)
      Tables.events(s, dir)
        .withColumn("med", expr("percentile(value, 0.5)")
          .over(frame))
        .withColumn("rn", row_number().over(ord))
        .filter(col("rn") > 20)
        .select(col("event_type"), col("event_id"), col("ts_ms"),
          col("value"), col("med"))
        .orderBy(asc_nulls_first("event_type"), asc_nulls_first("ts_ms"),
          asc_nulls_first("event_id"))
    },
    Some("""WITH e AS (SELECT event_type, event_id, epoch_ms(ts) AS ts_ms, value
                       FROM events),
                 r AS (SELECT *,
                              quantile_cont(value, 0.5)
                                OVER (PARTITION BY event_type ORDER BY ts_ms, event_id
                                      ROWS BETWEEN 20 PRECEDING AND CURRENT ROW) AS med,
                              row_number()
                                OVER (PARTITION BY event_type ORDER BY ts_ms, event_id) AS rn
                       FROM e)
            SELECT event_type, CAST(event_id AS BIGINT) AS event_id,
                   CAST(ts_ms AS BIGINT) AS ts_ms, value, med
            FROM r WHERE rn > 20
            ORDER BY event_type NULLS FIRST, ts_ms NULLS FIRST,
                     event_id NULLS FIRST""")
  )

  /** Event-type transition matrix: for every consecutive (prev → curr)
    * pair inside a user's event sequence, the transition count and its
    * row-normalized probability — the first-order Markov readout behind
    * session-path mining ("what follows a click?"). The sequence window
    * is the per-user lag (key-partitioned, total order); the
    * normalization window partitions by the 5-value `prev` — a
    * type-cardinality frame, corpus-size-independent. The probability
    * is the only double: one long/long division both engines replay,
    * floor-truncated 4dp. */
  private val qTransitions = Q(
    "q_transitions",
    (s, dir) => {
      val seq = Window.partitionBy("user_id")
        .orderBy(asc("ts_ms"), asc("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts_ms"), col("event_id"))
        .withColumn("prev", lag("event_type", 1).over(seq))
        .filter(col("prev").isNotNull)
        .groupBy(col("prev"), col("event_type").as("curr"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("p",
          floor(col("cnt").cast("double")
            / sum("cnt").over(Window.partitionBy("prev")).cast("double")
            * 10000) / 10000)
        .orderBy(asc_nulls_first("prev"), asc_nulls_first("curr"))
    },
    Some("""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, event_type
                       FROM events),
                 s AS (SELECT event_type,
                              lag(event_type) OVER (PARTITION BY user_id
                                                    ORDER BY ts_ms, event_id) AS prev
                       FROM e),
                 c AS (SELECT prev, event_type AS curr, count(*) AS cnt
                       FROM s WHERE prev IS NOT NULL GROUP BY 1, 2)
            SELECT prev, curr, CAST(cnt AS BIGINT) AS cnt,
                   floor(CAST(cnt AS DOUBLE)
                         / CAST(sum(cnt) OVER (PARTITION BY prev) AS DOUBLE)
                         * 10000) / 10000 AS p
            FROM c ORDER BY prev NULLS FIRST, curr NULLS FIRST""")
  )

  /** Per-event-type OLS trend of the hourly value-sum series ("is
    * traffic growing, and how fast?"): slope, intercept, r² from the
    * closed-form moment solution — see [[graft.api.TimeSeries.linearFit]]
    * for the exactness pipeline (quantized series, DECIMAL(38,0)
    * moments, per-key re-based regressor, one fixed double expression
    * per statistic). Slope/intercept are reported in the quantized
    * series units (value·1e4 per hour bucket), mirrored in the oracle. */
  private val qLinearFit = Q(
    "q_linear_fit",
    (s, dir) =>
      graft.api.TimeSeries.linearFit(Tables.events(s, dir),
          keyCol = "event_type", tsMsCol = "ts_ms", valueCol = "value",
          widthMs = 3600000L)
        .select(col("g"), col("n_buckets"), col("slope"), col("intercept"),
          col("r2"))
        .orderBy(asc_nulls_first("g")),
    Some(s"""WITH ${OracleSql.hourlySeries("event_type IS NOT NULL")},
            rb AS (SELECT g, bucket - min(bucket) OVER (PARTITION BY g) AS t, x
                   FROM series),
            m AS (SELECT g, count(*) AS n, sum(t) AS st, sum(x) AS sx,
                         sum(t * x) AS stx, sum(t * t) AS stt, sum(x * x) AS sxx
                  FROM rb GROUP BY g)
            SELECT g, CAST(n AS BIGINT) AS n_buckets,
                   CASE WHEN (n * stt - st * st) > 0
                        THEN floor(CAST(n * stx - st * sx AS DOUBLE)
                                   / CAST(n * stt - st * st AS DOUBLE) * 10000) / 10000
                        ELSE 0.0 END AS slope,
                   CASE WHEN (n * stt - st * st) > 0
                        THEN floor(CAST(sx * stt - st * stx AS DOUBLE)
                                   / CAST(n * stt - st * st AS DOUBLE) * 10000) / 10000
                        ELSE floor(CAST(sx AS DOUBLE) / n * 10000) / 10000 END AS intercept,
                   CASE WHEN (n * stt - st * st) > 0 AND (n * sxx - sx * sx) > 0
                        THEN floor(CAST(n * stx - st * sx AS DOUBLE)
                                   * CAST(n * stx - st * sx AS DOUBLE)
                                   / (CAST(n * stt - st * st AS DOUBLE)
                                      * CAST(n * sxx - sx * sx AS DOUBLE)) * 10000) / 10000
                        ELSE 0.0 END AS r2
            FROM m ORDER BY g NULLS FIRST""")
  )

  /** Per-event-type seasonal-naive forecast error at the daily season
    * (predict each hour's value sum as the same hour yesterday), scored
    * as MAE + RMSE — the baseline every forecaster must beat and a
    * direct seasonality-strength readout. Errors are exact quantized
    * ints until the two final fixed expressions; the seasonal shift is
    * the (key, bucket+24) equi-join, the q_autocorr shape
    * ([[graft.api.TimeSeries.seasonalNaiveError]]). */
  private val qSeasonalNaive = Q(
    "q_seasonal_naive",
    (s, dir) =>
      graft.api.TimeSeries.seasonalNaiveError(Tables.events(s, dir),
          keyCol = "event_type", tsMsCol = "ts_ms", valueCol = "value",
          widthMs = 3600000L, season = 24)
        .select(col("g"), col("n_eval"), col("mae"), col("rmse"))
        .orderBy(asc_nulls_first("g")),
    Some(s"""WITH ${OracleSql.hourlySeries("event_type IS NOT NULL")},
            scored AS (SELECT s1.g, s1.x, s2.x AS yhat
                       FROM series s1
                       JOIN series s2 ON s1.g = s2.g AND s1.bucket = s2.bucket + 24),
            m AS (SELECT g, count(*) AS n, sum(abs(x - yhat)) AS sad,
                         sum((x - yhat) * (x - yhat)) AS ssd
                  FROM scored GROUP BY g)
            SELECT g, CAST(n AS BIGINT) AS n_eval,
                   floor(CAST(sad AS DOUBLE) / n) / 10000 AS mae,
                   floor(sqrt(CAST(ssd AS DOUBLE) / n)) / 10000 AS rmse
            FROM m ORDER BY g NULLS FIRST""")
  )

  /** Hour-of-day activity profile per event_type — the diurnal seasonal
    * shape behind q_seasonal_naive's error numbers: event count, value
    * sum, and mean value for each of the 24 clock hours. One map-side-
    * combined hash aggregate to a 24×|types| frame; sums cross as
    * DECIMAL(30,10) then quantize once, the mean divides the quantized
    * integer by the exact count (both cast double, one fixed
    * expression). */
  private val qHourlyProfile = Q(
    "q_hourly_profile",
    (s, dir) =>
      Tables.events(s, dir)
        .filter(col("value").isNotNull && col("event_type").isNotNull)
        .groupBy(col("event_type").as("g"),
          expr("(ts_ms div 3600000) % 24").cast("bigint").as("hour"))
        .agg(count(lit(1)).as("n_events"),
          floor(sum(col("value").cast("decimal(30,10)")).cast("double")
            * 10000).as("sq"))
        .select(col("g"), col("hour"), col("n_events"),
          (col("sq") / 10000).as("sum_value"),
          (floor(col("sq").cast("double") / col("n_events").cast("double"))
            / 10000).as("mean_value"))
        .orderBy(asc_nulls_first("g"), asc_nulls_first("hour")),
    Some("""WITH c AS (SELECT event_type AS g,
                              (epoch_ms(ts) // 3600000) % 24 AS hour,
                              count(*) AS n_events,
                              floor(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE)
                                    * 10000) AS sq
                       FROM events
                       WHERE value IS NOT NULL AND event_type IS NOT NULL
                       GROUP BY 1, 2)
            SELECT g, CAST(hour AS BIGINT) AS hour,
                   CAST(n_events AS BIGINT) AS n_events,
                   sq / 10000 AS sum_value,
                   floor(CAST(sq AS DOUBLE) / CAST(n_events AS DOUBLE)) / 10000
                     AS mean_value
            FROM c
            ORDER BY g NULLS FIRST, hour NULLS FIRST""")
  )

  /** User churn across the fixture's two half-periods: users active in
    * the first half vs the second, split INTEGER-exactly at the data's
    * time-range midpoint (ts·2 < lo + hi — no division, no float
    * boundary). One per-user flag aggregate then a 1-row census:
    * active-in-A / active-in-B / churned / new / retained — the
    * lifecycle counterpart to q_retention's cohort grid. The (lo, hi)
    * range crosses as the documented 1-row broadcast (the q_resample
    * pattern). */
  private val qChurn = Q(
    "q_churn",
    (s, dir) => {
      val e = Tables.events(s, dir).filter(col("user_id").isNotNull)
      val bounds = e.agg(min("ts_ms").as("lo"), max("ts_ms").as("hi"))
      e.crossJoin(broadcast(bounds))
        .select(col("user_id"),
          (col("ts_ms") * 2 < col("lo") + col("hi")).as("in_a"))
        .groupBy("user_id")
        .agg(max(when(col("in_a"), 1L).otherwise(0L)).as("a"),
          max(when(!col("in_a"), 1L).otherwise(0L)).as("b"))
        .agg(sum("a").as("n_active_a"), sum("b").as("n_active_b"),
          sum(when(col("a") === 1 && col("b") === 0, 1L).otherwise(0L)).as("n_churned"),
          sum(when(col("a") === 0 && col("b") === 1, 1L).otherwise(0L)).as("n_new"),
          sum(when(col("a") === 1 && col("b") === 1, 1L).otherwise(0L)).as("n_retained"))
    },
    Some("""WITH e AS (SELECT user_id, epoch_ms(ts) AS ts_ms FROM events
                       WHERE user_id IS NOT NULL),
                 bo AS (SELECT min(ts_ms) AS lo, max(ts_ms) AS hi FROM e),
                 f AS (SELECT user_id,
                              max(CASE WHEN ts_ms * 2 < bo.lo + bo.hi THEN 1 ELSE 0 END) AS a,
                              max(CASE WHEN ts_ms * 2 >= bo.lo + bo.hi THEN 1 ELSE 0 END) AS b
                       FROM e, bo GROUP BY user_id)
            SELECT CAST(sum(a) AS BIGINT) AS n_active_a,
                   CAST(sum(b) AS BIGINT) AS n_active_b,
                   CAST(sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_churned,
                   CAST(sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_new,
                   CAST(sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_retained
            FROM f""")
  )

  /** Conversion-lag report over the q_attribution assignment: how many
    * purchases attribute within the 7-day lookback, the attribution
    * rate, and the p50/p90 click-to-purchase latency — the funnel-speed
    * readout marketing actually reads. Same single user-key window as
    * q_attribution, then one 1-row aggregate; percentiles are exact
    * interpolated (`percentile` ≡ `quantile_cont`, the q_session_stats
    * precedent), the rate is one long/long division floored 4dp. */
  private val qConversionLag = Q(
    "q_conversion_lag",
    (s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(asc("ts_ms"), asc("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val lookbackMs = 7L * 24 * 3600 * 1000
      Tables.events(s, dir)
        .withColumn("click_ts",
          last(when(col("event_type") === "click", col("ts_ms")), ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select(when(col("click_ts") >= col("ts_ms") - lookbackMs,
          col("ts_ms") - col("click_ts")).as("lag_ms"))
        .agg(count(lit(1)).as("n_purchases"),
          count(col("lag_ms")).as("n_attributed"),
          (floor(count(col("lag_ms")).cast("double")
            / count(lit(1)).cast("double") * 10000) / 10000).as("attr_rate"),
          round(expr("percentile(lag_ms, 0.5)"), 4).as("p50_lag_ms"),
          round(expr("percentile(lag_ms, 0.9)"), 4).as("p90_lag_ms"))
    },
    Some("""WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, event_type
                       FROM events),
                 c AS (SELECT *,
                              last_value(CASE WHEN event_type = 'click' THEN ts_ms END IGNORE NULLS)
                                OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS click_ts
                       FROM e),
                 p AS (SELECT CASE WHEN click_ts >= ts_ms - 604800000
                                   THEN ts_ms - click_ts END AS lag_ms
                       FROM c WHERE event_type = 'purchase')
            SELECT CAST(count(*) AS BIGINT) AS n_purchases,
                   CAST(count(lag_ms) AS BIGINT) AS n_attributed,
                   floor(CAST(count(lag_ms) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                         * 10000) / 10000 AS attr_rate,
                   round(quantile_cont(lag_ms, 0.5), 4) AS p50_lag_ms,
                   round(quantile_cont(lag_ms, 0.9), 4) AS p90_lag_ms
            FROM p""")
  )

  /** Market-basket association rules ([[graft.api.Associations.rules]])
    * over per-user event-type baskets: one rule row per ordered type
    * pair with support / confidence / lift — "users who do A also do
    * B". The corpus collapses to its distinct (user, type) frame first;
    * pair fan-out is bounded by the per-user distinct-type count (the
    * type vocabulary), margins are type-cardinality frames, and every
    * measure is one exact-long division floor-4dp. */
  private val qAssocRules = Q(
    "q_assoc_rules",
    (s, dir) =>
      graft.api.Associations.rules(Tables.events(s, dir), "user_id",
          "event_type", minBaskets = 1L)
        .orderBy(asc_nulls_first("item_a"), asc_nulls_first("item_b")),
    Some("""WITH items AS (SELECT DISTINCT user_id AS b, event_type AS item
                           FROM events
                           WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
                 ic AS (SELECT item, count(*) AS n_item FROM items GROUP BY 1),
                 nb AS (SELECT count(DISTINCT b) AS n_baskets FROM items),
                 p AS (SELECT x.item AS item_a, y.item AS item_b,
                              count(*) AS n_ab
                       FROM items x JOIN items y
                         ON x.b = y.b AND x.item <> y.item
                       GROUP BY 1, 2)
            SELECT item_a, item_b, CAST(n_ab AS BIGINT) AS n_ab,
                   CAST(a.n_item AS BIGINT) AS n_a,
                   CAST(c.n_item AS BIGINT) AS n_b,
                   CAST(n_baskets AS BIGINT) AS n_baskets,
                   floor(CAST(n_ab AS DOUBLE) / n_baskets * 10000) / 10000 AS support,
                   floor(CAST(n_ab AS DOUBLE) / a.n_item * 10000) / 10000 AS confidence,
                   floor(CAST(n_ab * n_baskets AS DOUBLE)
                         / (a.n_item * c.n_item) * 10000) / 10000 AS lift
            FROM p JOIN ic a ON a.item = p.item_a
                   JOIN ic c ON c.item = p.item_b
                   CROSS JOIN nb
            ORDER BY item_a NULLS FIRST, item_b NULLS FIRST""")
  )

  /** Two-proportion z-test ([[graft.api.Experiment.twoProportionZ]]):
    * per-user purchase conversion under the deterministic user_id-parity
    * split — the A/B readout (arm sizes, conversions, rates, lift, z)
    * as one corpus pass + one 4-long row; every statistic is a fixed
    * IEEE expression over exactly-agreed integers, floor-4dp. */
  private val qAbTest = Q(
    "q_ab_test",
    (s, dir) =>
      graft.api.Experiment.twoProportionZ(Tables.events(s, dir), "user_id",
        armExpr = col("user_id") % 2,
        successExpr = col("event_type") === "purchase"),
    Some("""WITH un AS (SELECT user_id,
                          max(CASE WHEN user_id % 2 = 0 THEN 0 ELSE 1 END) AS arm,
                          max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
                        FROM events WHERE user_id IS NOT NULL GROUP BY 1),
                 m AS (SELECT sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_a,
                              sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS x_a,
                              sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_b,
                              sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS x_b
                       FROM un)
            SELECT CAST(n_a AS BIGINT) AS n_a, CAST(x_a AS BIGINT) AS x_a,
                   CAST(n_b AS BIGINT) AS n_b, CAST(x_b AS BIGINT) AS x_b,
                   floor(CAST(x_a AS DOUBLE) / n_a * 10000) / 10000 AS p_a,
                   floor(CAST(x_b AS DOUBLE) / n_b * 10000) / 10000 AS p_b,
                   floor((CAST(x_b AS DOUBLE) / n_b
                          - CAST(x_a AS DOUBLE) / n_a) * 10000) / 10000 AS lift,
                   CASE WHEN n_a > 0 AND n_b > 0 AND
                             sqrt(CAST(x_a + x_b AS DOUBLE) / (n_a + n_b)
                                  * (1.0 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                                  * (1.0 / n_a + 1.0 / n_b)) > 0
                        THEN floor((CAST(x_b AS DOUBLE) / n_b
                                    - CAST(x_a AS DOUBLE) / n_a)
                                   / sqrt(CAST(x_a + x_b AS DOUBLE) / (n_a + n_b)
                                          * (1.0 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                                          * (1.0 / n_a + 1.0 / n_b))
                                   * 10000) / 10000
                        ELSE 0.0 END AS z
            FROM m""")
  )

  /** Kaplan–Meier time-to-conversion survival
    * ([[graft.api.TimeSeries.kaplanMeier]]): per user, duration from
    * first click to first subsequent purchase (event) or to the last
    * seen event (censored); the product-limit curve over distinct
    * durations — the right "how long until purchase" read when most
    * users never convert. The cumulative product runs as the
    * q_drift_ks bucketed prefix scan on the log scale; terms are
    * DECIMAL(30,10)-quantized lns of exact integer ratios, S is one
    * exp per output row floor-4dp. */
  private val qSurvival = Q(
    "q_survival",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val u0 = ev.filter(col("user_id").isNotNull)
        .groupBy("user_id")
        .agg(min(when(col("event_type") === "click", col("ts_ms"))).as("t0"),
          max(col("ts_ms")).as("tmax"))
        .filter(col("t0").isNotNull)
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts_ms"))
        .join(u0.select("user_id", "t0"), "user_id")
        .filter(col("ts_ms") >= col("t0"))
        .groupBy("user_id").agg(min("ts_ms").as("tp"))
      val subjects = u0.join(p, Seq("user_id"), "left")
        .select((coalesce(col("tp"), col("tmax")) - col("t0")).as("duration"),
          col("tp").isNotNull.cast("int").as("event"))
      graft.api.TimeSeries.kaplanMeier(subjects, "duration", "event")
        .orderBy("t")
    },
    Some("""WITH u0 AS (SELECT user_id,
                          min(CASE WHEN event_type = 'click' THEN epoch_ms(ts) END) AS t0,
                          max(epoch_ms(ts)) AS tmax
                        FROM events WHERE user_id IS NOT NULL GROUP BY 1),
                 u1 AS (SELECT * FROM u0 WHERE t0 IS NOT NULL),
                 p AS (SELECT e.user_id, min(epoch_ms(e.ts)) AS tp
                       FROM events e JOIN u1 ON e.user_id = u1.user_id
                       WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) >= u1.t0
                       GROUP BY 1),
                 subj AS (SELECT coalesce(p.tp, u1.tmax) - u1.t0 AS duration,
                            CAST(p.tp IS NOT NULL AS INT) AS event
                          FROM u1 LEFT JOIN p ON p.user_id = u1.user_id),
                 f AS (SELECT duration AS t, sum(event) AS d,
                              sum(1 - event) AS c
                       FROM subj GROUP BY 1),
                 tot AS (SELECT sum(d + c) AS n FROM f),
                 o AS (SELECT t, d, c,
                         sum(d + c) OVER (ORDER BY t
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           - (d + c) AS before_t
                       FROM f),
                 r AS (SELECT t, d, c, n - before_t AS nr FROM o CROSS JOIN tot),
                 sc AS (SELECT t, nr, d, c,
                          sum(CASE WHEN nr > d
                                THEN CAST(round(ln(CAST(nr - d AS DOUBLE) / nr)
                                                * 10000000000.0) AS BIGINT)
                                ELSE 0 END)
                            OVER (ORDER BY t
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                        FROM r)
            SELECT CAST(t AS BIGINT) AS t, CAST(nr AS BIGINT) AS n_risk,
                   CAST(d AS BIGINT) AS d, CAST(c AS BIGINT) AS c,
                   CASE WHEN d < nr
                        THEN floor(exp(CAST(cum AS DOUBLE) / 10000000000.0)
                                   * 10000) / 10000
                        ELSE 0.0 END AS s
            FROM sc ORDER BY t""")
  )

  /** Poisson-bootstrap CI for the mean event value
    * ([[graft.api.Experiment.bootstrapMeanCi]], B = 20): the error bars
    * a reported metric should carry, with DETERMINISTIC md5-derived
    * Poisson(1) weights so the resample is replayable and the oracle
    * replays the identical draw. One explode fan-out (B× scan — the
    * published estimator price) + one map-side-combined replicate
    * aggregate + a percentile over the B-row mean frame. */
  private val qBootstrapCi = Q(
    "q_bootstrap_ci",
    (s, dir) =>
      graft.api.Experiment.bootstrapMeanCi(Tables.events(s, dir),
        "event_id", "value", b = 20, seed = "graft-boot"),
    Some(s"""WITH r AS (SELECT event_id, value, unnest(generate_series(1, 20)) AS b
                       FROM events
                       WHERE value IS NOT NULL AND event_id IS NOT NULL),
                 h AS (SELECT value, b,
                         md5(concat(CAST(event_id AS VARCHAR), ':',
                                    CAST(b AS VARCHAR), ':', 'graft-boot')) AS hh
                       FROM r),
                 v AS (SELECT value, b,
                         ${OracleSql.md5Nibbles8}
                         AS vv
                       FROM h),
                 u AS (SELECT value, b,
                         (CAST(vv AS DOUBLE) + 0.5) / 4294967296.0 AS uu
                       FROM v),
                 w AS (SELECT value, b,
                         CASE WHEN uu < 0.36787944117144233 THEN 0
                              WHEN uu < 0.7357588823428847 THEN 1
                              WHEN uu < 0.9196986029286058 THEN 2
                              WHEN uu < 0.9810118431238462 THEN 3
                              WHEN uu < 0.9963401531726563 THEN 4
                              WHEN uu < 0.9994058151824183 THEN 5
                              ELSE 6 END AS w
                       FROM u),
                 m AS (SELECT b,
                         CAST(sum(CAST(w * value AS DECIMAL(30,10))) AS DOUBLE)
                           / sum(w) AS m
                       FROM w GROUP BY b HAVING sum(w) > 0),
                 q AS (SELECT count(*) AS b,
                         quantile_cont(m, [0.025, 0.5, 0.975]) AS p
                       FROM m)
            SELECT CAST(b AS BIGINT) AS b,
                   floor(p[1] * 10000) / 10000 AS ci_lo,
                   floor(p[2] * 10000) / 10000 AS ci_mid,
                   floor(p[3] * 10000) / 10000 AS ci_hi
            FROM q""")
  )

  /** Weekly cohort retention matrix
    * ([[graft.api.TimeSeries.cohortRetention]]): users grouped by
    * first-activity week, each cohort tracked across week offsets —
    * the retention triangle behind every growth dashboard (q_retention
    * is the single-bucket slice; this is the full matrix). Corpus →
    * distinct (user, week) frame → user-keyed cohort join →
    * (cohort × offset)-cardinality aggregate; one long division per
    * output row floor-4dp. */
  private val qCohortMatrix = Q(
    "q_cohort_matrix",
    (s, dir) =>
      graft.api.TimeSeries.cohortRetention(Tables.events(s, dir), "user_id",
          "ts_ms", widthMs = 604800000L)
        .orderBy("cohort_bucket", "week_offset"),
    Some("""WITH ub AS (SELECT DISTINCT user_id AS u,
                          (epoch_ms(ts) // 604800000
                           - CASE WHEN epoch_ms(ts) % 604800000 < 0 THEN 1 ELSE 0 END) AS b
                        FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL),
                 c AS (SELECT u, min(b) AS c0 FROM ub GROUP BY 1),
                 j AS (SELECT c0 AS cohort_bucket, b - c0 AS week_offset,
                              count(*) AS n_active
                       FROM ub JOIN c USING (u) GROUP BY 1, 2),
                 s AS (SELECT cohort_bucket, n_active AS n_cohort
                       FROM j WHERE week_offset = 0)
            SELECT CAST(cohort_bucket AS BIGINT) AS cohort_bucket,
                   CAST(week_offset AS BIGINT) AS week_offset,
                   CAST(n_active AS BIGINT) AS n_active,
                   CAST(n_cohort AS BIGINT) AS n_cohort,
                   floor(CAST(n_active AS DOUBLE) / n_cohort * 10000) / 10000
                     AS retention
            FROM j JOIN s USING (cohort_bucket)
            ORDER BY cohort_bucket, week_offset""")
  )

  /** RFM segmentation of the customer base from the orders stream:
    * per-customer Recency (epoch day of the last order), Frequency
    * (order count), Monetary (lifetime spend), each scored 1–5 by the
    * corpus's own quintile cuts (exact `percentile` ≡ `quantile_cont`,
    * the q_session_stats precedent; strict-> so ties score low, the
    * quantileBins convention), then the 5×5×5 segment census with mean
    * spend — the classic marketing segmentation table. Higher is better
    * on every axis (r_score 5 = most recent).
    *
    * Float discipline: R/F are exact integers and M is the double image
    * of a DECIMAL(30,10) spend sum, so the only cross-engine surface is
    * the interpolated cuts — a cut either lands exactly ON a data value
    * (both interpolations return the element bit-exactly; strict-> puts
    * it below) or sits a data-gap away from every value, so a last-ulp
    * interpolation difference cannot flip a score. Segment means divide
    * the exact scaled-long spend sum once, floor-4dp (r11: the DECIMAL
    * form drifted at sf1.0 — cross-engine double→DECIMAL cast rounding
    * differs; floor(x·1e4+0.5) longs are bit-identical both sides).
    *
    * Scale: one customer-keyed aggregate, one 1-row cut broadcast (swap
    * `approx_percentile` at 100 TB), one 125-ary hash aggregate. */
  private val qRfm = Q(
    "q_rfm",
    (s, dir) => {
      val per = Tables.orders(s, dir)
        .filter(col("o_custkey").isNotNull)
        .groupBy(col("o_custkey").as("custkey"))
        .agg(max(expr("unix_millis(CAST(o_orderdate AS TIMESTAMP)) div 86400000"))
            .as("r_day"),
          count(lit(1)).as("freq"),
          // scaled-long spend (r11 sf1.0 fix): DECIMAL casts of doubles
          // diverge cross-engine (shortest-string vs binary rounding);
          // floor(x·1e4+0.5) longs sum exactly in any order
          sum(floor(col("o_totalprice") * 1e4 + 0.5).cast("long")).as("money_s"))
        .withColumn("money", col("money_s").cast("double") / 1e4)
      val cuts = per.agg(
        expr("percentile(CAST(r_day AS DOUBLE), array(0.2, 0.4, 0.6, 0.8))").as("rc"),
        expr("percentile(CAST(freq AS DOUBLE), array(0.2, 0.4, 0.6, 0.8))").as("fc"),
        expr("percentile(money, array(0.2, 0.4, 0.6, 0.8))").as("mc"))
      def score(v: org.apache.spark.sql.Column,
          cut: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
        (0 to 3).map(i => when(v > cut.getItem(i), 1L).otherwise(0L))
          .reduce(_ + _) + lit(1L)
      per.crossJoin(broadcast(cuts))
        .select(col("money_s"),
          score(col("r_day").cast("double"), col("rc")).as("r_score"),
          score(col("freq").cast("double"), col("fc")).as("f_score"),
          score(col("money"), col("mc")).as("m_score"))
        .groupBy("r_score", "f_score", "m_score")
        .agg(count(lit(1)).as("n_customers"),
          (floor(sum(col("money_s")).cast("double") / count(lit(1)))
            / 10000).as("avg_money"))
        .orderBy("r_score", "f_score", "m_score")
    },
    Some("""WITH per AS (SELECT o_custkey AS custkey,
                           max(epoch_ms(o_orderdate) // 86400000) AS r_day,
                           count(*) AS freq,
                           sum(CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT)) AS money_s
                         FROM orders WHERE o_custkey IS NOT NULL GROUP BY 1),
                 perm AS (SELECT custkey, r_day, freq, money_s,
                            CAST(money_s AS DOUBLE) / 10000 AS money FROM per),
                 cuts AS (SELECT quantile_cont(CAST(r_day AS DOUBLE), [0.2, 0.4, 0.6, 0.8]) AS rc,
                                 quantile_cont(CAST(freq AS DOUBLE), [0.2, 0.4, 0.6, 0.8]) AS fc,
                                 quantile_cont(money, [0.2, 0.4, 0.6, 0.8]) AS mc
                          FROM perm),
                 sc AS (SELECT money_s,
                          1 + (CASE WHEN CAST(r_day AS DOUBLE) > rc[1] THEN 1 ELSE 0 END)
                            + (CASE WHEN CAST(r_day AS DOUBLE) > rc[2] THEN 1 ELSE 0 END)
                            + (CASE WHEN CAST(r_day AS DOUBLE) > rc[3] THEN 1 ELSE 0 END)
                            + (CASE WHEN CAST(r_day AS DOUBLE) > rc[4] THEN 1 ELSE 0 END) AS r_score,
                          1 + (CASE WHEN CAST(freq AS DOUBLE) > fc[1] THEN 1 ELSE 0 END)
                            + (CASE WHEN CAST(freq AS DOUBLE) > fc[2] THEN 1 ELSE 0 END)
                            + (CASE WHEN CAST(freq AS DOUBLE) > fc[3] THEN 1 ELSE 0 END)
                            + (CASE WHEN CAST(freq AS DOUBLE) > fc[4] THEN 1 ELSE 0 END) AS f_score,
                          1 + (CASE WHEN money > mc[1] THEN 1 ELSE 0 END)
                            + (CASE WHEN money > mc[2] THEN 1 ELSE 0 END)
                            + (CASE WHEN money > mc[3] THEN 1 ELSE 0 END)
                            + (CASE WHEN money > mc[4] THEN 1 ELSE 0 END) AS m_score
                        FROM perm, cuts)
            SELECT CAST(r_score AS BIGINT) AS r_score,
                   CAST(f_score AS BIGINT) AS f_score,
                   CAST(m_score AS BIGINT) AS m_score,
                   CAST(count(*) AS BIGINT) AS n_customers,
                   floor(CAST(sum(money_s) AS DOUBLE) / count(*)) / 10000
                     AS avg_money
            FROM sc GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""")
  )

  /** Wilson-lower-bound purchase-rate ranking
    * (graft.api.Experiment.wilsonRank): the top 100 users by the 95%
    * Wilson score interval's lower bound on purchases-per-view — "rank
    * by rate without being fooled by tiny denominators" (1/1 must not
    * outrank 95/100). Purchases clamp to ≤ views so p̂ stays a
    * probability on independent counters. One per-user aggregate + one
    * fixed IEEE expression over the exact (n, s) longs, floor-4dp
    * BEFORE ranking (ties break on user_id) — engine-exact. No window,
    * no join: key-cardinality frame + TakeOrdered. */
  private val qWilsonRank = Q(
    "q_wilson_rank",
    (s, dir) =>
      graft.api.Experiment.wilsonRank(Tables.events(s, dir), "user_id",
          when(col("event_type") === "view", 1L).otherwise(0L),
          when(col("event_type") === "purchase", 1L).otherwise(0L),
          z = 1.96, topK = 100)
        .select(col("key").as("user_id"), col("n").as("n_views"),
          col("s").as("n_purchases"), col("wilson_lb")),
    Some("""WITH a AS (SELECT user_id,
                         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS n,
                         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS s_raw
                       FROM events WHERE user_id IS NOT NULL GROUP BY 1),
                 b AS (SELECT user_id, n, least(s_raw, n) AS s FROM a WHERE n > 0),
                 w AS (SELECT user_id, n, s,
                         floor((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                                + (1.96 * 1.96) / (2.0 * CAST(n AS DOUBLE))
                                - 1.96 * sqrt((CAST(s AS DOUBLE) / CAST(n AS DOUBLE)
                                               * (1.0 - CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                                               + (1.96 * 1.96) / (4.0 * CAST(n AS DOUBLE)))
                                              / CAST(n AS DOUBLE)))
                               / (1.0 + (1.96 * 1.96) / CAST(n AS DOUBLE))
                               * 10000) / 10000 AS wilson_lb
                       FROM b)
            SELECT CAST(user_id AS BIGINT) AS user_id,
                   CAST(n AS BIGINT) AS n_views,
                   CAST(s AS BIGINT) AS n_purchases,
                   wilson_lb
            FROM w ORDER BY wilson_lb DESC, user_id LIMIT 100""")
  )

  /** Brown double exponential smoothing
    * (graft.api.TimeSeries.holtBrown): level / trend / one-step
    * forecast for each view event's value over the user's trailing
    * 20-row window, α = 0.5 — the constant-trend forecaster one notch
    * past q_ewma's smoother, still windowed so the plan is two
    * identical keyed window passes (no recurrence). The oracle replays
    * both banded scans with the q_ewma float discipline (dyadic
    * weights, DECIMAL(30,10) sums, dyadic normalizer) applied twice. */
  private val qHolt = Q(
    "q_holt",
    (s, dir) =>
      graft.api.TimeSeries.holtBrown(
          Tables.events(s, dir)
            .filter(col("event_type") === "view" && col("value").isNotNull),
          "user_id", "ts_ms", "event_id", "value", windowRows = 20, alpha = 0.5)
        .select(col("user_id"), col("event_id"),
          (floor(col("level") * 10000) / 10000.0).as("level"),
          (floor(col("trend") * 10000) / 10000.0).as("trend"),
          (floor(col("forecast") * 10000) / 10000.0).as("forecast"))
        .orderBy("user_id", "event_id"),
    Some("""WITH e AS (SELECT user_id, event_id, value, epoch_ms(ts) AS tm
                       FROM events WHERE event_type = 'view' AND value IS NOT NULL),
                 r AS (SELECT user_id, event_id, value,
                         row_number() OVER (PARTITION BY user_id ORDER BY tm, event_id) AS rn
                       FROM e),
                 s1 AS (SELECT a.user_id, a.event_id, a.rn,
                          CAST(sum(CAST(b.value * pow(0.5, a.rn - b.rn) AS DECIMAL(30,10))) AS DOUBLE)
                            / ((1 - pow(0.5, least(a.rn, 20))) / 0.5) AS sp
                        FROM r a JOIN r b ON b.user_id = a.user_id
                                         AND b.rn BETWEEN a.rn - 19 AND a.rn
                        GROUP BY a.user_id, a.event_id, a.rn),
                 s2 AS (SELECT a.user_id, a.event_id,
                          CAST(sum(CAST(b.sp * pow(0.5, a.rn - b.rn) AS DECIMAL(30,10))) AS DOUBLE)
                            / ((1 - pow(0.5, least(a.rn, 20))) / 0.5) AS sdp,
                          max(CASE WHEN b.rn = a.rn THEN b.sp END) AS sp
                        FROM s1 a JOIN s1 b ON b.user_id = a.user_id
                                           AND b.rn BETWEEN a.rn - 19 AND a.rn
                        GROUP BY a.user_id, a.event_id, a.rn)
            SELECT user_id, event_id,
                   floor((2.0 * sp - sdp) * 10000) / 10000 AS level,
                   floor((1.0 * (sp - sdp)) * 10000) / 10000 AS trend,
                   floor(((2.0 * sp - sdp) + (1.0 * (sp - sdp))) * 10000) / 10000 AS forecast
            FROM s2 ORDER BY user_id, event_id""")
  )

  /** SAX shape words (graft.api.TimeSeries.sax): each user's value
    * series PAA'd into 8 equal-count segments, z-normalized against the
    * user's own mean/σ, segment means mapped to a/b/c/d by the fixed
    * N(0,1) quartile breakpoints — the series-to-string transform
    * behind motif mining and cheap shape clustering. Users under 16
    * values drop; zero-variance series read 'c'. Exactness: the
    * q_anomaly moment discipline (DECIMAL sums, one fixed mean/σ/z
    * tree) so every breakpoint comparison agrees cross-engine; segment
    * ids are pure integer math. */
  private val qSax = Q(
    "q_sax",
    (s, dir) =>
      graft.api.TimeSeries.sax(Tables.events(s, dir),
          "user_id", "ts_ms", "event_id", "value", segments = 8, minRows = 16)
        .select(col("k").as("user_id"), col("n_rows"), col("sax"))
        .orderBy("user_id"),
    Some("""WITH e AS (SELECT user_id AS k, event_id, CAST(value AS DOUBLE) AS x,
                              epoch_ms(ts) AS tm
                       FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
                 r AS (SELECT k, x,
                         row_number() OVER (PARTITION BY k ORDER BY tm, event_id) AS rn,
                         count(*) OVER (PARTITION BY k) AS n,
                         sum(CAST(x AS DECIMAL(30,10))) OVER (PARTITION BY k) AS s1,
                         sum(CAST(x * x AS DECIMAL(30,10))) OVER (PARTITION BY k) AS s2
                       FROM e),
                 g AS (SELECT k, ((rn - 1) * 8) // n AS seg, count(*) AS sn,
                         sum(CAST(x AS DECIMAL(30,10))) AS ss,
                         max(n) AS n, max(s1) AS s1, max(s2) AS s2
                       FROM r WHERE n >= 16 GROUP BY 1, 2),
                 z AS (SELECT k, seg, n,
                         CASE WHEN (CAST(s2 AS DOUBLE)
                                    - CAST(n AS DOUBLE) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                                      * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                                   / (CAST(n AS DOUBLE) - 1.0) > 0
                              THEN sqrt((CAST(s2 AS DOUBLE)
                                         - CAST(n AS DOUBLE) * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
                                           * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))
                                        / (CAST(n AS DOUBLE) - 1.0))
                              ELSE 0.0 END AS sd,
                         CAST(ss AS DOUBLE) / CAST(sn AS DOUBLE) AS segmean,
                         CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean
                       FROM g),
                 sy AS (SELECT k, n, seg,
                          CASE WHEN sd <= 0 THEN 'c'
                               WHEN (segmean - mean) / sd < -0.6745 THEN 'a'
                               WHEN (segmean - mean) / sd < 0.0 THEN 'b'
                               WHEN (segmean - mean) / sd < 0.6745 THEN 'c'
                               ELSE 'd' END AS sym
                        FROM z)
            SELECT CAST(k AS BIGINT) AS user_id,
                   CAST(max(n) AS BIGINT) AS n_rows,
                   string_agg(sym, '' ORDER BY seg) AS sax
            FROM sy GROUP BY k ORDER BY user_id""")
  )

  /** Classical seasonal decomposition
    * (graft.api.TimeSeries.seasonalDecompose): each event_type's hourly
    * value-sum series detrended by a centered ±12 h moving average
    * (full RANGE windows only — gaps disqualify honestly), then the
    * seasonal index per clock hour — "is 14:00 actually bigger, or is
    * the series just growing?", the decomposition q_hourly_profile's
    * raw means can't answer under trend. Integer-exact until ONE final
    * division (detr = 25·x − Σ₂₅x stays in exact ints — never x−avg),
    * floor-4dp. */
  private val qSeasonalDecompose = Q(
    "q_seasonal_decompose",
    (s, dir) =>
      graft.api.TimeSeries.seasonalDecompose(
          Tables.events(s, dir).filter(col("event_type").isNotNull),
          "event_type", "ts_ms", "value", widthMs = 3600000L, period = 24)
        .select(col("g").as("event_type"), col("phase"), col("n_obs"),
          col("seasonal"))
        .orderBy(asc_nulls_first("event_type"), asc("phase")),
    Some(s"""WITH ${OracleSql.hourlySeries("event_type IS NOT NULL")},
                 w AS (SELECT g, bucket, x,
                         sum(x) OVER (PARTITION BY g ORDER BY bucket
                           RANGE BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS wsum,
                         count(*) OVER (PARTITION BY g ORDER BY bucket
                           RANGE BETWEEN 12 PRECEDING AND 12 FOLLOWING) AS wn
                       FROM series),
                 d AS (SELECT g, bucket % 24 AS phase, 25 * x - wsum AS detr
                       FROM w WHERE wn = 25)
            SELECT g AS event_type, CAST(phase AS BIGINT) AS phase,
                   CAST(count(*) AS BIGINT) AS n_obs,
                   floor(CAST(sum(detr) AS DOUBLE)
                         / (25.0 * CAST(count(*) AS DOUBLE))) / 10000 AS seasonal
            FROM d GROUP BY 1, 2
            ORDER BY event_type NULLS FIRST, phase""")
  )

  /** Per-session behavioral entropy: Shannon entropy (nats) of each
    * session's event-type distribution — 0 = single-minded (a bot
    * hammering one action), ln(5) ≈ 1.61 = uniformly mixed — the
    * diversity signal next to q_session_paths' sequence view. Sessions
    * are the standard 30-minute-gap assignment
    * (graft.api.TimeSeries.sessionIds — the q_session_paths form; break
    * flags depend only on consecutive time gaps, so tie order cannot
    * move a session boundary). Entropy via the exact-count identity
    * H = ln n − (Σ c·ln c)/n: one ln per (session, type) cell plus one
    * per session is the whole transcendental surface, each c·ln c
    * quantized DECIMAL(30,10) before the order-proof sum (the
    * mutual-info discipline), floor-4dp. Plan: the user-key session
    * window + two keyed hash aggregates — no broadcast, no join. */
  private val qSessionEntropy = Q(
    "q_session_entropy",
    (s, dir) => {
      val rows = graft.api.TimeSeries.sessionIds(
        Tables.events(s, dir)
          .filter(col("user_id").isNotNull && col("event_type").isNotNull)
          .withColumn("ts_us", expr("ts div 1000")),
        "ts_us", "user_id", 1800000000L, Seq("event_id", "event_type"))
      val cells = rows.groupBy(col("user_id"), col("session_id"), col("event_type"))
        .agg(count(lit(1)).as("c"))
      cells.groupBy("user_id", "session_id")
        .agg(sum("c").as("n"),
          sum((col("c").cast("double") * log(col("c").cast("double")))
            .cast("decimal(30,10)")).as("sclnc"))
        .select(col("user_id"), col("session_id").cast("bigint").as("session_id"),
          col("n").cast("bigint").as("n_events"),
          (floor((log(col("n").cast("double"))
            - col("sclnc").cast("double") / col("n")) * 10000) / 10000).as("entropy"))
        .orderBy("user_id", "session_id")
    },
    Some("""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tu
                       FROM events
                       WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
                 l AS (SELECT user_id, event_type, tu, event_id,
                         lag(tu) OVER (PARTITION BY user_id ORDER BY tu, event_id) AS prev
                       FROM e),
                 f AS (SELECT user_id, event_type, tu, event_id,
                         CASE WHEN prev IS NULL OR tu - prev >= 1800000000 THEN 1 ELSE 0 END AS brk
                       FROM l),
                 s AS (SELECT user_id, event_type,
                         sum(brk) OVER (PARTITION BY user_id ORDER BY tu, event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
                       FROM f),
                 cells AS (SELECT user_id, session_id, event_type, count(*) AS c
                           FROM s GROUP BY 1, 2, 3),
                 sess AS (SELECT user_id, session_id, sum(c) AS n,
                            sum(CAST(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
                                     AS DECIMAL(30,10))) AS sclnc
                          FROM cells GROUP BY 1, 2)
            SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
                   CAST(n AS BIGINT) AS n_events,
                   floor((ln(CAST(n AS DOUBLE)) - CAST(sclnc AS DOUBLE) / n) * 10000) / 10000
                     AS entropy
            FROM sess ORDER BY user_id, session_id""")
  )

  val all: Seq[Q] = Seq(qWindowRank, qWindowLag, qWindowFrame,
    qWindowRangeFrame, qWindowTumbling, qWindowSliding, qSessionWindow,
    qIntervalCount, qIntervalAgg, qWindowFirstLast, qResample, qResampleAgg,
    qRetention, qFunnel, qAnomaly, qEwma, qSessionStats, qSessionPaths,
    qAutocorr, qXcorr, qAttribution, qRollingMedian, qTransitions, qLinearFit,
    qSeasonalNaive, qHourlyProfile, qChurn, qConversionLag, qChangepoint,
    qAssocRules, qAbTest, qSurvival, qBootstrapCi, qCohortMatrix,
    qRfm, qWilsonRank, qHolt, qSax, qSeasonalDecompose, qSessionEntropy)
}

