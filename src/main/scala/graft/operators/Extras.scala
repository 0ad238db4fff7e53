package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Second wave of analytics operators rounding out the engine surface:
  * pivot, exact percentiles, statistical moments, ordered string
  * aggregation, positional explode, additional ranking functions,
  * distinct set union, cross join, and struct-ordered argmax. All
  * oracle-checked, all following the determinism rules (total order +
  * 4dp rounding).
  */
object Extras {

  /** Pivot (groupBy.pivot.agg) — Spark pivots into one column per key;
    * oracle is the equivalent CASE-sum formulation. */
  private val qPivot = Q(
    "q_pivot",
    (s, dir) =>
      Tables.orders(s, dir)
        .groupBy(year(col("o_orderdate")).cast("long").as("yr"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        // scaled-long money sums (floor(x·1e4+0.5) is pure double
        // arithmetic, bit-identical cross-engine): the r11 sf1.0 gate
        // caught the raw double sum drifting in the 4th decimal at 10x
        // group sizes — and cast-to-DECIMAL is NOT the fix, because
        // Spark casts via the double's shortest-string repr while DuckDB
        // rounds the binary value (a ~1e-10/row bias that sums visible)
        .agg(sum(floor(col("o_totalprice") * 1e4 + 0.5).cast("long"))
          .cast("double") / 1e4)
        .orderBy("yr"),
    Some("""SELECT year(o_orderdate) AS yr,
              CAST(sum(CAST(floor(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END
                * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000 AS F,
              CAST(sum(CAST(floor(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END
                * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000 AS O,
              CAST(sum(CAST(floor(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END
                * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000 AS P
            FROM orders GROUP BY yr ORDER BY yr""")
  )

  /** Exact interpolated percentiles (Spark `percentile` ≡ DuckDB
    * `quantile_cont`). The approx path is q_approx_distinct's HLL cousin
    * (`percentile_approx`) — not oracled, same contract. */
  private val qAggPercentile = Q(
    "q_agg_percentile",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          round(expr("percentile(l_extendedprice, 0.5)"), 4).as("median_price"),
          round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"),
          round(expr("percentile(l_quantity, 0.25)"), 4).as("q1_qty"))
        .orderBy("l_returnflag"),
    Some("""SELECT l_returnflag,
              round(quantile_cont(l_extendedprice, 0.5), 4) AS median_price,
              round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
              round(quantile_cont(l_quantity, 0.25), 4) AS q1_qty
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
  )

  /** Statistical moments + correlation (sample semantics both engines). */
  private val qAggStats = Q(
    "q_agg_stats",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        .agg(
          round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
          round(var_samp(col("l_quantity")), 4).as("var_qty"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qty_price"),
          round(covar_samp(col("l_quantity"), col("l_discount")), 4).as("cov_qty_disc"))
        .orderBy("l_returnflag"),
    Some("""SELECT l_returnflag,
              round(stddev_samp(l_quantity), 4) AS sd_qty,
              round(var_samp(l_quantity), 4) AS var_qty,
              round(corr(l_quantity, l_extendedprice), 4) AS corr_qty_price,
              round(covar_samp(l_quantity, l_discount), 4) AS cov_qty_disc
            FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
  )

  /** Pearson correlation MATRIX over the four lineitem measures in one
    * scan — the multi-column dependence QA (which measures move
    * together) as the hardened, accumulation-order-PROOF form of
    * q_agg_stats' native corr. Exactness scheme (r7, replacing the
    * DECIMAL(30,10) sums that cost ~4.7 s in per-row BigDecimal work):
    * the four measures are 2-decimal data, so every product is an exact
    * 4-decimal rational; the IEEE double product sits within 5e-6 of it
    * (error ≤ 2·|p|·ulp(p) + ulp(p²) ≈ 3e-6 + 2e-6 at the 1.1e10 max),
    * so `round(x·1e4)` recovers the exact scaled integer. Each integer
    * (≤ 1.1e14) is split into three base-2^16 digits whose LONG sums are
    * order-exact and overflow-free to ~1.4e14 rows (Long.Max/65535 —
    * ≈ 20 PB of lineitem; revisit the split beyond that). The sums are
    * reconstructed through one FIXED double expression that the DuckDB
    * oracle mirrors operation-for-operation — identical IEEE trees give
    * bit-identical doubles, so the derived correlations (division and
    * sqrt are correctly rounded) agree bit-for-bit, unlike a
    * float-accumulated native corr whose last digits depend on partition
    * order. One map-side-combining codegen aggregate (42 long sums +
    * count, no per-row BigDecimal), matrix unpacked from the 1-row frame
    * with stack — no join anywhere. */
  private val qCorrelation = Q(
    "q_correlation",
    (s, dir) => {
      val terms = Seq(
        "q" -> "q", "p" -> "p", "d" -> "d", "t" -> "t",
        "qq" -> "q*q", "pp" -> "p*p", "dd" -> "d*d", "tt" -> "t*t",
        "qp" -> "q*p", "qd" -> "q*d", "qt" -> "q*t",
        "pd" -> "p*d", "pt" -> "p*t", "dt" -> "d*t")
      val li = Tables.lineitem(s, dir).select(
        col("l_quantity").cast("double").as("q"),
        col("l_extendedprice").cast("double").as("p"),
        col("l_discount").cast("double").as("d"),
        col("l_tax").cast("double").as("t"))
      val scaled = li.select(terms.map { case (n, e) =>
        expr(s"cast(round(($e) * 10000) as bigint)").as(s"v_$n") }: _*)
      val digitSums = terms.flatMap { case (n, _) => Seq(
        sum(expr(s"v_$n % 65536")).as(s"w0_$n"),
        sum(expr(s"(v_$n div 65536) % 65536")).as(s"w1_$n"),
        sum(expr(s"v_$n div 4294967296")).as(s"w2_$n")) }
      val allAggs = count(lit(1)).cast("double").as("n") +: digitSums
      val w0 = scaled.agg(allAggs.head, allAggs.tail: _*)
      // bit-exact reconstruction: three exact long sums → one fixed
      // double expression, mirrored verbatim in the oracle SQL
      val w = w0.select(col("n") +: terms.map { case (n, _) =>
        expr(s"(cast(w2_$n as double) * 4294967296 + cast(w1_$n as double) * 65536 + cast(w0_$n as double)) / 10000")
          .as(s"s$n") }: _*) // names land as sq/sp/…/sdt, matching corrExpr
      def corrExpr(sa: String, sb: String, saa: String, sbb: String, sab: String) =
        s"floor((n * $sab - $sa * $sb) / sqrt((n * $saa - $sa * $sa) * (n * $sbb - $sb * $sb)) * 10000) / 10000"
      w.select(expr(s"""stack(6,
          'l_quantity', 'l_extendedprice', ${corrExpr("sq", "sp", "sqq", "spp", "sqp")},
          'l_quantity', 'l_discount',      ${corrExpr("sq", "sd", "sqq", "sdd", "sqd")},
          'l_quantity', 'l_tax',           ${corrExpr("sq", "st", "sqq", "stt", "sqt")},
          'l_extendedprice', 'l_discount', ${corrExpr("sp", "sd", "spp", "sdd", "spd")},
          'l_extendedprice', 'l_tax',      ${corrExpr("sp", "st", "spp", "stt", "spt")},
          'l_discount', 'l_tax',           ${corrExpr("sd", "st", "sdd", "stt", "sdt")}
        ) AS (col_x, col_y, corr)"""))
        .orderBy("col_x", "col_y")
    },
    Some("""WITH v AS (SELECT
              CAST(round((l_quantity) * 10000) AS BIGINT) AS v_q,
              CAST(round((l_extendedprice) * 10000) AS BIGINT) AS v_p,
              CAST(round((l_discount) * 10000) AS BIGINT) AS v_d,
              CAST(round((l_tax) * 10000) AS BIGINT) AS v_t,
              CAST(round((l_quantity * l_quantity) * 10000) AS BIGINT) AS v_qq,
              CAST(round((l_extendedprice * l_extendedprice) * 10000) AS BIGINT) AS v_pp,
              CAST(round((l_discount * l_discount) * 10000) AS BIGINT) AS v_dd,
              CAST(round((l_tax * l_tax) * 10000) AS BIGINT) AS v_tt,
              CAST(round((l_quantity * l_extendedprice) * 10000) AS BIGINT) AS v_qp,
              CAST(round((l_quantity * l_discount) * 10000) AS BIGINT) AS v_qd,
              CAST(round((l_quantity * l_tax) * 10000) AS BIGINT) AS v_qt,
              CAST(round((l_extendedprice * l_discount) * 10000) AS BIGINT) AS v_pd,
              CAST(round((l_extendedprice * l_tax) * 10000) AS BIGINT) AS v_pt,
              CAST(round((l_discount * l_tax) * 10000) AS BIGINT) AS v_dt
            FROM lineitem),
            s AS (SELECT
              CAST(count(*) AS DOUBLE) AS n,
              (CAST(sum(v_q // 4294967296) AS DOUBLE) * 4294967296 + CAST(sum((v_q // 65536) % 65536) AS DOUBLE) * 65536 + CAST(sum(v_q % 65536) AS DOUBLE)) / 10000 AS sq,
              (CAST(sum(v_p // 4294967296) AS DOUBLE) * 4294967296 + CAST(sum((v_p // 65536) % 65536) AS DOUBLE) * 65536 + CAST(sum(v_p % 65536) AS DOUBLE)) / 10000 AS sp,
              (CAST(sum(v_d // 4294967296) AS DOUBLE) * 4294967296 + CAST(sum((v_d // 65536) % 65536) AS DOUBLE) * 65536 + CAST(sum(v_d % 65536) AS DOUBLE)) / 10000 AS sd,
              (CAST(sum(v_t // 4294967296) AS DOUBLE) * 4294967296 + CAST(sum((v_t // 65536) % 65536) AS DOUBLE) * 65536 + CAST(sum(v_t % 65536) AS DOUBLE)) / 10000 AS st,
              (CAST(sum(v_qq // 4294967296) AS DOUBLE) * 4294967296 + CAST(sum((v_qq // 65536) % 65536) AS DOUBLE) * 65536 + CAST(sum(v_qq % 65536) AS DOUBLE)) / 10000 AS sqq,
              (CAST(sum(v_pp // 4294967296) AS DOUBLE) * 4294967296 + CAST(sum((v_pp // 65536) % 65536) AS DOUBLE) * 65536 + CAST(sum(v_pp % 65536) AS DOUBLE)) / 10000 AS spp,
              (CAST(sum(v_dd // 4294967296) AS DOUBLE) * 4294967296 + CAST(sum((v_dd // 65536) % 65536) AS DOUBLE) * 65536 + CAST(sum(v_dd % 65536) AS DOUBLE)) / 10000 AS sdd,
              (CAST(sum(v_tt // 4294967296) AS DOUBLE) * 4294967296 + CAST(sum((v_tt // 65536) % 65536) AS DOUBLE) * 65536 + CAST(sum(v_tt % 65536) AS DOUBLE)) / 10000 AS stt,
              (CAST(sum(v_qp // 4294967296) AS DOUBLE) * 4294967296 + CAST(sum((v_qp // 65536) % 65536) AS DOUBLE) * 65536 + CAST(sum(v_qp % 65536) AS DOUBLE)) / 10000 AS sqp,
              (CAST(sum(v_qd // 4294967296) AS DOUBLE) * 4294967296 + CAST(sum((v_qd // 65536) % 65536) AS DOUBLE) * 65536 + CAST(sum(v_qd % 65536) AS DOUBLE)) / 10000 AS sqd,
              (CAST(sum(v_qt // 4294967296) AS DOUBLE) * 4294967296 + CAST(sum((v_qt // 65536) % 65536) AS DOUBLE) * 65536 + CAST(sum(v_qt % 65536) AS DOUBLE)) / 10000 AS sqt,
              (CAST(sum(v_pd // 4294967296) AS DOUBLE) * 4294967296 + CAST(sum((v_pd // 65536) % 65536) AS DOUBLE) * 65536 + CAST(sum(v_pd % 65536) AS DOUBLE)) / 10000 AS spd,
              (CAST(sum(v_pt // 4294967296) AS DOUBLE) * 4294967296 + CAST(sum((v_pt // 65536) % 65536) AS DOUBLE) * 65536 + CAST(sum(v_pt % 65536) AS DOUBLE)) / 10000 AS spt,
              (CAST(sum(v_dt // 4294967296) AS DOUBLE) * 4294967296 + CAST(sum((v_dt // 65536) % 65536) AS DOUBLE) * 65536 + CAST(sum(v_dt % 65536) AS DOUBLE)) / 10000 AS sdt
            FROM v),
            pairs AS (
              SELECT 'l_quantity' AS col_x, 'l_extendedprice' AS col_y,
                floor((n*sqp - sq*sp) / sqrt((n*sqq - sq*sq) * (n*spp - sp*sp)) * 10000)/10000 AS corr FROM s
              UNION ALL SELECT 'l_quantity', 'l_discount',
                floor((n*sqd - sq*sd) / sqrt((n*sqq - sq*sq) * (n*sdd - sd*sd)) * 10000)/10000 FROM s
              UNION ALL SELECT 'l_quantity', 'l_tax',
                floor((n*sqt - sq*st) / sqrt((n*sqq - sq*sq) * (n*stt - st*st)) * 10000)/10000 FROM s
              UNION ALL SELECT 'l_extendedprice', 'l_discount',
                floor((n*spd - sp*sd) / sqrt((n*spp - sp*sp) * (n*sdd - sd*sd)) * 10000)/10000 FROM s
              UNION ALL SELECT 'l_extendedprice', 'l_tax',
                floor((n*spt - sp*st) / sqrt((n*spp - sp*sp) * (n*stt - st*st)) * 10000)/10000 FROM s
              UNION ALL SELECT 'l_discount', 'l_tax',
                floor((n*sdt - sd*st) / sqrt((n*sdd - sd*sd) * (n*stt - st*st)) * 10000)/10000 FROM s)
            SELECT col_x, col_y, corr FROM pairs ORDER BY col_x, col_y""")
  )

  /** Ordered string aggregation (listagg): sort inside the group for
    * determinism. */
  private val qAggListagg = Q(
    "q_agg_listagg",
    (s, dir) =>
      Tables.nation(s, dir)
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(concat_ws(",", array_sort(collect_list(col("n_name")))).as("nations"))
        .orderBy("r_name"),
    Some("""SELECT r_name, string_agg(n_name, ',' ORDER BY n_name) AS nations
            FROM nation JOIN region ON n_regionkey = r_regionkey
            GROUP BY r_name ORDER BY r_name""")
  )

  /** Positional explode (posexplode Generator). */
  private val qPosexplode = Q(
    "q_posexplode",
    (s, dir) =>
      Tables.documents(s, dir)
        .filter(col("doc_id") < 20)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
        .select(col("doc_id"), col("pos").cast("long").as("pos"), col("token"))
        .orderBy("doc_id", "pos"),
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id < 20),
                 ix AS (SELECT doc_id, t, unnest(generate_series(1, len(t))) AS p FROM toks)
            SELECT doc_id, p - 1 AS pos, t[CAST(p AS INT)] AS token
            FROM ix ORDER BY doc_id, pos""")
  )

  /** dense_rank + ntile with a totally-ordered window. */
  private val qWindowNtile = Q(
    "q_window_ntile",
    (s, dir) => {
      val w = Window.partitionBy("o_orderstatus").orderBy(desc("o_totalprice"), asc("o_orderkey"))
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"),
          dense_rank().over(w).cast("long").as("dr"),
          ntile(4).over(w).cast("long").as("quartile"))
        .filter(col("o_orderkey") % 37 === 0)
        .orderBy("o_orderkey")
    },
    Some("""WITH r AS (SELECT o_orderkey, o_orderstatus,
              CAST(dense_rank() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS dr,
              CAST(ntile(4) OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS quartile
            FROM orders)
            SELECT o_orderkey, o_orderstatus, dr, quartile FROM r
            WHERE o_orderkey % 37 = 0 ORDER BY o_orderkey""")
  )

  /** UNION with distinct semantics (vs q_union_all). */
  private val qUnionDistinct = Q(
    "q_union_distinct",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      ev.filter(col("event_type") === "error").select("user_id")
        .union(ev.filter(col("event_type") === "purchase").select("user_id"))
        .distinct()
        .orderBy("user_id")
    },
    Some("""SELECT user_id FROM events WHERE event_type = 'error'
            UNION
            SELECT user_id FROM events WHERE event_type = 'purchase'
            ORDER BY user_id""")
  )

  /** Explicit cross join (small × small — bounded by construction). */
  private val qJoinCross = Q(
    "q_join_cross",
    (s, dir) =>
      Tables.region(s, dir).select("r_name")
        .crossJoin(Tables.orders(s, dir).select("o_orderstatus").distinct())
        .orderBy("r_name", "o_orderstatus"),
    Some("""SELECT r_name, o_orderstatus
            FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders)
            ORDER BY r_name, o_orderstatus""")
  )

  /** Deterministic argmax via struct-ordered max: the top order per
    * customer (highest price, tie → smallest orderkey) in ONE aggregate —
    * no window, no second shuffle. */
  private val qArgmax = Q(
    "q_argmax",
    (s, dir) =>
      Tables.orders(s, dir)
        .groupBy("o_custkey")
        .agg(max(struct(col("o_totalprice").as("p"), (-col("o_orderkey")).as("nk"))).as("m"))
        .select(col("o_custkey"), (-col("m.nk")).cast("long").as("top_orderkey"),
          round(col("m.p"), 4).as("top_price"))
        .orderBy("o_custkey"),
    Some("""WITH r AS (SELECT o_custkey, o_orderkey, o_totalprice,
              row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
            FROM orders)
            SELECT o_custkey, o_orderkey AS top_orderkey, round(o_totalprice, 4) AS top_price
            FROM r WHERE rn = 1 ORDER BY o_custkey""")
  )

  /** As-of join (union-window formulation, graft.api.TimeSeries.asofJoin):
    * for each purchase, the most recent error at-or-before it by the same
    * user. One shuffle by user_id, no join operator at all. */
  private val qJoinAsof = Q(
    "q_join_asof",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      graft.api.TimeSeries.asofJoin(
          ev.filter(col("event_type") === "purchase"), "event_id", "ts_ms", "user_id",
          ev.filter(col("event_type") === "error"), "ts_ms", "user_id")
        .withColumnRenamed("asof_ts_ms", "last_err_ms")
        .orderBy("event_id")
    },
    Some("""SELECT p.event_id,
              (SELECT max(epoch_ms(e.ts)) FROM events e
               WHERE e.event_type = 'error' AND e.user_id = p.user_id
                 AND epoch_ms(e.ts) <= epoch_ms(p.ts)) AS last_err_ms
            FROM events p WHERE p.event_type = 'purchase'
            ORDER BY p.event_id""")
  )

  /** As-of join with a staleness TOLERANCE (pandas merge_asof semantics):
    * same as q_join_asof but a last-error older than 10 minutes before
    * the purchase reports NULL — "most recent, if recent enough", the
    * form monitoring/attribution queries actually want. Same one-shuffle
    * union-window plan; tolerance is a post-window projection. */
  private val qJoinAsofTol = Q(
    "q_join_asof_tol",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      graft.api.TimeSeries.asofJoin(
          ev.filter(col("event_type") === "purchase"), "event_id", "ts_ms", "user_id",
          ev.filter(col("event_type") === "error"), "ts_ms", "user_id",
          toleranceMs = Some(600000L))
        .withColumnRenamed("asof_ts_ms", "last_err_ms")
        .orderBy("event_id")
    },
    Some("""SELECT p.event_id,
              (SELECT max(epoch_ms(e.ts)) FROM events e
               WHERE e.event_type = 'error' AND e.user_id = p.user_id
                 AND epoch_ms(e.ts) <= epoch_ms(p.ts)
                 AND epoch_ms(e.ts) >= epoch_ms(p.ts) - 600000) AS last_err_ms
            FROM events p WHERE p.event_type = 'purchase'
            ORDER BY p.event_id""")
  )

  /** FORWARD as-of join (graft.api.TimeSeries.asofJoinForward): for each
    * purchase, the NEXT error at-or-after it — time-to-next-event
    * attribution, the mirror of q_join_asof. Same one-shuffle
    * union-window plan (running MIN over the forward frame), no join;
    * ties count ("at or after" includes an exactly-simultaneous
    * error). */
  private val qJoinAsofFwd = Q(
    "q_join_asof_fwd",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      graft.api.TimeSeries.asofJoinForward(
          ev.filter(col("event_type") === "purchase"), "event_id", "ts_ms", "user_id",
          ev.filter(col("event_type") === "error"), "ts_ms", "user_id")
        .withColumnRenamed("asof_ts_ms", "next_err_ms")
        .orderBy("event_id")
    },
    Some("""SELECT p.event_id,
              (SELECT min(epoch_ms(e.ts)) FROM events e
               WHERE e.event_type = 'error' AND e.user_id = p.user_id
                 AND epoch_ms(e.ts) >= epoch_ms(p.ts)) AS next_err_ms
            FROM events p WHERE p.event_type = 'purchase'
            ORDER BY p.event_id""")
  )

  /** NEAREST as-of join (graft.api.TimeSeries.asofJoinNearest): for
    * each purchase, the closest error in EITHER direction within 10
    * minutes, ties breaking backward (past evidence beats future
    * evidence at equal distance) — pandas merge_asof
    * direction='nearest', completing the as-of family
    * (backward / tolerance / forward / nearest). Two union-window
    * passes + two id-keyed equi-joins — never a time-range theta-join;
    * direction and signed lag are reported for the attribution
    * consumer. */
  private val qJoinAsofNearest = Q(
    "q_join_asof_nearest",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      graft.api.TimeSeries.asofJoinNearest(
          ev.filter(col("event_type") === "purchase"), "event_id", "ts_ms", "user_id",
          ev.filter(col("event_type") === "error"), "ts_ms", "user_id",
          toleranceMs = Some(600000L))
        .orderBy("event_id")
    },
    Some("""WITH pe AS (SELECT event_id, user_id, epoch_ms(ts) AS tm
                        FROM events WHERE event_type = 'purchase'),
                 er AS (SELECT user_id, epoch_ms(ts) AS tm
                        FROM events WHERE event_type = 'error'),
                 p2 AS (SELECT pe.event_id, pe.tm,
                          (SELECT er.tm FROM er
                           WHERE er.user_id = pe.user_id
                             AND abs(er.tm - pe.tm) <= 600000
                           ORDER BY abs(er.tm - pe.tm), er.tm LIMIT 1) AS asof_ts_ms
                        FROM pe)
            SELECT event_id, asof_ts_ms,
                   CASE WHEN asof_ts_ms IS NULL THEN NULL
                        WHEN asof_ts_ms <= tm THEN 'b' ELSE 'f' END AS direction,
                   asof_ts_ms - tm AS lag_ms
            FROM p2 ORDER BY event_id""")
  )

  /** Sketch percentiles (one pass, fixed memory, MERGEABLE) — the
    * 100 TB path where exact `percentile` shuffles every value. Runs on
    * the engine's own DDSketch ([[graft.api.Sketches.ddSketch]], Masson
    * et al. VLDB'19 — the q_quantile_rollup machinery): per-group
    * log-bucket counters, α = 1% relative-error guarantee, and the
    * sketch is a pure function of the input MULTISET (bucket counters
    * sum commutatively), unlike Spark's `percentile_approx` whose GK
    * summaries are insertion-order-dependent — which is exactly why
    * this query was the gate's last no-oracle entry through r12.
    * Approximate ESTIMATOR, deterministic FUNCTION:
    * [[DdOracleSql.percentileSql]] replays the bucket indexing and the
    * grouped quantile walk in DuckDB — hash-matched; the α·|x| error
    * contract stays property-tested (OperatorPropertiesSpec
    * "ddsketch"). */
  private val qApproxPercentile = Q(
    "q_approx_percentile",
    (s, dir) => {
      graft.functions.VectorExprs.register(s)
      val alpha = 0.01
      Tables.lineitem(s, dir)
        .filter(col("l_extendedprice").isNotNull)
        .groupBy("l_returnflag")
        .agg(graft.api.Sketches.ddSketch(alpha)(col("l_extendedprice")).as("sk"))
        .select(col("l_returnflag"),
          graft.api.Sketches.ddQuantiles(alpha, Seq(0.5, 0.9))(col("sk")).as("qa"))
        .select(col("l_returnflag"),
          (floor(element_at(col("qa"), 1) * 10000) / 10000.0).as("median_approx"),
          (floor(element_at(col("qa"), 2) * 10000) / 10000.0).as("p90_approx"))
        .orderBy("l_returnflag")
    },
    Some(DdOracleSql.percentileSql)
  )

  /** grouping_id(): distinguish aggregation levels inside grouping sets. */
  private val qGroupingId = Q(
    "q_grouping_id",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .rollup("l_returnflag", "l_linestatus")
        .agg(grouping_id().cast("long").as("gid"), count(lit(1)).as("cnt"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
    Some("""SELECT l_returnflag, l_linestatus,
              CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid,
              count(*) AS cnt
            FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
            ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")
  )

  /** Typed JSON parsing (from_json with a schema) — the structured
    * alternative to q_json_funcs' get_json_object string path. */
  private val qJsonStruct = Q(
    "q_json_struct",
    (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"),
          from_json(col("props"),
            org.apache.spark.sql.types.StructType.fromDDL("k BIGINT"))
            .getField("k").as("k_val"))
        .orderBy("event_id"),
    Some("""SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k_val
            FROM events ORDER BY event_id""")
  )

  /** Edit-distance fuzzy matching (levenshtein ≤ 5) — the string-
    * similarity primitive for fuzzy dedup of short fields (titles,
    * names). Pair generation is BLOCKED, not all-pairs: levenshtein(a,b)
    * ≤ 5 implies |len(a)−len(b)| ≤ 5, so rows equi-join on a length
    * bucket floor(len/6) with the b-side fanned out ±1 bucket (each pair
    * meets exactly once since a keeps a single bucket and b's three are
    * distinct). The equi-join hash-partitions by bucket — no
    * BroadcastNestedLoopJoin (plan-audited) — and the levenshtein filter
    * is an exact residual, so the answer is identical to all-pairs. */
  private val qEditDistance = Q(
    "q_edit_distance",
    (s, dir) => {
      val p = Tables.part(s, dir).filter(col("p_partkey") <= 100)
        .select(col("p_partkey"), col("p_name"), length(col("p_name")).as("len"))
      val a = p.select(col("p_partkey").as("key_a"), col("p_name").as("name_a"),
        expr("len div 6").as("bucket"))
      val b = p.select(col("p_partkey").as("key_b"), col("p_name").as("name_b"),
        explode(expr("array(len div 6 - 1, len div 6, len div 6 + 1)")).as("bucket"))
      a.join(b, Seq("bucket"))
        .filter(col("key_a") < col("key_b"))
        .withColumn("dist", levenshtein(col("name_a"), col("name_b")).cast("long"))
        .filter(col("dist") <= 5)
        .select("key_a", "key_b", "dist")
        .orderBy("key_a", "key_b")
    },
    Some("""SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
              CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
            FROM part a JOIN part b ON a.p_partkey < b.p_partkey
            WHERE a.p_partkey <= 100 AND b.p_partkey <= 100
              AND levenshtein(a.p_name, b.p_name) <= 5
            ORDER BY key_a, key_b""")
  )

  /** Salted two-phase aggregation (graft.api.Skew.saltedAggregate) — the
    * hot-key mitigation for aggregations: pre-aggregate on (key, salt)
    * so a skewed key's rows spread over 16 partial groups, then combine.
    * Deterministic salt (xxhash64, no rand()); the oracle is the PLAIN
    * aggregate, which the salted plan must equal exactly. */
  private val qSkewSalted = Q(
    "q_skew_salted",
    (s, dir) =>
      graft.api.Skew.saltedAggregate(
          Tables.events(s, dir), Seq("event_type"), 16, col("event_id"))(
          partial = Seq(count(lit(1)).as("c"), sum("value").as("sv")),
          fin = Seq(sum("c").as("cnt"), round(sum("sv"), 4).as("sum_value")))
        .orderBy("event_type"),
    Some("""SELECT event_type, count(*) AS cnt, round(sum(value), 4) AS sum_value
            FROM events GROUP BY event_type ORDER BY event_type""")
  )

  /** Replicate-salt JOIN over the hot-key shape (150 users × ~70 events
    * each at sf0.01; at 100 TB the same shape is billions of rows per
    * key): big side salted on event_id, small side replicated ×8, join
    * on (user_id, salt) — semantics identical to the plain join, which
    * is exactly what the oracle states. At fixture scale the planner
    * broadcasts the replicated side (so no shuffle exists to skew);
    * the mitigation's target is the non-broadcastable small side, where
    * the same (keys, salt) condition spreads the hot key's shuffle
    * partition — the salt rides whichever join strategy is picked.
    * OperatorPropertiesSpec holds the ≡-plain-join contract. */
  private val qSkewSaltedJoin = Q(
    "q_skew_salted_join",
    (s, dir) => {
      val ev = Tables.events(s, dir).select("event_id", "user_id", "value")
      val cust = Tables.customer(s, dir)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      graft.api.Skew.saltedJoin(ev, cust, Seq("user_id"), 8, col("event_id"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("cnt"),
          (floor(sum(col("value").cast("decimal(30,10)")).cast("double") * 1e4) / 1e4)
            .as("sum_value"))
        .orderBy("c_mktsegment")
    },
    Some("""SELECT c_mktsegment, count(*) AS cnt,
              floor(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE) * 10000)/10000 AS sum_value
            FROM events JOIN customer ON user_id = c_custkey
            GROUP BY c_mktsegment ORDER BY c_mktsegment""")
  )

  /** FULL OUTER join: customers with finished vs pending orders —
    * unmatched rows survive from BOTH sides (nulls coalesced to 0). */
  private val qJoinFull = Q(
    "q_join_full",
    (s, dir) => {
      val o = Tables.orders(s, dir)
      val f = o.filter(col("o_orderstatus") === "F")
        .groupBy("o_custkey").agg(count(lit(1)).as("f_cnt"))
      val p = o.filter(col("o_orderstatus") === "P")
        .groupBy("o_custkey").agg(count(lit(1)).as("p_cnt"))
      f.join(p, Seq("o_custkey"), "full")
        .select(col("o_custkey"),
          coalesce(col("f_cnt"), lit(0L)).as("f_cnt"),
          coalesce(col("p_cnt"), lit(0L)).as("p_cnt"))
        .orderBy("o_custkey")
    },
    Some("""WITH f AS (SELECT o_custkey, count(*) AS f_cnt FROM orders
                       WHERE o_orderstatus = 'F' GROUP BY o_custkey),
                 p AS (SELECT o_custkey, count(*) AS p_cnt FROM orders
                       WHERE o_orderstatus = 'P' GROUP BY o_custkey)
            SELECT coalesce(f.o_custkey, p.o_custkey) AS o_custkey,
              coalesce(f_cnt, 0) AS f_cnt, coalesce(p_cnt, 0) AS p_cnt
            FROM f FULL JOIN p ON f.o_custkey = p.o_custkey
            ORDER BY o_custkey""")
  )

  /** Unpivot (melt): wide per-flag aggregates → long (flag, metric,
    * value) rows — the inverse of q_pivot. */
  private val qUnpivot = Q(
    "q_unpivot",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag")
        // scaled-long sums (the q_pivot r11 fix): raw double sums drift
        // in the 4th decimal at sf1.0 group sizes, and DECIMAL casts
        // diverge cross-engine (shortest-string vs binary rounding)
        .agg((sum(floor(col("l_quantity") * 1e4 + 0.5).cast("long"))
            .cast("double") / 1e4).as("sum_qty"),
          (sum(floor(col("l_extendedprice") * 1e4 + 0.5).cast("long"))
            .cast("double") / 1e4).as("sum_price"),
          (sum(floor(col("l_discount") * 1e4 + 0.5).cast("long"))
            .cast("double") / 1e4).as("sum_disc"))
        .unpivot(Array(col("l_returnflag")),
          Array(col("sum_qty"), col("sum_price"), col("sum_disc")),
          "metric", "value")
        .orderBy("l_returnflag", "metric"),
    Some("""WITH w AS (SELECT l_returnflag,
              CAST(sum(CAST(floor(l_quantity * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000 AS sum_qty,
              CAST(sum(CAST(floor(l_extendedprice * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000 AS sum_price,
              CAST(sum(CAST(floor(l_discount * 10000 + 0.5) AS BIGINT)) AS DOUBLE) / 10000 AS sum_disc
            FROM lineitem GROUP BY l_returnflag)
            SELECT l_returnflag, metric, value FROM (
              SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM w
              UNION ALL
              SELECT l_returnflag, 'sum_price', sum_price FROM w
              UNION ALL
              SELECT l_returnflag, 'sum_disc', sum_disc FROM w)
            ORDER BY l_returnflag, metric""")
  )

  /** Distribution window functions: percent_rank + cume_dist within a
    * totally-ordered per-status window. */
  private val qWindowDistribution = Q(
    "q_window_distribution",
    (s, dir) => {
      val w = Window.partitionBy("o_orderstatus")
        .orderBy(asc("o_totalprice"), asc("o_orderkey"))
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"),
          round(percent_rank().over(w), 4).as("pr"),
          round(cume_dist().over(w), 4).as("cd"))
        .filter(col("o_orderkey") % 53 === 0)
        .orderBy("o_orderkey")
    },
    Some("""WITH r AS (SELECT o_orderkey, o_orderstatus,
              round(percent_rank() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey), 4) AS pr,
              round(cume_dist() OVER (PARTITION BY o_orderstatus ORDER BY o_totalprice, o_orderkey), 4) AS cd
            FROM orders)
            SELECT o_orderkey, o_orderstatus, pr, cd FROM r
            WHERE o_orderkey % 53 = 0 ORDER BY o_orderkey""")
  )

  /** Tie-corrected Spearman rank correlation between l_quantity and
    * l_extendedprice — the robust monotone-association companion to
    * q_correlation's Pearson matrix ([[graft.api.Profiler.spearman]]):
    * global average ranks via the distributed bucketed prefix scan
    * (never a single-partition window), doubled-and-centered to exact
    * integers so every moment is one DECIMAL(38,0) sum and the
    * statistic is one fixed double expression. */
  private val qSpearman = Q(
    "q_spearman",
    (s, dir) =>
      graft.api.Profiler.spearman(Tables.lineitem(s, dir),
          xCol = "l_quantity", yCol = "l_extendedprice"),
    Some("""WITH r AS (SELECT l_quantity AS x, l_extendedprice AS y FROM lineitem
                       WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
                 cx AS (SELECT x AS v, count(*) AS k FROM r GROUP BY x),
                 rx AS (SELECT v, 2 * sum(k) OVER (ORDER BY v) - k + 1 AS r2 FROM cx),
                 cy AS (SELECT y AS v, count(*) AS k FROM r GROUP BY y),
                 ry AS (SELECT v, 2 * sum(k) OVER (ORDER BY v) - k + 1 AS r2 FROM cy),
                 nn AS (SELECT count(*) AS nn FROM r),
                 cen AS (SELECT CAST(rx.r2 - (nn.nn + 1) AS HUGEINT) AS a,
                                CAST(ry.r2 - (nn.nn + 1) AS HUGEINT) AS b
                         FROM r JOIN rx ON r.x = rx.v JOIN ry ON r.y = ry.v, nn),
                 m AS (SELECT count(*) AS n, sum(a * b) AS sab,
                              sum(a * a) AS saa, sum(b * b) AS sbb
                       FROM cen)
            SELECT CAST(n AS BIGINT) AS n_rows,
                   CASE WHEN CAST(saa AS DOUBLE) > 0 AND CAST(sbb AS DOUBLE) > 0
                        THEN floor(CAST(sab AS DOUBLE)
                                   / sqrt(CAST(saa AS DOUBLE) * CAST(sbb AS DOUBLE))
                                   * 10000) / 10000
                        ELSE 0.0 END AS spearman
            FROM m""")
  )

  val all: Seq[Q] = Seq(qPivot, qAggPercentile, qAggStats, qCorrelation, qAggListagg,
    qPosexplode, qWindowNtile, qUnionDistinct, qJoinCross, qArgmax,
    qJoinAsof, qJoinAsofTol, qJoinAsofFwd, qJoinAsofNearest, qApproxPercentile, qGroupingId, qJsonStruct, qEditDistance,
    qSkewSalted, qSkewSaltedJoin, qJoinFull, qUnpivot, qWindowDistribution,
    qSpearman)
}
