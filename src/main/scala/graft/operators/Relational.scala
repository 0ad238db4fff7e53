package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Core relational operator surface (SURVEY.md §2B): scans, filters,
  * ordered picks (the reference's R3 semantics,
  * CephFSEventReader.java:105-158), sorts, top-k, joins, aggregations,
  * grouping sets, and set operations.
  *
  * Every query is total-ordered and rounds derived doubles to 4dp so the
  * driver's DuckDB hash compare is deterministic (SURVEY.md §7.4-4/5).
  * Scale notes (100 TB design) are on each query.
  */
object Relational {

  /** Full scan + projection (ref R1/R4). Columns are pruned at the parquet
    * scan (ReadSchema shows only the 4 selected columns); the sort is the
    * only shuffle. */
  private val qScanProject = Q(
    "q_scan_project",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        // ORDER BY must be total over ALL output columns: the r11 sf1.0
        // gate caught duplicate (l_orderkey, l_linenumber) pairs whose
        // payload columns then compared in engine-dependent order
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"),
    Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
            FROM lineitem
            ORDER BY l_orderkey, l_linenumber, l_quantity, l_extendedprice""")
  )

  /** The reference's candidate-file predicate (R2,
    * CephFSEventReader.java:111-121) transliterated onto a synthesized name
    * column: excludes completed-suffix names, dot-hidden names, and an
    * ignorePattern regex (which the reference documents but never applies —
    * we enforce it as documented, README.md:26). Pure narrow filter: pushed
    * to the scan, no shuffle. */
  private val qFilterCandidates = Q(
    "q_filter_candidates",
    (s, dir) => {
      val named = Tables.documents(s, dir).withColumn(
        "fname",
        expr("""CASE WHEN doc_id % 13 = 0 THEN concat('.hidden_', cast(doc_id AS STRING))
                     WHEN doc_id % 7 = 0  THEN concat('f', cast(doc_id AS STRING), '.COMPLETED')
                     WHEN doc_id % 11 = 0 THEN concat('f', cast(doc_id AS STRING), '.tmp')
                     ELSE concat('f', cast(doc_id AS STRING), '.dat') END"""))
      named
        .filter(!col("fname").endsWith(".COMPLETED") &&
          !col("fname").startsWith(".") &&
          !col("fname").rlike("\\.tmp$"))
        .select("doc_id", "fname")
        .orderBy("doc_id")
    },
    Some("""WITH named AS (
              SELECT doc_id,
                CASE WHEN doc_id % 13 = 0 THEN '.hidden_' || CAST(doc_id AS VARCHAR)
                     WHEN doc_id % 7 = 0  THEN 'f' || CAST(doc_id AS VARCHAR) || '.COMPLETED'
                     WHEN doc_id % 11 = 0 THEN 'f' || CAST(doc_id AS VARCHAR) || '.tmp'
                     ELSE 'f' || CAST(doc_id AS VARCHAR) || '.dat' END AS fname
              FROM documents)
            SELECT doc_id, fname FROM named
            WHERE NOT ends_with(fname, '.COMPLETED')
              AND NOT starts_with(fname, '.')
              AND NOT regexp_matches(fname, '\.tmp$')
            ORDER BY doc_id""")
  )

  /** Ordered top-1 pick, OLDEST (ref R3, CephFSEventReader.java:146-156):
    * min by timestamp with lexicographic tiebreak (:161-166), plus key
    * tiebreak for total determinism. Spark plans this as
    * TakeOrderedAndProject — per-partition top-1 then driver merge, no full
    * sort/shuffle, which is exactly the scalable form of the reference's
    * O(n) scan-per-pick. */
  private val qPickOldest = Q(
    "q_pick_oldest",
    (s, dir) =>
      Tables.events(s, dir)
        .select("event_id", "ts_ms", "event_type")
        .orderBy(asc("ts_ms"), asc("event_type"), asc("event_id"))
        .limit(1),
    Some("""SELECT event_id, epoch_ms(ts) AS ts_ms, event_type FROM events
            ORDER BY ts_ms, event_type, event_id LIMIT 1""")
  )

  /** Ordered top-1 pick, YOUNGEST (ref R3, CephFSEventReader.java:135-145);
    * tie still goes to the lexicographically smallest name (:139-140). */
  private val qPickYoungest = Q(
    "q_pick_youngest",
    (s, dir) =>
      Tables.events(s, dir)
        .select("event_id", "ts_ms", "event_type")
        .orderBy(desc("ts_ms"), asc("event_type"), asc("event_id"))
        .limit(1),
    Some("""SELECT event_id, epoch_ms(ts) AS ts_ms, event_type FROM events
            ORDER BY ts_ms DESC, event_type, event_id LIMIT 1""")
  )

  /** Top-k generalization of R3: TakeOrderedAndProject, no global sort. */
  private val qTopK = Q(
    "q_topk",
    (s, dir) =>
      Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(10),
    Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""")
  )

  /** Multi-key mixed-direction sort; filter is pushed to the scan so the
    * range-partitioned sort only sees ~1% of rows. */
  private val qSortMulti = Q(
    "q_sort_multi",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_orderkey") % 97 === 0)
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice")
        .orderBy(asc("l_returnflag"), desc("l_extendedprice"), asc("l_orderkey"), asc("l_linenumber")),
    Some("""SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice
            FROM lineitem WHERE l_orderkey % 97 = 0
            ORDER BY l_returnflag, l_extendedprice DESC, l_orderkey, l_linenumber""")
  )

  /** The reference's CSV-record projection (R4,
    * CephFSEventReader.java:89-94) incl. the deliberately non-padded
    * `yyyy-MM-dd H:m:s` timestamp format (:230-235). Narrow map-only plan. */
  private val qProjectDerived = Q(
    "q_project_derived",
    (s, dir) =>
      Tables.events(s, dir)
        .select(
          col("event_id"),
          concat_ws(",",
            concat(lit("ev_"), col("event_id").cast("string")),
            concat(lit("/data/"), col("event_type"), lit("/"), col("event_id").cast("string")),
            date_format(col("ts_t"), "yyyy-MM-dd H:m:s")).as("body"))
        .orderBy("event_id"),
    Some("""SELECT event_id,
              'ev_' || CAST(event_id AS VARCHAR) || ',' ||
              '/data/' || event_type || '/' || CAST(event_id AS VARCHAR) || ',' ||
              strftime(ts, '%Y-%m-%d %-H:%-M:%-S') AS body
            FROM events ORDER BY event_id""")
  )

  // ---- joins -------------------------------------------------------------

  /** Fact-to-dim equi-join + aggregate. orders⋈customer shuffles on the
    * join key (sort-merge/shuffled-hash at scale, AQE picks); the tiny
    * nation dim is broadcast explicitly — no shuffle for it at any scale. */
  private val qJoinInner = Q(
    "q_join_inner",
    (s, dir) =>
      Tables.orders(s, dir)
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("order_cnt"), round(sum("o_totalprice"), 4).as("total_price"))
        .orderBy("n_name"),
    Some("""SELECT n_name, count(*) AS order_cnt, round(sum(o_totalprice), 4) AS total_price
            FROM orders JOIN customer ON o_custkey = c_custkey
                        JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name ORDER BY n_name""")
  )

  /** Small-dim broadcast join: zero shuffle regardless of fact size. */
  private val qJoinBroadcast = Q(
    "q_join_broadcast",
    (s, dir) =>
      Tables.nation(s, dir)
        .join(broadcast(Tables.region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .select("r_name", "n_name")
        .orderBy("r_name", "n_name"),
    Some("""SELECT r_name, n_name FROM nation JOIN region ON n_regionkey = r_regionkey
            ORDER BY r_name, n_name""")
  )

  /** Left outer join + count of matches (null-preserving). */
  private val qJoinLeft = Q(
    "q_join_left",
    (s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("order_cnt"))
        .orderBy("c_custkey"),
    Some("""SELECT c_custkey, count(o_orderkey) AS order_cnt
            FROM customer LEFT JOIN orders ON c_custkey = o_custkey
            GROUP BY c_custkey ORDER BY c_custkey""")
  )

  /** Left-semi join: existence check without row duplication — far cheaper
    * than join+distinct at scale (right side reduced to keys). */
  private val qJoinSemi = Q(
    "q_join_semi",
    (s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey"),
    Some("""SELECT c_custkey, c_name FROM customer
            WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
            ORDER BY c_custkey""")
  )

  /** Left-anti join: customers with no pending ('P') orders. */
  private val qJoinAnti = Q(
    "q_join_anti",
    (s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "P"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey"),
    Some("""SELECT c_custkey, c_name FROM customer
            WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
            ORDER BY c_custkey""")
  )

  /** Interval/range join done scale-correctly. A naive theta-join
    * (e.ts BETWEEN p.ts AND p.ts+10min) is a broadcast-nested-loop —
    * O(|P|·|E|), hopeless at 100 TB. Instead we bucket time into
    * window-sized bins: each purchase's half-open 10-minute window spans
    * exactly 2 bins, each error sits in 1, so an equi-join on the bin key
    * followed by the exact range filter produces every match exactly once
    * with a plain shuffle-hash join. Unmatched purchases are restored with
    * a cheap left join against the aggregated counts. */
  private val qJoinRange = Q(
    "q_join_range",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      graft.api.TimeSeries.intervalJoinCount(
          ev.filter(col("event_type") === "purchase"), "event_id", "ts_ms",
          ev.filter(col("event_type") === "error"), "ts_ms",
          windowMs = 600000L)
        .withColumnRenamed("match_cnt", "err_cnt")
        .orderBy("event_id")
    },
    Some("""SELECT p.event_id, count(e.event_id) AS err_cnt
            FROM events p LEFT JOIN events e
              ON e.event_type = 'error'
             AND epoch_ms(e.ts) >= epoch_ms(p.ts)
             AND epoch_ms(e.ts) <  epoch_ms(p.ts) + 600000
            WHERE p.event_type = 'purchase'
            GROUP BY p.event_id ORDER BY p.event_id""")
  )

  // ---- aggregation -------------------------------------------------------

  /** Flagship (SURVEY.md §7.2, TPC-H Q1 shape): scan → pushed filter →
    * two-phase hash aggregate (map-side partial combine shrinks the shuffle
    * to |groups|·partitions rows) → tiny sort. */
  private val qAggPricing = Q(
    "q_agg_pricing",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(expr("l_shipdate <= TIMESTAMP_NTZ '1998-09-02 00:00:00'"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 4).as("sum_qty"),
          round(sum("l_extendedprice"), 4).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc_price"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_extendedprice"), 4).as("avg_price"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus"),
    Some("""SELECT l_returnflag, l_linestatus,
              round(sum(l_quantity), 4) AS sum_qty,
              round(sum(l_extendedprice), 4) AS sum_base_price,
              round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
              round(avg(l_quantity), 4) AS avg_qty,
              round(avg(l_extendedprice), 4) AS avg_price,
              count(*) AS cnt
            FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
            GROUP BY l_returnflag, l_linestatus
            ORDER BY l_returnflag, l_linestatus""")
  )

  /** count(DISTINCT) — Spark expands to a two-shuffle plan (distinct on
    * (group, key) then count); exact, unlike q_approx_distinct's sketch. */
  private val qAggDistinct = Q(
    "q_agg_distinct",
    (s, dir) =>
      Tables.orders(s, dir)
        .groupBy("o_orderstatus")
        .agg(countDistinct(col("o_custkey")).as("cust_cnt"))
        .orderBy("o_orderstatus"),
    Some("""SELECT o_orderstatus, count(DISTINCT o_custkey) AS cust_cnt
            FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""")
  )

  /** ROLLUP grouping sets. NULLS FIRST made explicit: Spark's ASC default
    * is nulls-first, DuckDB's is nulls-last (SURVEY.md §7.4-5). */
  private val qAggRollup = Q(
    "q_agg_rollup",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .rollup("l_returnflag", "l_linestatus")
        .agg(round(sum("l_quantity"), 4).as("sum_qty"), count(lit(1)).as("cnt"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
    Some("""SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 4) AS sum_qty, count(*) AS cnt
            FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
            ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""")
  )

  /** Arbitrary GROUPING SETS — the general form ROLLUP/CUBE specialize:
    * a composite (returnflag, linestatus) breakdown, an INDEPENDENT
    * linenumber breakdown, and the grand total in ONE pass over lineitem
    * (Spark plans a single Expand + hash aggregate — one scan where
    * three UNION'd GROUP BYs would cost three). NULLS FIRST explicit on
    * both sides as in q_agg_rollup. */
  private val qGroupingSets = Q(
    "q_grouping_sets",
    (s, dir) =>
      Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_linestatus"),
          col("l_linenumber").cast("long").as("l_linenum"), col("l_quantity"))
        .groupingSets(
          Seq(Seq(col("l_returnflag"), col("l_linestatus")),
            Seq(col("l_linenum")), Seq.empty),
          col("l_returnflag"), col("l_linestatus"), col("l_linenum"))
        .agg(round(sum("l_quantity"), 4).as("sum_qty"), count(lit(1)).as("cnt"))
        .orderBy(asc_nulls_first("l_returnflag"),
          asc_nulls_first("l_linestatus"), asc_nulls_first("l_linenum")),
    Some("""SELECT l_returnflag, l_linestatus, CAST(l_linenumber AS BIGINT) AS l_linenum,
              round(sum(l_quantity), 4) AS sum_qty, count(*) AS cnt
            FROM lineitem
            GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (CAST(l_linenumber AS BIGINT)), ())
            ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST,
              l_linenum NULLS FIRST""")
  )

  /** CUBE grouping sets over a derived year column. */
  private val qAggCube = Q(
    "q_agg_cube",
    (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_type"), year(col("ts_t")).cast("long").as("yr"), col("value"))
        .cube("event_type", "yr")
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 4).as("sum_value"))
        .orderBy(asc_nulls_first("event_type"), asc_nulls_first("yr")),
    Some("""WITH e AS (SELECT event_type, year(ts) AS yr, value FROM events)
            SELECT event_type, yr, count(*) AS cnt, round(sum(value), 4) AS sum_value
            FROM e GROUP BY CUBE(event_type, yr)
            ORDER BY event_type NULLS FIRST, yr NULLS FIRST""")
  )

  /** HyperLogLog++ approximate distinct (north-star scale op): one pass,
    * fixed memory per group vs count(DISTINCT)'s shuffle of every key.
    * Approximate ESTIMATOR, deterministic FUNCTION: [[HllOracleSql]]
    * replays Spark's own HLL++ in DuckDB — XXH64(42)-of-long registers,
    * exact dyadic zInverse, the K=6 sliding-window bias interpolation
    * over tables read from `HyperLogLogPlusPlusHelper` at emission
    * time, linear counting with the threshold switch — and
    * hash-matches; accuracy vs exact remains property-tested
    * (RelationalSpec), and HllOracleSpec pins the transcription against
    * the real helper on the estimator paths the fixture never reaches. */
  private val qApproxDistinct = Q(
    "q_approx_distinct",
    (s, dir) =>
      Tables.events(s, dir)
        .groupBy("event_type")
        .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"))
        .orderBy("event_type"),
    Some(HllOracleSql.sql)
  )

  /** MERGEABLE HLL sketch rollup — the incremental-distinct pattern at
    * scale: per-day user sketches roll up to a corpus total by
    * register-max merge WITHOUT rescanning the raw data. At 100 TB this
    * is how daily distinct-user counts become weekly/monthly ones:
    * persist the (day, sketch) table — ~3.3 KB per day — and
    * union-merge any date range on demand; q_approx_distinct's one-shot
    * estimate can't compose that way. The sketch is Spark's OWN HLL++
    * state ([[graft.functions.HllSketchAgg]] drives
    * `HyperLogLogPlusPlusHelper` — identical registers and
    * bias-corrected estimator to `approx_count_distinct(., 0.02)`),
    * which is what makes the rollup HASH-MATCHED: [[HllOracleSql
    * .rollupSql]] replays registers + estimator per day AND for the
    * merged sentinel group in DuckDB (register max over days ≡ one
    * register pass over all rows — merge is idempotent max, so the
    * identity is exact, not approximate). The r10/r11 no-oracle
    * obstruction was the DataSketches library's HIP estimator — a
    * foreign library's internals — not sketch rollups per se; swapping
    * the sketch for Spark's own retires it. Merge-consistency and
    * accuracy vs exact remain property-tested (OperatorPropertiesSpec
    * "hll rollup"). Output: one row per day plus the merged total under
    * day_idx NULL (explicit NULLS FIRST contract). */
  private val qHllRollup = Q(
    "q_hll_rollup",
    (s, dir) => {
      val daily = Tables.events(s, dir)
        .filter(col("user_id").isNotNull)
        .select(expr(graft.api.TimeSeries.floorDivSql("ts_ms", 86400000L)).as("day_idx"),
          col("user_id"))
        .groupBy("day_idx")
        .agg(graft.functions.HllSketchAgg.fn(col("user_id")).as("sk"))
      daily.groupBy("day_idx")
        .agg(graft.functions.HllMergeEstAgg.fn(col("sk")).as("est_users"))
        .unionByName(daily.agg(
          graft.functions.HllMergeEstAgg.fn(col("sk")).as("est_users"))
          .select(lit(null).cast("long").as("day_idx"), col("est_users")))
        .orderBy(asc_nulls_first("day_idx"))
    },
    Some(HllOracleSql.rollupSql)
  )

  /** MERGEABLE QUANTILE sketch rollup — q_hll_rollup's persisted-sketch
    * pattern for DISTRIBUTIONS (graft.api.Sketches.DDSketchAgg, the
    * DDSketch log-bucket design): per-day value sketches roll up to
    * any-date-range percentiles WITHOUT rescanning raw data — daily
    * latency/length distributions composing to weekly/monthly p50/p90
    * is the standard ask `percentile_approx`'s one-shot estimate can't
    * serve. The bucket-counter-sum merge is commutative and loss-free,
    * so the merged row is EXACTLY the whole-range sketch (stronger than
    * HLL's register-max) and no Spark partition/arrival order can
    * change the answer — rank-based sketches (GK/KLL) could not pass
    * the determinism gate here. Long output shape (day_idx, q, est):
    * per-day rows plus the merged range under day_idx NULL; quantile
    * evaluation runs on the DAY-sized frame only. Approximate
    * ESTIMATOR, deterministic FUNCTION: [[DdOracleSql]] replays the
    * log-bucket indexing (ln(γ)/γ as Java literals — the only per-value
    * transcendental is ln(v), boundary-audited on the fixture), the
    * cumulative quantile walk, and the counter-sum merge in DuckDB and
    * hash-matches; merge-exactness, partition-order independence and
    * the α·|x| error contract remain property-tested
    * (OperatorPropertiesSpec "ddsketch"). */
  private val qQuantileRollup = Q(
    "q_quantile_rollup",
    (s, dir) => {
      graft.functions.VectorExprs.register(s)
      val alpha = 0.01
      val qs = Seq(0.5, 0.9)
      val daily = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .select(expr(graft.api.TimeSeries.floorDivSql("ts_ms", 86400000L)).as("day_idx"),
          col("value"))
        .groupBy("day_idx")
        .agg(graft.api.Sketches.ddSketch(alpha)(col("value")).as("sk"))
      def expand(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
        df.select(col("day_idx"),
            posexplode(graft.api.Sketches.ddQuantiles(alpha, qs)(col("sk"))).as(Seq("qi", "est")))
          .select(col("day_idx"),
            element_at(typedLit(qs), col("qi") + 1).as("q"),
            (floor(col("est") * 10000) / 10000.0).as("est"))
      expand(daily)
        .unionByName(expand(daily.agg(graft.api.Sketches.ddMerge()(col("sk")).as("sk"))
          .select(lit(null).cast("long").as("day_idx"), col("sk"))))
        .orderBy(asc_nulls_first("day_idx"), asc("q"))
    },
    Some(DdOracleSql.sql)
  )

  /** MERGEABLE FREQUENCY sketch rollup — the per-item-COUNT member of
    * the persisted-sketch-rollup family (q_hll_rollup = distincts,
    * q_quantile_rollup = quantiles; graft.api.Sketches.CmsAgg, the
    * Count-Min design): per-day event-type sketches roll up to
    * any-date-range per-key frequency estimates WITHOUT rescanning raw
    * data — "how often did each tracked term appear this week" from
    * kilobyte-sized daily sketches. The per-cell counter-sum merge is
    * commutative and loss-free, so the merged row is EXACTLY the
    * whole-range sketch and no partition/arrival order can change it
    * (the q_quantile_rollup determinism argument). Estimates carry the
    * CMS one-sided guarantee: ≥ the true count always, ≤ true +
    * (e/width)·N w.h.p. Long output shape (day_idx, key, est): per-day
    * rows plus the merged range under day_idx NULL; probe evaluation
    * runs on the DAY-sized sketch frame only, never raw rows.
    * Approximate ESTIMATOR, deterministic FUNCTION: [[CmsOracleSql]]
    * replays MurmurHash3.stringHash in 32-bit SQL over the
    * key-cardinality type frame, rebuilds every probed cell from exact
    * per-(day, type) counts, and hash-matches; merge-exactness, the
    * overestimate-only bound, and the empty/shape-mismatch probe guards
    * remain property-tested (OperatorPropertiesSpec "cms frequency
    * rollup"). */
  private val qFreqRollup = Q(
    "q_freq_rollup",
    (s, dir) => {
      graft.functions.VectorExprs.register(s)
      val depth = 5; val width = 1024
      val tracked = Seq("click", "error", "purchase", "signup", "view", "absent_key")
      val daily = Tables.events(s, dir)
        .select(expr(graft.api.TimeSeries.floorDivSql("ts_ms", 86400000L)).as("day_idx"),
          col("event_type"))
        .groupBy("day_idx")
        .agg(graft.api.Sketches.cmsSketch(depth, width)(col("event_type")).as("sk"))
      def expand(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
        df.select(col("day_idx"),
            posexplode(graft.api.Sketches.cmsEstimates(depth, width, tracked)(col("sk")))
              .as(Seq("ki", "est")))
          .select(col("day_idx"), element_at(typedLit(tracked), col("ki") + 1).as("key"),
            col("est"))
      expand(daily)
        .unionByName(expand(daily.agg(graft.api.Sketches.cmsMerge()(col("sk")).as("sk"))
          .select(lit(null).cast("long").as("day_idx"), col("sk"))))
        .orderBy(asc_nulls_first("day_idx"), asc("key"))
    },
    Some(CmsOracleSql.sql)
  )

  // ---- set operations ----------------------------------------------------

  private val qUnionAll = Q(
    "q_union_all",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      ev.filter(col("event_type") === "error").select("event_id", "event_type")
        .unionAll(ev.filter(col("event_type") === "purchase" && col("value") > 50)
          .select("event_id", "event_type"))
        .orderBy("event_id", "event_type")
    },
    Some("""SELECT event_id, event_type FROM events WHERE event_type = 'error'
            UNION ALL
            SELECT event_id, event_type FROM events WHERE event_type = 'purchase' AND value > 50
            ORDER BY event_id, event_type""")
  )

  /** INTERSECT (distinct semantics in both engines): users active in both
    * halves of the month. */
  private val qIntersect = Q(
    "q_intersect",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val mid = 1705276800000L // 2024-01-15 UTC epoch ms
      ev.filter(col("ts_ms") < mid).select("user_id")
        .intersect(ev.filter(col("ts_ms") >= mid).select("user_id"))
        .orderBy("user_id")
    },
    Some("""SELECT user_id FROM events WHERE epoch_ms(ts) < 1705276800000
            INTERSECT
            SELECT user_id FROM events WHERE epoch_ms(ts) >= 1705276800000
            ORDER BY user_id""")
  )

  /** EXCEPT (distinct): users who hit errors but never made a high-value
    * purchase. */
  private val qExcept = Q(
    "q_except",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      ev.filter(col("event_type") === "error").select("user_id")
        .except(ev.filter(col("event_type") === "purchase" && col("value") > 90).select("user_id"))
        .orderBy("user_id")
    },
    Some("""SELECT user_id FROM events WHERE event_type = 'error'
            EXCEPT
            SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 90
            ORDER BY user_id""")
  )

  /** INTERSECT ALL (bag semantics — multiplicity = min of the two
    * sides, unlike q_intersect's distinct). */
  private val qIntersectAll = Q(
    "q_intersect_all",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      val mid = 1705276800000L // 2024-01-15 UTC epoch ms
      ev.filter(col("ts_ms") < mid).select("user_id")
        .intersectAll(ev.filter(col("ts_ms") >= mid).select("user_id"))
        .orderBy("user_id")
    },
    Some("""SELECT user_id FROM events WHERE epoch_ms(ts) < 1705276800000
            INTERSECT ALL
            SELECT user_id FROM events WHERE epoch_ms(ts) >= 1705276800000
            ORDER BY user_id""")
  )

  /** EXCEPT ALL (bag semantics — multiplicity = left minus right). */
  private val qExceptAll = Q(
    "q_except_all",
    (s, dir) => {
      val ev = Tables.events(s, dir)
      ev.filter(col("event_type") === "error").select("user_id")
        .exceptAll(ev.filter(col("event_type") === "purchase" && col("value") > 90)
          .select("user_id"))
        .orderBy("user_id")
    },
    Some("""SELECT user_id FROM events WHERE event_type = 'error'
            EXCEPT ALL
            SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 90
            ORDER BY user_id""")
  )

  /** The SQL entry point: TPC-H Q3 (shipping priority) run via
    * spark.sql over temp views — same Catalyst plan space as the
    * DataFrame API (3-way join, pushdown, partial aggregation,
    * TakeOrdered), declared through SQL text instead. */
  private val qSqlTpchQ3 = Q(
    "q_sql_tpch_q3",
    (s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("v_customer")
      Tables.orders(s, dir).createOrReplaceTempView("v_orders")
      Tables.lineitem(s, dir).createOrReplaceTempView("v_lineitem")
      s.sql("""
        SELECT l_orderkey,
               round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
               unix_millis(CAST(o_orderdate AS TIMESTAMP)) AS o_date_ms,
               o_orderpriority
        FROM v_customer JOIN v_orders ON c_custkey = o_custkey
                        JOIN v_lineitem ON l_orderkey = o_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_date_ms, l_orderkey
        LIMIT 10""")
    },
    Some("""SELECT l_orderkey,
              round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue,
              epoch_ms(o_orderdate) AS o_date_ms,
              o_orderpriority
            FROM customer JOIN orders ON c_custkey = o_custkey
                          JOIN lineitem ON l_orderkey = o_orderkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, o_date_ms, l_orderkey
            LIMIT 10""")
  )

  /** TPC-H Q6 (forecasting revenue change): the single-table
    * scan-filter-aggregate — three pushed-down predicates (date range,
    * discount band, quantity cap) collapsing to ONE row. The whole
    * query is a parquet scan with PushedFilters + a map-side-combining
    * global aggregate: at 100 TB this is the shape that proves
    * predicate pushdown and partial aggregation carry a query with no
    * shuffle at all (one 1-row exchange). The one-group sum over many
    * rows is exactly the float-boundary case — DECIMAL(30,10)
    * accumulation + 4dp floor (CLAUDE.md invariant 1). */
  private val qSqlTpchQ6 = Q(
    "q_sql_tpch_q6",
    (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("v_lineitem")
      s.sql("""
        SELECT floor(CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(30,10))) AS DOUBLE) * 10000) / 10000 AS revenue
        FROM v_lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
          AND l_discount BETWEEN 0.05 AND 0.07
          AND l_quantity < 24""")
    },
    Some("""SELECT floor(CAST(sum(CAST(l_extendedprice * l_discount AS DECIMAL(30,10))) AS DOUBLE) * 10000) / 10000 AS revenue
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
              AND l_discount BETWEEN 0.05 AND 0.07
              AND l_quantity < 24""")
  )

  /** TPC-H Q4 (order priority checking) adapted to the fixture (no
    * l_commitdate column → the lateness predicate becomes "shipped
    * after the order date"): orders per priority in one quarter having
    * at least one such lineitem — the correlated EXISTS that Catalyst
    * must rewrite to a LEFT SEMI join (one order counted once however
    * many lineitems qualify). Exact integer counts; both engines run
    * the identical SQL text. */
  private val qSqlTpchQ4 = Q(
    "q_sql_tpch_q4",
    (s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("v_orders")
      Tables.lineitem(s, dir).createOrReplaceTempView("v_lineitem")
      s.sql("""
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
        FROM v_orders
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
          AND EXISTS (SELECT 1 FROM v_lineitem
                      WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority""")
    },
    Some("""SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
            GROUP BY o_orderpriority
            ORDER BY o_orderpriority""")
  )

  /** TPC-H Q5 (local-supplier volume) adapted to the fixture: revenue
    * per nation for ASIA-region customers served by a SAME-NATION
    * supplier in one order year — the 6-table star join that exercises
    * Catalyst's join reorder + dim broadcasting beyond Q3's 3 tables.
    * Revenue sums cross the aggregate as DECIMAL(30,10) + 4dp floor
    * (many rows per nation group — the q_resample_agg float boundary);
    * both engines run the identical SQL text modulo view names. */
  private val qSqlTpchQ5 = Q(
    "q_sql_tpch_q5",
    (s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("v_customer")
      Tables.orders(s, dir).createOrReplaceTempView("v_orders")
      Tables.lineitem(s, dir).createOrReplaceTempView("v_lineitem")
      Tables.supplier(s, dir).createOrReplaceTempView("v_supplier")
      Tables.nation(s, dir).createOrReplaceTempView("v_nation")
      Tables.region(s, dir).createOrReplaceTempView("v_region")
      s.sql("""
        SELECT n_name,
               floor(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))) AS DOUBLE) * 10000) / 10000 AS revenue
        FROM v_customer JOIN v_orders ON c_custkey = o_custkey
                        JOIN v_lineitem ON l_orderkey = o_orderkey
                        JOIN v_supplier ON l_suppkey = s_suppkey
                                       AND c_nationkey = s_nationkey
                        JOIN v_nation ON s_nationkey = n_nationkey
                        JOIN v_region ON n_regionkey = r_regionkey
        WHERE r_name = 'ASIA'
          AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY n_name
        ORDER BY n_name""")
    },
    Some("""SELECT n_name,
              floor(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))) AS DOUBLE) * 10000) / 10000 AS revenue
            FROM customer JOIN orders ON c_custkey = o_custkey
                          JOIN lineitem ON l_orderkey = o_orderkey
                          JOIN supplier ON l_suppkey = s_suppkey
                                       AND c_nationkey = s_nationkey
                          JOIN nation ON s_nationkey = n_nationkey
                          JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
              AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY n_name
            ORDER BY n_name""")
  )

  /** TPC-H Q10 (returned-item reporting) adapted to the fixture: the
    * top-20 customers by revenue lost to returned lineitems in one
    * quarter — Q5's star shrunk to the customer rollup but with a
    * high-cardinality group key (custkey, not nation) and a
    * TakeOrdered top-k over the aggregate. Same DECIMAL accumulation +
    * 4dp floor as Q5; the order key is the FLOORED revenue with a
    * custkey tiebreak, so the top-20 cut is engine-deterministic. */
  private val qSqlTpchQ10 = Q(
    "q_sql_tpch_q10",
    (s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("v_customer")
      Tables.orders(s, dir).createOrReplaceTempView("v_orders")
      Tables.lineitem(s, dir).createOrReplaceTempView("v_lineitem")
      Tables.nation(s, dir).createOrReplaceTempView("v_nation")
      s.sql("""
        SELECT c_custkey, c_name, n_name,
               floor(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))) AS DOUBLE) * 10000) / 10000 AS revenue
        FROM v_customer JOIN v_orders ON c_custkey = o_custkey
                        JOIN v_lineitem ON l_orderkey = o_orderkey
                        JOIN v_nation ON c_nationkey = n_nationkey
        WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
          AND l_returnflag = 'R'
        GROUP BY c_custkey, c_name, n_name
        ORDER BY revenue DESC, c_custkey
        LIMIT 20""")
    },
    Some("""SELECT c_custkey, c_name, n_name,
              floor(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))) AS DOUBLE) * 10000) / 10000 AS revenue
            FROM customer JOIN orders ON c_custkey = o_custkey
                          JOIN lineitem ON l_orderkey = o_orderkey
                          JOIN nation ON c_nationkey = n_nationkey
            WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
              AND l_returnflag = 'R'
            GROUP BY c_custkey, c_name, n_name
            ORDER BY revenue DESC, c_custkey
            LIMIT 20""")
  )

  /** TPC-H Q12 (shipping modes / order priority) adapted to the fixture
    * (no l_shipmode or l_receiptdate → the mode dimension becomes
    * l_linestatus and "received in 1996" becomes "shipped in 1996"):
    * per line status, how many 1996-shipped lineitems belong to
    * urgent/high-priority orders vs the rest — the conditional-count
    * fact⋈fact join. All-integer output, zero float hazard. */
  private val qSqlTpchQ12 = Q(
    "q_sql_tpch_q12",
    (s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("v_orders")
      Tables.lineitem(s, dir).createOrReplaceTempView("v_lineitem")
      s.sql("""
        SELECT l_linestatus,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM v_orders JOIN v_lineitem ON o_orderkey = l_orderkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l_linestatus
        ORDER BY l_linestatus""")
    },
    Some("""SELECT l_linestatus,
              CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
              CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
            GROUP BY l_linestatus
            ORDER BY l_linestatus""")
  )

  /** TPC-H Q14 (promotion effect) adapted to the fixture (p_type is a
    * plain category, so `= 'PROMO'` replaces `LIKE 'PROMO%'`): the
    * share of one month's revenue from promo parts — the
    * conditional-sum / total-sum ratio. Both sums accumulate as
    * DECIMAL(30,10); the ratio is ONE IEEE divide on two exactly-agreed
    * decimal-cast doubles, then the 4dp floor — deterministic
    * cross-engine (the q_resample_agg discipline applied to a ratio). */
  private val qSqlTpchQ14 = Q(
    "q_sql_tpch_q14",
    (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("v_lineitem")
      Tables.part(s, dir).createOrReplaceTempView("v_part")
      s.sql("""
        SELECT floor(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10)) ELSE CAST(0 AS DECIMAL(30,10)) END) AS DOUBLE)
                     / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))) AS DOUBLE) * 10000) / 10000 AS promo_revenue
        FROM v_lineitem JOIN v_part ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'""")
    },
    Some("""SELECT floor(100.0 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10)) ELSE CAST(0 AS DECIMAL(30,10)) END) AS DOUBLE)
                   / CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))) AS DOUBLE) * 10000) / 10000 AS promo_revenue
            FROM lineitem JOIN part ON l_partkey = p_partkey
            WHERE l_shipdate >= TIMESTAMP '1996-09-01 00:00:00'
              AND l_shipdate < TIMESTAMP '1996-10-01 00:00:00'""")
  )

  /** TPC-H Q18 (large-volume customers): top-100 orders whose total
    * quantity exceeds 250, with the owning customer — the
    * aggregate-HAVING-join shape (pre-aggregate lineitem, filter on the
    * aggregate, then join the dims). l_quantity is integral 1..50 so
    * double sums are order-independent-exact and the HAVING cut agrees
    * cross-engine without decimal staging; o_totalprice orders raw
    * parquet doubles with the orderkey tiebreak; the date leaves as
    * epoch-ms per the output convention. */
  private val qSqlTpchQ18 = Q(
    "q_sql_tpch_q18",
    (s, dir) => {
      Tables.customer(s, dir).createOrReplaceTempView("v_customer")
      Tables.orders(s, dir).createOrReplaceTempView("v_orders")
      Tables.lineitem(s, dir).createOrReplaceTempView("v_lineitem")
      s.sql("""
        SELECT c_name, c_custkey, o_orderkey,
               unix_millis(CAST(o_orderdate AS TIMESTAMP)) AS o_date_ms,
               o_totalprice,
               sum(l_quantity) AS sum_qty
        FROM v_customer JOIN v_orders ON c_custkey = o_custkey
                        JOIN v_lineitem ON o_orderkey = l_orderkey
        GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
        HAVING sum(l_quantity) > 250
        ORDER BY o_totalprice DESC, o_orderkey
        LIMIT 100""")
    },
    Some("""SELECT c_name, c_custkey, o_orderkey,
              epoch_ms(o_orderdate) AS o_date_ms,
              o_totalprice,
              sum(l_quantity) AS sum_qty
            FROM customer JOIN orders ON c_custkey = o_custkey
                          JOIN lineitem ON o_orderkey = l_orderkey
            GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
            HAVING sum(l_quantity) > 250
            ORDER BY o_totalprice DESC, o_orderkey
            LIMIT 100""")
  )

  /** TPC-H Q19 (discounted revenue) adapted to the fixture (no
    * p_container/l_shipmode → those legs drop from each disjunct):
    * revenue over three OR-ed (brand, size-range, quantity-range)
    * baskets — the disjunctive join predicate Catalyst must keep OUT of
    * the join keys (equi-join on partkey; the disjunction is a post-join
    * filter). Single decimal-accumulated floored sum. */
  private val qSqlTpchQ19 = Q(
    "q_sql_tpch_q19",
    (s, dir) => {
      Tables.lineitem(s, dir).createOrReplaceTempView("v_lineitem")
      Tables.part(s, dir).createOrReplaceTempView("v_part")
      s.sql("""
        SELECT floor(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))) AS DOUBLE) * 10000) / 10000 AS revenue
        FROM v_lineitem JOIN v_part ON p_partkey = l_partkey
        WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
           OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 20)
           OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 20 AND 30)""")
    },
    Some("""SELECT floor(CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))) AS DOUBLE) * 10000) / 10000 AS revenue
            FROM lineitem JOIN part ON p_partkey = l_partkey
            WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
               OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 20)
               OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 20 AND 30)""")
  )

  /** Register the named fixture tables as SAME-NAMED temp views and run
    * ONE SQL text on Spark that is also, verbatim, the DuckDB oracle —
    * the two engines execute the identical string, so the query and its
    * oracle can never drift apart (the earlier TPC-H queries duplicate
    * the text into v_-prefixed views; new ones use this single source). */
  private def sqlQ(name: String, tables: Seq[String], sql: String): Q =
    Q(name,
      (s, dir) => {
        tables.foreach(t => Tables.table(s, dir, t).createOrReplaceTempView(t))
        s.sql(sql)
      },
      Some(sql))

  /** TPC-H Q7 (volume shipping) adapted to fixture nation names: revenue
    * between two trading nations per (supplier nation, customer nation,
    * ship year) — the classic two-dimension star join with a symmetric
    * OR-pair predicate Catalyst must evaluate post-join while keeping
    * the joins themselves equi-keyed. DECIMAL accumulation + 4dp floor;
    * year extracted then cast BIGINT (Spark INT vs DuckDB BIGINT). */
  private val qSqlTpchQ7 = sqlQ(
    "q_sql_tpch_q7",
    Seq("supplier", "lineitem", "orders", "customer", "nation"),
    """SELECT supp_nation, cust_nation, l_year,
              floor(CAST(sum(volume) AS DOUBLE) * 10000) / 10000 AS revenue
       FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
                    CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
                    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10)) AS volume
             FROM supplier
             JOIN lineitem ON s_suppkey = l_suppkey
             JOIN orders ON o_orderkey = l_orderkey
             JOIN customer ON c_custkey = o_custkey
             JOIN nation n1 ON s_nationkey = n1.n_nationkey
             JOIN nation n2 ON c_nationkey = n2.n_nationkey
             WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
                 OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
               AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
               AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00') shipping
       GROUP BY supp_nation, cust_nation, l_year
       ORDER BY supp_nation, cust_nation, l_year""")

  /** TPC-H Q8 (national market share) adapted to the fixture: one
    * nation's share of a region's revenue for one part type, per order
    * year — the widest join in the suite (7 tables, nation joined
    * TWICE under different roles) feeding a conditional-sum ratio. Both
    * sums accumulate DECIMAL; the share is ONE IEEE divide + 4dp floor
    * (the q14 ratio discipline). */
  private val qSqlTpchQ8 = sqlQ(
    "q_sql_tpch_q8",
    Seq("part", "lineitem", "supplier", "orders", "customer", "nation", "region"),
    """SELECT o_year,
              floor(CAST(sum(CASE WHEN nation = 'NATION_3' THEN volume
                                  ELSE CAST(0 AS DECIMAL(30,10)) END) AS DOUBLE)
                    / CAST(sum(volume) AS DOUBLE) * 10000) / 10000 AS mkt_share
       FROM (SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
                    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10)) AS volume,
                    n2.n_name AS nation
             FROM part
             JOIN lineitem ON p_partkey = l_partkey
             JOIN supplier ON s_suppkey = l_suppkey
             JOIN orders ON l_orderkey = o_orderkey
             JOIN customer ON o_custkey = c_custkey
             JOIN nation n1 ON c_nationkey = n1.n_nationkey
             JOIN region ON n1.n_regionkey = r_regionkey
             JOIN nation n2 ON s_nationkey = n2.n_nationkey
             WHERE r_name = 'ASIA' AND p_type = 'STANDARD'
               AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
               AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00') all_nations
       GROUP BY o_year
       ORDER BY o_year""")

  /** TPC-H Q13 (customer distribution) adapted to the fixture (the
    * comment-pattern exclusion becomes an order-priority exclusion):
    * how many customers placed 0, 1, 2, … qualifying orders — the
    * LEFT-OUTER-join-with-join-side-predicate + two-level aggregate
    * shape (the predicate must stay IN the join condition: a WHERE
    * would silently turn the outer join inner and lose the 0-order
    * customers). All-integer output. */
  private val qSqlTpchQ13 = sqlQ(
    "q_sql_tpch_q13",
    Seq("customer", "orders"),
    """SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
       FROM (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
             FROM customer LEFT OUTER JOIN orders
               ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
             GROUP BY c_custkey) c_orders
       GROUP BY c_count
       ORDER BY custdist DESC, c_count DESC""")

  /** TPC-H Q15 (top supplier): the supplier(s) with maximum quarterly
    * revenue — the aggregate-then-scalar-max-subquery shape (the CTE is
    * referenced twice; Catalyst plans the scalar max as a 1-row
    * subquery broadcast). The max-equality compare runs on the EXACT
    * decimal revenue (never the floored double), so ties are bit-safe
    * cross-engine; the floor is presentation only. */
  private val qSqlTpchQ15 = sqlQ(
    "q_sql_tpch_q15",
    Seq("lineitem", "supplier"),
    """WITH revenue AS (
         SELECT l_suppkey AS supplier_no,
                sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))) AS total_revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
         GROUP BY l_suppkey)
       SELECT s_suppkey, s_name,
              floor(CAST(total_revenue AS DOUBLE) * 10000) / 10000 AS total_revenue
       FROM supplier JOIN revenue ON s_suppkey = supplier_no
       WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
       ORDER BY s_suppkey""")

  /** TPC-H Q17 (small-quantity-order revenue) adapted to the fixture
    * (brand + size band replaces brand + container): revenue lost to
    * below-20%-of-average-quantity orders — the correlated SCALAR
    * aggregate subquery per part, which Catalyst must rewrite to an
    * aggregate + equi-join (never a per-row re-scan). The per-part avg
    * derives as exact-long-valued sum/count with ONE divide, so the
    * quantity cut agrees bit-exactly cross-engine. */
  private val qSqlTpchQ17 = sqlQ(
    "q_sql_tpch_q17",
    Seq("lineitem", "part"),
    """SELECT floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(30,10))) AS DOUBLE) / 7.0 * 10000) / 10000
                AS avg_yearly
       FROM lineitem JOIN part ON p_partkey = l_partkey
       WHERE p_brand = 'Brand#1' AND p_size <= 10
         AND l_quantity < (SELECT 0.2 * (CAST(sum(l_quantity) AS DOUBLE) / count(*))
                           FROM lineitem l2 WHERE l2.l_partkey = p_partkey)""")

  /** TPC-H Q21 (suppliers who kept orders waiting) adapted to the
    * fixture (no receipt/commit dates → "late" = shipped more than 60
    * days after the order date): per supplier, finished multi-supplier
    * orders where THIS supplier was the only late one — the
    * double-correlated EXISTS + NOT-EXISTS shape (semi join + anti join
    * against the same fact table, both correlated on the outer order
    * AND the outer supplier). All-integer output, top-20 with name
    * tiebreak. */
  private val qSqlTpchQ21 = sqlQ(
    "q_sql_tpch_q21",
    Seq("supplier", "lineitem", "orders"),
    """SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
       FROM supplier
       JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
       JOIN orders ON o_orderkey = l1.l_orderkey
       WHERE o_orderstatus = 'F'
         AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
         AND EXISTS (SELECT 1 FROM lineitem l2
                     WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
         AND NOT EXISTS (SELECT 1 FROM lineitem l3
                         WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
                           AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
       GROUP BY s_name
       ORDER BY numwait DESC, s_name
       LIMIT 20""")

  /** TPC-H Q22 (global sales opportunity) adapted to the fixture (the
    * phone country code becomes the nation key; "never ordered" becomes
    * "no orders in 1996" — every fixture customer has SOME order):
    * wealthy-but-inactive customers per country — the NOT-EXISTS
    * anti-join + uncorrelated scalar-average-subquery shape. The
    * average derives as decimal-sum/count with ONE divide so the
    * acctbal cut agrees bit-exactly cross-engine. */
  private val qSqlTpchQ22 = sqlQ(
    "q_sql_tpch_q22",
    Seq("customer", "orders"),
    """SELECT cntrycode, CAST(count(*) AS BIGINT) AS numcust,
              floor(CAST(sum(CAST(c_acctbal AS DECIMAL(30,10))) AS DOUBLE) * 10000) / 10000
                AS totacctbal
       FROM (SELECT CAST(c_nationkey AS BIGINT) AS cntrycode, c_acctbal
             FROM customer
             WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
               AND c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(30,10))) AS DOUBLE) / count(*)
                                FROM customer
                                WHERE c_acctbal > 0.0 AND c_nationkey IN (1, 3, 5, 7, 9, 11, 13))
               AND NOT EXISTS (SELECT 1 FROM orders
                               WHERE o_custkey = c_custkey
                                 AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
                                 AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00')) custsale
       GROUP BY cntrycode
       ORDER BY cntrycode""")

  /** TPC-H Q1 (pricing summary report) in FULL — q_agg_pricing carries
    * the shape with a slimmed aggregate list; this is the literal eight-
    * aggregate report incl. the tax-compounded sum_charge and avg_disc.
    * All four sums accumulate DECIMAL(30,10) (order-free) and their 4dp
    * floor runs INSIDE the decimal domain (×10000 and floor are exact on
    * decimals; the result is integer-valued, so the double cast is exact
    * too) — money sums of 2-decimal inputs land EXACTLY on the 1e-4
    * grid, where the usual cast-then-floor straddles a 1-ulp
    * cross-engine boundary (caught at sf0.01: Spark's
    * BigDecimal.doubleValue vs DuckDB's int128-scaled cast disagreed on
    * 289473120.03). The avgs divide off-grid, so cast-then-floor stays
    * safe there. */
  private val qSqlTpchQ1 = sqlQ(
    "q_sql_tpch_q1",
    Seq("lineitem"),
    """SELECT l_returnflag, l_linestatus,
              CAST(floor(sum(CAST(l_quantity AS DECIMAL(30,10))) * 10000) AS DOUBLE) / 10000 AS sum_qty,
              CAST(floor(sum(CAST(l_extendedprice AS DECIMAL(30,10))) * 10000) AS DOUBLE) / 10000 AS sum_base_price,
              CAST(floor(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(30,10))) * 10000) AS DOUBLE) / 10000 AS sum_disc_price,
              CAST(floor(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(30,10))) * 10000) AS DOUBLE) / 10000 AS sum_charge,
              floor(CAST(sum(CAST(l_quantity AS DECIMAL(30,10))) AS DOUBLE) / count(*) * 10000) / 10000 AS avg_qty,
              floor(CAST(sum(CAST(l_extendedprice AS DECIMAL(30,10))) AS DOUBLE) / count(*) * 10000) / 10000 AS avg_price,
              floor(CAST(sum(CAST(l_discount AS DECIMAL(30,10))) AS DOUBLE) / count(*) * 10000) / 10000 AS avg_disc,
              CAST(count(*) AS BIGINT) AS count_order
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag, l_linestatus""")

  /** TPC-H Q2 (minimum cost supplier) adapted to the fixture: no
    * partsupp table exists, so lineitem IS the supplier↔part link and
    * "supply cost" derives as each (part, supplier)'s minimum shipped
    * unit price. The load-bearing shape survives intact: a CTE
    * referenced twice — once as the candidate frame, once inside the
    * CORRELATED scalar-min subquery Catalyst rewrites to an aggregate +
    * equi-join (never a per-row re-scan). The min-equality compare runs
    * on the raw double (identical per-row divides → identical min in
    * both engines); the floor is presentation only. */
  private val qSqlTpchQ2 = sqlQ(
    "q_sql_tpch_q2",
    Seq("lineitem", "part", "supplier", "nation", "region"),
    """WITH costs AS (
         SELECT l_partkey, l_suppkey, min(l_extendedprice / l_quantity) AS unit_cost
         FROM lineitem
         JOIN supplier ON s_suppkey = l_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'EUROPE'
         GROUP BY l_partkey, l_suppkey)
       SELECT s_acctbal, s_name, n_name, p_partkey, p_name,
              floor(unit_cost * 10000) / 10000 AS supply_cost
       FROM costs
       JOIN part ON p_partkey = l_partkey
       JOIN supplier ON s_suppkey = l_suppkey
       JOIN nation ON s_nationkey = n_nationkey
       WHERE p_size <= 15 AND p_type = 'LARGE'
         AND unit_cost = (SELECT min(c2.unit_cost) FROM costs c2
                          WHERE c2.l_partkey = p_partkey)
       ORDER BY s_acctbal DESC, n_name, s_name, p_partkey""")

  /** TPC-H Q9 (product type profit) adapted to the fixture: supply cost
    * (partsupp.ps_supplycost) becomes a retail-price-derived proxy
    * (10% of p_retailprice per unit), keeping the 5-table star join +
    * per-(nation, year) profit aggregation intact. The per-row profit
    * quantizes to a scaled long (floor(x·1e4+0.5) — pure double
    * arithmetic, bit-identical cross-engine) BEFORE the sum: the r11
    * sf1.0 gate proved CAST-to-DECIMAL is NOT order-proofing — Spark
    * casts via the double's shortest-string repr, DuckDB rounds the
    * binary value, a ~1e-10/row bias that summed visible at 3M-row
    * groups. Integer sums are exact at any order. */
  private val qSqlTpchQ9 = sqlQ(
    "q_sql_tpch_q9",
    Seq("part", "lineitem", "supplier", "orders", "nation"),
    """SELECT nation, o_year,
              CAST(sum(amount) AS DOUBLE) / 10000 AS sum_profit
       FROM (SELECT n_name AS nation,
                    CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
                    CAST(floor((l_extendedprice * (1 - l_discount)
                         - p_retailprice * 0.1 * l_quantity) * 10000 + 0.5)
                      AS BIGINT) AS amount
             FROM part
             JOIN lineitem ON p_partkey = l_partkey
             JOIN supplier ON s_suppkey = l_suppkey
             JOIN orders ON o_orderkey = l_orderkey
             JOIN nation ON s_nationkey = n_nationkey
             WHERE p_name LIKE '%gear%') profit
       GROUP BY nation, o_year
       ORDER BY nation, o_year DESC""")

  /** TPC-H Q11 (important stock identification) adapted to the fixture:
    * part "value" held by one nation's suppliers derives from shipped
    * revenue instead of partsupp stock value. The shape is the point of
    * the query: a CTE aggregated twice — per-part values filtered
    * against a 1-row GLOBAL-fraction scalar subquery (a subquery
    * broadcast, not a join). Both sides of the threshold compare derive
    * from the same exact DECIMAL sums with one double multiply each, so
    * the cut is deterministic cross-engine. */
  private val qSqlTpchQ11 = sqlQ(
    "q_sql_tpch_q11",
    Seq("lineitem", "supplier", "nation"),
    """WITH value_by_part AS (
         SELECT l_partkey, sum(CAST(l_extendedprice AS DECIMAL(30,10))) AS val
         FROM lineitem
         JOIN supplier ON l_suppkey = s_suppkey
         JOIN nation ON s_nationkey = n_nationkey
         WHERE n_name = 'NATION_1'
         GROUP BY l_partkey)
       SELECT l_partkey, floor(CAST(val AS DOUBLE) * 10000) / 10000 AS val
       FROM value_by_part
       WHERE CAST(val AS DOUBLE) > (SELECT CAST(sum(val) AS DOUBLE) * 0.0015
                                    FROM value_by_part)
       ORDER BY val DESC, l_partkey""")

  /** TPC-H Q16 (parts/supplier relationship) adapted to the fixture:
    * lineitem links suppliers to parts (no partsupp), and the
    * "customer complaints" supplier exclusion becomes a negative
    * account balance — kept as a CORRELATED NOT EXISTS (a plain anti
    * equi-join in both engines; a NOT IN would plan null-aware and risk
    * a BNLJ for nothing, the keys are non-null). count(DISTINCT
    * l_suppkey) expands to Spark's two-shuffle exact-distinct plan. */
  private val qSqlTpchQ16 = sqlQ(
    "q_sql_tpch_q16",
    Seq("lineitem", "part", "supplier"),
    """SELECT p_brand, p_type, p_size,
              CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
       FROM lineitem
       JOIN part ON p_partkey = l_partkey
       WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
         AND p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
         AND NOT EXISTS (SELECT 1 FROM supplier
                         WHERE s_suppkey = l_suppkey AND s_acctbal < 0)
       GROUP BY p_brand, p_type, p_size
       ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""")

  /** TPC-H Q20 (potential part promotion) adapted to the fixture: with
    * no partsupp.ps_availqty, "can supply" becomes "DOMINATED supply" —
    * suppliers who shipped more than half of a small-part's total 1996
    * volume. The nested-IN shape survives: the outer supplier filter
    * probes an aggregated-subquery IN-list built from a per-(supplier,
    * part) aggregate joined against the per-part window total (the
    * correlated-HAVING of the original, rewritten as the explicit
    * aggregate + equi-join Catalyst would produce). DECIMAL quantity
    * sums; the half-threshold compare is one double multiply per side. */
  private val qSqlTpchQ20 = sqlQ(
    "q_sql_tpch_q20",
    Seq("supplier", "lineitem", "part", "nation"),
    """SELECT s_suppkey, s_name
       FROM supplier
       JOIN nation ON s_nationkey = n_nationkey
       WHERE s_suppkey IN (
           SELECT sp.l_suppkey
           FROM (SELECT l_suppkey, l_partkey,
                        sum(CAST(l_quantity AS DECIMAL(30,10))) AS qty
                 FROM lineitem JOIN part ON p_partkey = l_partkey
                 WHERE p_type = 'SMALL'
                   AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                   AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
                 GROUP BY l_suppkey, l_partkey) sp
           JOIN (SELECT l_partkey AS pk,
                        sum(CAST(l_quantity AS DECIMAL(30,10))) AS total
                 FROM lineitem JOIN part ON p_partkey = l_partkey
                 WHERE p_type = 'SMALL'
                   AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
                   AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
                 GROUP BY l_partkey) pt ON sp.l_partkey = pt.pk
           WHERE CAST(qty AS DOUBLE) > 0.5 * CAST(total AS DOUBLE))
       ORDER BY s_suppkey""")

  val all: Seq[Q] = Seq(
    qScanProject, qFilterCandidates, qPickOldest, qPickYoungest, qTopK,
    qSortMulti, qProjectDerived, qJoinInner, qJoinBroadcast, qJoinLeft,
    qJoinSemi, qJoinAnti, qJoinRange, qAggPricing, qAggDistinct, qAggRollup,
    qAggCube, qGroupingSets, qApproxDistinct, qHllRollup, qQuantileRollup, qFreqRollup,
    qUnionAll, qIntersect, qExcept,
    qIntersectAll, qExceptAll, qSqlTpchQ1, qSqlTpchQ2, qSqlTpchQ3, qSqlTpchQ4,
    qSqlTpchQ5, qSqlTpchQ6,
    qSqlTpchQ7, qSqlTpchQ8, qSqlTpchQ9, qSqlTpchQ10, qSqlTpchQ11, qSqlTpchQ12,
    qSqlTpchQ13, qSqlTpchQ14,
    qSqlTpchQ15, qSqlTpchQ16, qSqlTpchQ17, qSqlTpchQ18, qSqlTpchQ19, qSqlTpchQ20,
    qSqlTpchQ21, qSqlTpchQ22)
}
