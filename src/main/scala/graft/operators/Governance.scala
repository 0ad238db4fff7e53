package graft.operators

import graft.{Q, Tables}
import graft.api.{Cdc, Drift, Privacy}
import org.apache.spark.sql.functions._

/** Corpus-governance operators (north-star extension, absent in
  * reference): distribution-drift tests between corpus slices
  * ([[graft.api.Drift]]) and changelog merge ([[graft.api.Cdc]]) — the
  * operations that keep a living 100 TB training corpus trustworthy:
  * "did the new crawl shift the distribution?" and "apply the upstream
  * delete/update feed without a full rewrite".
  */
object Governance {

  /** Exact two-sample KS distance between the click and purchase value
    * distributions. Counts stay longs until the final per-value
    * division, so the statistic is bit-comparable against the oracle's
    * global-window formulation — the Spark side computes the SAME
    * number with a bucket-partitioned distributed prefix scan (no
    * single-partition window; see [[graft.api.Drift.ks]]). */
  private val qDriftKs = Q(
    "q_drift_ks",
    (s, dir) =>
      Drift.ks(Tables.events(s, dir), "value", "event_type",
          labelA = "click", labelB = "purchase")
        .select(round(col("ks"), 4).as("ks"), col("n_a"), col("n_b")),
    Some(s"""WITH ${OracleSql.driftCounts},
                 cum AS (SELECT sum(ca) OVER (ORDER BY x) AS cum_a,
                                sum(cb) OVER (ORDER BY x) AS cum_b FROM c),
                 t AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM c)
            SELECT round(max(abs(cum_a * 1.0 / t.na - cum_b * 1.0 / t.nb)), 4) AS ks,
                   CAST(max(t.na) AS BIGINT) AS n_a,
                   CAST(max(t.nb) AS BIGINT) AS n_b
            FROM cum, t""")
  )

  /** 1-D earth-mover's distance (Wasserstein-1) between the click and
    * purchase value distributions — KS's magnitude companion: how much
    * probability mass must move, in value units. The Spark side rides
    * the bucketed ECDF scan (no global window) with the next-value gap
    * stitched across bucket boundaries via the bucket-minima broadcast;
    * the oracle states the same integral with one global window. The
    * many-term double sum accumulates in DECIMAL(30,10), floored 4dp
    * (invariant 1). */
  private val qDriftEmd = Q(
    "q_drift_emd",
    (s, dir) =>
      Drift.emd(Tables.events(s, dir), "value", "event_type",
        labelA = "click", labelB = "purchase"),
    Some(s"""WITH ${OracleSql.driftCounts},
                 cum AS (SELECT x,
                           sum(ca) OVER (ORDER BY x) AS cum_a,
                           sum(cb) OVER (ORDER BY x) AS cum_b,
                           lead(x) OVER (ORDER BY x) AS nx FROM c),
                 t AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM c),
                 tm AS (SELECT CAST(abs(cum_a * 1.0 / t.na - cum_b * 1.0 / t.nb)
                                    * (nx - x) AS DECIMAL(30,10)) AS term,
                               t.na, t.nb
                        FROM cum, t WHERE nx IS NOT NULL)
            SELECT floor(CAST(sum(term) AS DOUBLE) * 1e4) / 1e4 AS emd,
                   CAST(max(na) AS BIGINT) AS n_a,
                   CAST(max(nb) AS BIGINT) AS n_b
            FROM tm""")
  )

  /** PSI of every event_type's value distribution against the 'view'
    * reference slice, over 10 exact reference-decile bins with α = 0.5
    * smoothing (formula mirrored verbatim in the oracle; cut parity
    * with `quantile_cont` is the q_bin_quantile precedent). The 10-term
    * per-group sum rounds at 4dp (invariant 1 small-sum case). */
  private val qDriftPsi = Q(
    "q_drift_psi",
    (s, dir) =>
      Drift.psi(Tables.events(s, dir), "value", "event_type",
          refGroup = "view", nBins = 10, alpha = 0.5)
        .select(col("g"), round(col("psi"), 4).as("psi"), col("n"))
        .orderBy("g"),
    Some("""WITH v AS (SELECT event_type AS g, value AS x FROM events
                       WHERE value IS NOT NULL AND event_type IS NOT NULL),
                 c AS (SELECT quantile_cont(x, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cuts
                       FROM v WHERE g = 'view'),
                 b AS (SELECT g, 1 + len(list_filter(c.cuts, e -> v.x > e)) AS bucket FROM v, c),
                 cell AS (SELECT g, bucket, count(*) AS cnt FROM b GROUP BY g, bucket),
                 n AS (SELECT g, sum(cnt) AS n FROM cell GROUP BY g),
                 spine AS (SELECT n.g, n.n, unnest(generate_series(1, 10)) AS bucket FROM n),
                 f AS (SELECT s.g, s.bucket, s.n, coalesce(cell.cnt, 0) AS cnt
                       FROM spine s LEFT JOIN cell ON s.g = cell.g AND s.bucket = cell.bucket),
                 ref AS (SELECT bucket, cnt AS rcnt, n AS rn FROM f WHERE g = 'view')
            SELECT f.g,
                   round(sum(((f.cnt + 0.5) / (f.n + 5.0) - (r.rcnt + 0.5) / (r.rn + 5.0))
                         * ln(((f.cnt + 0.5) / (f.n + 5.0)) / ((r.rcnt + 0.5) / (r.rn + 5.0)))), 4) AS psi,
                   CAST(max(f.n) AS BIGINT) AS n
            FROM f JOIN ref r USING (bucket) WHERE f.g <> 'view'
            GROUP BY f.g ORDER BY f.g""")
  )

  /** Pearson χ² independence of documents' lang × source contingency
    * table — "is language mix homogeneous across sources?". Margins and
    * observed counts stay longs until the expected-count division; the
    * R×C spine cross is GROUP-cardinality (invariant-3 exemption),
    * corpus-size-independent. */
  private val qDriftChi2 = Q(
    "q_drift_chi2",
    (s, dir) =>
      Drift.chiSquare(Tables.documents(s, dir), "lang", "source")
        .select(round(col("chi2"), 4).as("chi2"), col("dof"), col("n")),
    Some("""WITH cells AS (SELECT lang AS r, source AS c, count(*) AS o
                           FROM documents GROUP BY 1, 2),
                 rm AS (SELECT r, sum(o) AS nr FROM cells GROUP BY r),
                 cm AS (SELECT c, sum(o) AS nc FROM cells GROUP BY c),
                 t AS (SELECT sum(o) AS n FROM cells),
                 sp AS (SELECT rm.r, cm.c, rm.nr, cm.nc, t.n FROM rm, cm, t),
                 j AS (SELECT sp.r, sp.c, sp.n,
                              sp.nr * 1.0 * sp.nc / sp.n AS e,
                              coalesce(cells.o, 0) * 1.0 AS o
                       FROM sp LEFT JOIN cells ON sp.r = cells.r AND sp.c = cells.c)
            SELECT round(sum((o - e) * (o - e) / e), 4) AS chi2,
                   CAST((count(DISTINCT r) - 1) * (count(DISTINCT c) - 1) AS BIGINT) AS dof,
                   CAST(max(n) AS BIGINT) AS n
            FROM j""")
  )

  /** CDC merge: the customer snapshot (keyed c_custkey, payload
    * c_acctbal) updated by the events changelog (key = user_id + 1450 so
    * the feed spans updates of existing keys AND inserts past the
    * snapshot's key range; last writer by (ts, event_id); event_type
    * 'error' = delete). Values pass through UNROUNDED — every output
    * double is bit-identical to a fixture value, never derived. */
  private val qCdcApply = Q(
    "q_cdc_apply",
    (s, dir) => {
      val base = Tables.customer(s, dir)
        .select(col("c_custkey").as("key"), col("c_acctbal").as("value"))
      val changes = Tables.events(s, dir)
        .select((col("user_id") + 1450L).as("key"), col("ts"),
          col("event_id"), col("event_type"), col("value"))
      Cdc.applyChanges(base, changes, "key", Seq("ts", "event_id"),
          opCol = "event_type", deleteOp = "error", payloadCols = Seq("value"))
        .select(col("key"), col("value"), col("cdc_action"))
        .orderBy("key")
    },
    Some("""WITH ch AS (SELECT user_id + 1450 AS key, value, event_type,
                          row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
                        FROM events),
                 w AS (SELECT key, value, event_type FROM ch WHERE rn = 1),
                 b AS (SELECT c_custkey AS key, c_acctbal AS value FROM customer),
                 m AS (SELECT coalesce(b.key, w.key) AS key,
                              CASE WHEN w.key IS NULL THEN 'kept'
                                   WHEN w.event_type = 'error' THEN 'deleted'
                                   WHEN b.key IS NULL THEN 'inserted'
                                   ELSE 'updated' END AS cdc_action,
                              CASE WHEN w.key IS NOT NULL THEN w.value
                                   ELSE b.value END AS value
                       FROM b FULL OUTER JOIN w ON b.key = w.key)
            SELECT CAST(key AS BIGINT) AS key, value, cdc_action
            FROM m WHERE cdc_action <> 'deleted' ORDER BY key""")
  )

  /** SCD Type-2 history build over the events changelog (key = user_id,
    * order = (ts_ms, event_id), 'error' = delete): every upsert opens a
    * validity interval closed by the key's next change; deletes close
    * their predecessor and emit nothing; `valid_to_ms` null = current.
    * Values pass through UNROUNDED (fixture doubles, never derived) —
    * the q_cdc_apply discipline. */
  private val qScd2 = Q(
    "q_scd2",
    (s, dir) => {
      val changes = Tables.events(s, dir).select(
        col("user_id").as("key"), col("event_id"), col("ts_ms"),
        col("event_type"), col("value"))
      Cdc.scd2History(changes, "key", "ts_ms", Seq("event_id"),
          opCol = "event_type", deleteOp = "error", payloadCols = Seq("value"))
        .orderBy(asc_nulls_first("key"), asc_nulls_first("valid_from_ms"),
          asc_nulls_first("event_id"))
    },
    Some("""WITH ch AS (SELECT user_id AS key, event_id, epoch_ms(ts) AS ts_ms,
                          event_type, value
                        FROM events),
                 v AS (SELECT key, event_id, ts_ms AS valid_from_ms,
                              lead(ts_ms) OVER (PARTITION BY key
                                ORDER BY ts_ms, event_id) AS valid_to_ms,
                              event_type, value
                       FROM ch)
            SELECT CAST(key AS BIGINT) AS key,
                   CAST(event_id AS BIGINT) AS event_id,
                   CAST(valid_from_ms AS BIGINT) AS valid_from_ms,
                   CAST(valid_to_ms AS BIGINT) AS valid_to_ms,
                   value,
                   CAST(valid_to_ms IS NULL AS BIGINT) AS is_current
            FROM v WHERE event_type <> 'error'
            ORDER BY key NULLS FIRST, valid_from_ms NULLS FIRST,
                     event_id NULLS FIRST""")
  )

  /** k-anonymity class profile of documents under the quasi-identifier
    * (lang, source, 100-char length bucket), k = 10: one row per
    * equivalence class, flagged when the class is small enough to
    * re-identify its members. One hash aggregation
    * ([[graft.api.Privacy.kAnonymity]]). */
  private val qKAnonymity = Q(
    "q_k_anonymity",
    (s, dir) =>
      Privacy.kAnonymity(
          Tables.documents(s, dir).withColumn("len_bucket", expr("n_chars div 100")),
          Seq(col("lang"), col("source"), col("len_bucket")), k = 10)
        .orderBy(asc_nulls_first("lang"), asc_nulls_first("source"),
          asc_nulls_first("len_bucket")),
    Some("""SELECT lang, source, n_chars // 100 AS len_bucket,
                   CAST(count(*) AS BIGINT) AS class_size,
                   CAST(count(*) < 10 AS BIGINT) AS at_risk
            FROM documents GROUP BY 1, 2, 3
            ORDER BY lang NULLS FIRST, source NULLS FIRST,
                     len_bucket NULLS FIRST""")
  )

  /** Distinct l-diversity of documents' `source` (the sensitive
    * attribute) within (lang, length-bucket) quasi-classes, l = 3: a
    * class whose members nearly all share one source leaks it even when
    * k-anonymous ([[graft.api.Privacy.lDiversity]]). */
  private val qLDiversity = Q(
    "q_l_diversity",
    (s, dir) =>
      Privacy.lDiversity(
          Tables.documents(s, dir).withColumn("len_bucket", expr("n_chars div 100")),
          Seq(col("lang"), col("len_bucket")), col("source"), l = 3)
        .orderBy(asc_nulls_first("lang"), asc_nulls_first("len_bucket")),
    Some("""SELECT lang, n_chars // 100 AS len_bucket,
                   CAST(count(*) AS BIGINT) AS class_size,
                   CAST(count(DISTINCT source) AS BIGINT) AS n_sensitive,
                   CAST(count(DISTINCT source) < 3 AS BIGINT) AS at_risk
            FROM documents GROUP BY 1, 2
            ORDER BY lang NULLS FIRST, len_bucket NULLS FIRST""")
  )

  /** t-closeness audit of documents' `source` (the sensitive attribute)
    * within (lang, 100-char length bucket) quasi-classes, t = 0.15:
    * variational distance between each class's source mix and the
    * corpus-wide one — the leak k-anonymity and l-diversity both miss
    * (a large, diverse class whose mix is still far from background).
    * One cell-count aggregation + margin-cardinality contingency spine
    * (the q_drift_chi2 exemption class); the summed term is exact
    * DECIMAL(38,0) integer arithmetic, one final division
    * ([[graft.api.Privacy.tCloseness]]). */
  private val qTCloseness = Q(
    "q_t_closeness",
    (s, dir) =>
      Privacy.tCloseness(
          Tables.documents(s, dir).withColumn("len_bucket", expr("n_chars div 100")),
          Seq("lang", "len_bucket"), "source", t = 0.15)
        .orderBy(asc_nulls_first("lang"), asc_nulls_first("len_bucket")),
    Some("""WITH cells AS (SELECT lang, n_chars // 100 AS len_bucket, source,
                                  count(*) AS cc
                           FROM documents GROUP BY 1, 2, 3),
                 cls AS (SELECT lang, len_bucket, sum(cc) AS class_size
                         FROM cells GROUP BY 1, 2),
                 g AS (SELECT source, sum(cc) AS gc FROM cells GROUP BY 1),
                 tot AS (SELECT sum(cc) AS n FROM cells),
                 j AS (SELECT c.lang, c.len_bucket, c.class_size, t.n,
                              abs(CAST(coalesce(x.cc, 0) AS HUGEINT) * t.n
                                  - CAST(g.gc AS HUGEINT) * c.class_size) AS term
                       FROM cls c CROSS JOIN g CROSS JOIN tot t
                       LEFT JOIN cells x
                         ON x.lang IS NOT DISTINCT FROM c.lang
                        AND x.len_bucket IS NOT DISTINCT FROM c.len_bucket
                        AND x.source = g.source),
                 r AS (SELECT lang, len_bucket, class_size,
                              round(CAST(sum(term) AS DOUBLE)
                                    / (2.0 * class_size * n), 4) AS t_dist
                       FROM j GROUP BY lang, len_bucket, class_size, n)
            SELECT lang, CAST(len_bucket AS BIGINT) AS len_bucket,
                   CAST(class_size AS BIGINT) AS class_size, t_dist,
                   CAST(t_dist > 0.15 AS BIGINT) AS at_risk
            FROM r
            ORDER BY lang NULLS FIRST, len_bucket NULLS FIRST""")
  )

  /** Differentially-private event counts by type (ε = 1, sensitivity-1
    * counts, Laplace b = 1): the noise is DETERMINISTIC — drawn through
    * the inverse CDF from a uniform derived from
    * `md5(event_type:seed)`'s first 8 hex digits — so the release is
    * reproducible and the oracle replays the identical mechanism
    * (md5, positional hex arithmetic, one ln) in DuckDB. Noise is
    * computed on the GROUP frame (5 rows), never per event
    * ([[graft.api.Privacy.dpCounts]]). */
  private val qDpCounts = Q(
    "q_dp_counts",
    (s, dir) =>
      Privacy.dpCounts(Tables.events(s, dir), Seq("event_type"),
          epsilon = 1.0, seed = "graft-dp-1")
        .orderBy(asc_nulls_first("event_type")),
    Some(s"""WITH g AS (SELECT event_type, count(*) AS n FROM events GROUP BY 1),
                 h AS (SELECT event_type, n,
                              md5(concat(event_type, ':', 'graft-dp-1')) AS hh
                       FROM g),
                 v AS (SELECT event_type, n,
                              ${OracleSql.md5Nibbles8}
                              AS vv
                       FROM h),
                 u AS (SELECT event_type, n,
                              (CAST(vv AS DOUBLE) + 0.5) / 4294967296.0 AS uu
                       FROM v)
            SELECT event_type, CAST(n AS BIGINT) AS n,
                   floor((n + (CASE WHEN uu - 0.5 < 0 THEN 1.0 ELSE -1.0 END)
                              * ln(1.0 - 2.0 * abs(uu - 0.5))) * 10000) / 10000
                     AS noisy_n
            FROM u ORDER BY event_type NULLS FIRST""")
  )

  /** Mutual information between `lang` and `source`
    * ([[graft.api.Profiler.mutualInfo]]): MI, marginal entropies, and
    * normalized MI in one row — the feature-dependence audit ("does
    * source predict language?") behind feature selection, leakage
    * checks, and stratification design. The corpus collapses to its
    * R×C cell frame first (the chi² contingency shape); each ln is of
    * an exact DECIMAL(38,0)-integer ratio, quantized DECIMAL(30,10)
    * before the order-proof sums; the statistics are fixed double
    * expressions floor-4dp. */
  private val qMutualInfo = Q(
    "q_mutual_info",
    (s, dir) =>
      graft.api.Profiler.mutualInfo(Tables.documents(s, dir), "lang", "source"),
    Some("""WITH cells AS (SELECT lang AS a, source AS b, count(*) AS c
                           FROM documents
                           WHERE lang IS NOT NULL AND source IS NOT NULL
                           GROUP BY 1, 2),
                 ra AS (SELECT a, sum(c) AS r FROM cells GROUP BY 1),
                 cb AS (SELECT b, sum(c) AS s FROM cells GROUP BY 1),
                 tot AS (SELECT sum(c) AS n FROM cells),
                 mi AS (SELECT sum(CAST(CAST(c AS DOUBLE)
                            * ln(CAST(CAST(c AS HUGEINT) * n AS DOUBLE)
                                 / CAST(CAST(r AS HUGEINT) * s AS DOUBLE))
                            AS DECIMAL(30,10))) AS mi_sum
                        FROM cells JOIN ra USING (a) JOIN cb USING (b)
                        CROSS JOIN tot),
                 ha AS (SELECT sum(CAST(CAST(r AS DOUBLE) * ln(CAST(r AS DOUBLE))
                                        AS DECIMAL(30,10))) AS ha_sum FROM ra),
                 hb AS (SELECT sum(CAST(CAST(s AS DOUBLE) * ln(CAST(s AS DOUBLE))
                                        AS DECIMAL(30,10))) AS hb_sum FROM cb),
                 f AS (SELECT n, floor(CAST(mi_sum AS DOUBLE) / n * 10000) AS fmi,
                              ln(CAST(n AS DOUBLE)) - CAST(ha_sum AS DOUBLE) / n AS hha,
                              ln(CAST(n AS DOUBLE)) - CAST(hb_sum AS DOUBLE) / n AS hhb
                       FROM tot CROSS JOIN mi CROSS JOIN ha CROSS JOIN hb)
            SELECT CAST(n AS BIGINT) AS n, fmi / 10000 AS mi,
                   floor(hha * 10000) / 10000 AS h_a,
                   floor(hhb * 10000) / 10000 AS h_b,
                   CASE WHEN hha > 0 AND hhb > 0
                        THEN floor(fmi / 10000 / sqrt(hha * hhb) * 10000) / 10000
                        ELSE 0.0 END AS nmi
            FROM f""")
  )

  /** Benford first-digit audit of `l_extendedprice` — the classic
    * fabricated-numbers screen: observed first-significant-digit
    * frequencies against Benford's log₁₀(1+1/d) expectation, with each
    * digit's χ² contribution. The digit is extracted EXACTLY — prices
    * have two decimals, so `round(x·100)` is an exact integer and its
    * first string character is the first significant digit (no
    * float log10 near-boundary risk). One hash aggregation to 9 rows;
    * the total crosses back as a 1-row broadcast (the documented
    * corpus-constant pattern). Doubles derive from exact counts and the
    * fixed-constant expectation through expressions both engines
    * replay, floor-truncated 4dp. Ulp-safety: obs_freq is ONE correctly
    * rounded division of exact integers (bit-identical on any IEEE
    * engine), benford_freq's constants sit nowhere near a 1e-4 boundary
    * — and chi2_term is computed FROM those two already-truncated
    * values, so both engines floor identical inputs and a 1-ulp log10
    * divergence can never reach the final truncation (the r8 ADVICE
    * latent-flake fix: the raw-log10 form multiplied an engine-specific
    * ulp by the data-dependent n_total). */
  private val qBenford = Q(
    "q_benford",
    (s, dir) => {
      val counts = Tables.lineitem(s, dir)
        .select(substring(expr("cast(round(l_extendedprice * 100) as bigint)")
          .cast("string"), 1, 1).cast("bigint").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("cnt"))
      val total = counts.agg(sum("cnt").as("n_total"))
      val exp = expr("log10(1.0 + 1.0 / cast(digit as double))")
      counts.crossJoin(broadcast(total))
        .withColumn("obs_freq",
          floor(col("cnt").cast("double") / col("n_total").cast("double")
            * 10000) / 10000)
        .withColumn("benford_freq", floor(exp * 10000) / 10000)
        // chi2 from the PRE-TRUNCATED frequencies: both engines see
        // identical quantized inputs, so the final floor cannot flake
        .withColumn("chi2_term",
          floor((col("obs_freq") - col("benford_freq"))
            * (col("obs_freq") - col("benford_freq")) / col("benford_freq")
            * col("n_total").cast("double") * 10000) / 10000)
        .select("digit", "cnt", "n_total", "obs_freq", "benford_freq", "chi2_term")
        .orderBy(asc_nulls_first("digit"))
    },
    Some("""WITH d AS (SELECT substr(CAST(CAST(round(l_extendedprice * 100) AS BIGINT)
                                     AS VARCHAR), 1, 1) AS ds
                       FROM lineitem),
                 c AS (SELECT CAST(ds AS BIGINT) AS digit, count(*) AS cnt
                       FROM d GROUP BY 1),
                 t AS (SELECT sum(cnt) AS n_total FROM c),
                 f AS (SELECT digit, CAST(cnt AS BIGINT) AS cnt,
                              CAST(n_total AS BIGINT) AS n_total,
                              floor(CAST(cnt AS DOUBLE) / CAST(n_total AS DOUBLE)
                                    * 10000) / 10000 AS obs_freq,
                              floor(log10(1.0 + 1.0 / CAST(digit AS DOUBLE))
                                    * 10000) / 10000 AS benford_freq
                       FROM c, t)
            SELECT digit, cnt, n_total, obs_freq, benford_freq,
                   floor((obs_freq - benford_freq) * (obs_freq - benford_freq)
                         / benford_freq
                         * CAST(n_total AS DOUBLE) * 10000) / 10000 AS chi2_term
            FROM f
            ORDER BY digit NULLS FIRST""")
  )

  /** Per-source Gini + top-decile share of document lengths — the
    * inequality audit that decides whether a corpus slice needs length
    * capping before training (a source whose token mass sits in a few
    * giant documents trains very differently from its doc count's
    * suggestion). Rank-formula Gini over exact DECIMAL(38,0) integer
    * moments; see [[graft.api.Profiler.gini]]. */
  private val qGini = Q(
    "q_gini",
    (s, dir) =>
      graft.api.Profiler.gini(Tables.documents(s, dir),
          groupCol = "source", valueCol = "n_chars", idCol = "doc_id")
        .orderBy(asc_nulls_first("g")),
    Some("""WITH ranked AS (
              SELECT source AS g, CAST(n_chars AS HUGEINT) AS x,
                     CAST(row_number() OVER (PARTITION BY source
                                             ORDER BY n_chars, doc_id) AS HUGEINT) AS rn,
                     count(*) OVER (PARTITION BY source) AS n
              FROM documents WHERE n_chars IS NOT NULL AND n_chars >= 0),
            m AS (SELECT g, max(n) AS n_rows, sum(x) AS sx, sum(rn * x) AS srx,
                         sum(CASE WHEN rn > n - ceil(n / 10.0) THEN x ELSE 0 END) AS stop
                  FROM ranked GROUP BY g)
            SELECT g, CAST(n_rows AS BIGINT) AS n_rows, CAST(sx AS BIGINT) AS total,
                   CASE WHEN sx > 0
                        THEN floor((2.0 * CAST(srx AS DOUBLE)
                                    / (CAST(n_rows AS DOUBLE) * CAST(sx AS DOUBLE))
                                    - (CAST(n_rows AS DOUBLE) + 1.0)
                                      / CAST(n_rows AS DOUBLE)) * 10000) / 10000
                        ELSE 0.0 END AS gini,
                   CASE WHEN sx > 0
                        THEN floor(CAST(stop AS DOUBLE) / CAST(sx AS DOUBLE)
                                   * 10000) / 10000
                        ELSE 0.0 END AS top_share
            FROM m ORDER BY g NULLS FIRST""")
  )

  /** Activity inequality across USERS: [[graft.api.Profiler.gini]]
    * applied a second domain over — per event_type, the Gini and
    * top-decile share of each user's event count ("do 10% of users
    * generate 60% of the clicks?"). Demonstrates the profiling API is
    * measure-agnostic: same exact integer moments, same windows, a
    * different (group, value, id) binding. */
  private val qUserGini = Q(
    "q_user_gini",
    (s, dir) =>
      graft.api.Profiler.gini(
          Tables.events(s, dir)
            .filter(col("user_id").isNotNull && col("event_type").isNotNull)
            .groupBy("event_type", "user_id")
            .agg(count(lit(1)).as("n_ev")),
          groupCol = "event_type", valueCol = "n_ev", idCol = "user_id")
        .orderBy(asc_nulls_first("g")),
    Some("""WITH c AS (SELECT event_type AS g0, user_id, count(*) AS n_ev
                       FROM events
                       WHERE user_id IS NOT NULL AND event_type IS NOT NULL
                       GROUP BY 1, 2),
                 ranked AS (
              SELECT g0 AS g, CAST(n_ev AS HUGEINT) AS x,
                     CAST(row_number() OVER (PARTITION BY g0
                                             ORDER BY n_ev, user_id) AS HUGEINT) AS rn,
                     count(*) OVER (PARTITION BY g0) AS n
              FROM c),
            m AS (SELECT g, max(n) AS n_rows, sum(x) AS sx, sum(rn * x) AS srx,
                         sum(CASE WHEN rn > n - ceil(n / 10.0) THEN x ELSE 0 END) AS stop
                  FROM ranked GROUP BY g)
            SELECT g, CAST(n_rows AS BIGINT) AS n_rows, CAST(sx AS BIGINT) AS total,
                   CASE WHEN sx > 0
                        THEN floor((2.0 * CAST(srx AS DOUBLE)
                                    / (CAST(n_rows AS DOUBLE) * CAST(sx AS DOUBLE))
                                    - (CAST(n_rows AS DOUBLE) + 1.0)
                                      / CAST(n_rows AS DOUBLE)) * 10000) / 10000
                        ELSE 0.0 END AS gini,
                   CASE WHEN sx > 0
                        THEN floor(CAST(stop AS DOUBLE) / CAST(sx AS DOUBLE)
                                   * 10000) / 10000
                        ELSE 0.0 END AS top_share
            FROM m ORDER BY g NULLS FIRST""")
  )

  /** Mann–Whitney U rank-sum test between the click and purchase value
    * distributions — the nonparametric location-shift companion to
    * q_drift_ks's shape test ([[graft.api.Drift.mannWhitney]]). The
    * doubled statistic and tie correction stay exact integers through
    * the SAME distributed bucketed prefix scan KS uses; one fixed
    * double expression produces z. */
  private val qDriftMw = Q(
    "q_drift_mw",
    (s, dir) =>
      Drift.mannWhitney(Tables.events(s, dir), "value", "event_type",
          labelA = "click", labelB = "purchase"),
    Some(s"""WITH ${OracleSql.driftCounts},
                 cum AS (SELECT ca, cb, sum(cb) OVER (ORDER BY x) AS cumb FROM c),
                 m AS (SELECT sum(ca) AS na, sum(cb) AS nb,
                              sum(CAST(ca AS HUGEINT)
                                  * CAST(2 * cumb - cb AS HUGEINT)) AS u2,
                              sum(CAST(ca + cb AS HUGEINT)
                                  * CAST(ca + cb AS HUGEINT)
                                  * CAST(ca + cb AS HUGEINT)
                                  - CAST(ca + cb AS HUGEINT)) AS ties
                       FROM cum)
            SELECT CAST(u2 AS DOUBLE) / 2 AS u,
                   CASE WHEN 2.0 * sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0
                          * ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) + 1.0)
                             - CAST(ties AS DOUBLE)
                               / ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
                                  * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 1.0)))) > 0
                        THEN floor((CAST(u2 AS DOUBLE)
                                    - CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
                               / (2.0 * sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE) / 12.0
                                  * ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) + 1.0)
                                     - CAST(ties AS DOUBLE)
                                       / ((CAST(na AS DOUBLE) + CAST(nb AS DOUBLE))
                                          * (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE) - 1.0)))))
                               * 10000) / 10000
                        ELSE 0.0 END AS z,
                   CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b
            FROM m""")
  )

  /** Lorenz curve of token mass across documents per source
    * (graft.api.Profiler.lorenz): docs ranked ascending by n_chars, cut
    * into 10 equal-count bins, each bin's share and cumulative share of
    * the source's character total — the full concentration curve behind
    * q_gini's single coefficient (its last row IS q_gini's top_share
    * complement). Exact DECIMAL mass sums, pure-integer bin ids, one
    * double division per share, floor-4dp; plan is the q_gini shape
    * (group-partitioned rank window + (group, bin) aggregate + 10-row
    * per-group cumulative windows). */
  private val qLorenz = Q(
    "q_lorenz",
    (s, dir) =>
      graft.api.Profiler.lorenz(Tables.documents(s, dir),
          groupCol = "source", valueCol = "n_chars", idCol = "doc_id", bins = 10)
        .select(col("g").as("source"), col("bin"), col("n_rows"),
          col("bin_total"), col("bin_share"), col("cum_share"))
        .orderBy(asc_nulls_first("source"), asc("bin")),
    Some("""WITH d AS (SELECT source AS g, CAST(n_chars AS HUGEINT) AS x,
                         row_number() OVER (PARTITION BY source
                                            ORDER BY n_chars, doc_id) AS rn,
                         count(*) OVER (PARTITION BY source) AS n
                       FROM documents WHERE n_chars IS NOT NULL AND n_chars >= 0),
                 b AS (SELECT g, ((rn - 1) * 10) // n + 1 AS bin,
                         count(*) AS n_rows, sum(x) AS bx
                       FROM d GROUP BY 1, 2),
                 c AS (SELECT g, bin, n_rows, bx,
                         sum(bx) OVER (PARTITION BY g ORDER BY bin
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cx,
                         sum(bx) OVER (PARTITION BY g) AS tx
                       FROM b)
            SELECT g AS source, CAST(bin AS BIGINT) AS bin,
                   CAST(n_rows AS BIGINT) AS n_rows,
                   CAST(bx AS BIGINT) AS bin_total,
                   CASE WHEN tx > 0
                        THEN floor(CAST(bx AS DOUBLE) / CAST(tx AS DOUBLE) * 10000) / 10000
                        ELSE 0.0 END AS bin_share,
                   CASE WHEN tx > 0
                        THEN floor(CAST(cx AS DOUBLE) / CAST(tx AS DOUBLE) * 10000) / 10000
                        ELSE 0.0 END AS cum_share
            FROM c ORDER BY source NULLS FIRST, bin""")
  )

  /** Jensen–Shannon divergence between the train and eval token
    * distributions (the doc_id % 97 decontamination split) — TEXT drift
    * for the drift family (KS/PSI/χ²/MW cover numeric and categorical
    * columns; this covers the token stream itself): JS(P‖M) with
    * M = (P+Q)/2, plus the ln2-normalized [0,1] form. The eval split
    * should read ≈0 on an i.i.d. corpus; a rising value means the eval
    * slice's vocabulary is drifting from training.
    *
    * Exactness (the q_mutual_info discipline): each term's log argument
    * is an exact-integer ratio — 2·c_t·N_e / (c_t·N_e + c_e·N_t), both
    * products in DECIMAL(38,0)/HUGEINT, cast once to double — so one ln
    * per vocab row is the whole transcendental surface; terms quantize
    * DECIMAL(30,10) before the order-proof sums; the two statistics are
    * fixed expressions floor-4dp. Zero-count sides contribute exactly 0
    * (the 0·ln0 convention) via the guard.
    *
    * Scale: ONE tokenize scan collapses to the vocab-keyed (c_t, c_e)
    * frame (map-side-combining conditional sums); totals cross back as
    * the sanctioned 1-row broadcast; everything after is
    * vocab-cardinality. */
  private val qDriftJs = Q(
    "q_drift_js",
    (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select((col("doc_id") % 97 === 0).as("is_eval"),
          explode(split(col("text"), " ")).as("term"))
        .filter(length(col("term")) > 0)
      val counts = toks.groupBy("term").agg(
        sum(when(!col("is_eval"), 1L).otherwise(0L)).as("ct"),
        sum(when(col("is_eval"), 1L).otherwise(0L)).as("ce"))
      val totals = counts.agg(sum("ct").as("nt"), sum("ce").as("ne"),
        count(lit(1)).as("nv"))
      def half(cSelf: String, nSelf: String, cOther: String, nOther: String) =
        sum(when(col(cSelf) > 0,
          ((col(cSelf).cast("double") / col(nSelf).cast("double")) *
            log(lit(2.0) *
              (col(cSelf).cast("decimal(38,0)") * col(nOther)).cast("double") /
              (col(cSelf).cast("decimal(38,0)") * col(nOther) +
                col(cOther).cast("decimal(38,0)") * col(nSelf)).cast("double")))
            .cast("decimal(30,10)"))
          .otherwise(lit(0).cast("decimal(30,10)")))
      val m = counts.crossJoin(broadcast(totals))
        .agg(max("nt").as("nt"), max("ne").as("ne"), max("nv").as("nv"),
          half("ct", "nt", "ce", "ne").as("sa"),
          half("ce", "ne", "ct", "nt").as("sb"))
      val js = lit(0.5) * col("sa").cast("double") +
        lit(0.5) * col("sb").cast("double")
      m.select(col("nt").as("n_train_tokens"), col("ne").as("n_eval_tokens"),
        col("nv").as("n_vocab"),
        (floor(js * 10000) / 10000).as("js"),
        (floor(js / log(lit(2.0)) * 10000) / 10000).as("js_norm"))
    },
    Some("""WITH toks AS (SELECT doc_id % 97 = 0 AS is_eval,
                            unnest(string_split(text, ' ')) AS term
                          FROM documents),
                 tk AS (SELECT * FROM toks WHERE len(term) > 0),
                 c AS (SELECT term,
                         sum(CASE WHEN NOT is_eval THEN 1 ELSE 0 END) AS ct,
                         sum(CASE WHEN is_eval THEN 1 ELSE 0 END) AS ce
                       FROM tk GROUP BY term),
                 tot AS (SELECT sum(ct) AS nt, sum(ce) AS ne, count(*) AS nv FROM c),
                 m AS (SELECT max(nt) AS nt, max(ne) AS ne, max(nv) AS nv,
                         sum(CASE WHEN ct > 0
                             THEN CAST((CAST(ct AS DOUBLE) / CAST(nt AS DOUBLE))
                                  * ln(2.0 * CAST(CAST(ct AS HUGEINT) * ne AS DOUBLE)
                                       / CAST(CAST(ct AS HUGEINT) * ne
                                              + CAST(ce AS HUGEINT) * nt AS DOUBLE))
                                  AS DECIMAL(30,10))
                             ELSE CAST(0 AS DECIMAL(30,10)) END) AS sa,
                         sum(CASE WHEN ce > 0
                             THEN CAST((CAST(ce AS DOUBLE) / CAST(ne AS DOUBLE))
                                  * ln(2.0 * CAST(CAST(ce AS HUGEINT) * nt AS DOUBLE)
                                       / CAST(CAST(ce AS HUGEINT) * nt
                                              + CAST(ct AS HUGEINT) * ne AS DOUBLE))
                                  AS DECIMAL(30,10))
                             ELSE CAST(0 AS DECIMAL(30,10)) END) AS sb
                       FROM c, tot)
            SELECT CAST(nt AS BIGINT) AS n_train_tokens,
                   CAST(ne AS BIGINT) AS n_eval_tokens,
                   CAST(nv AS BIGINT) AS n_vocab,
                   floor((0.5 * CAST(sa AS DOUBLE) + 0.5 * CAST(sb AS DOUBLE)) * 10000) / 10000 AS js,
                   floor((0.5 * CAST(sa AS DOUBLE) + 0.5 * CAST(sb AS DOUBLE)) / ln(2.0) * 10000) / 10000 AS js_norm
            FROM m""")
  )

  val all: Seq[Q] = Seq(qDriftKs, qDriftEmd, qDriftPsi, qDriftChi2, qCdcApply,
    qScd2, qKAnonymity, qLDiversity, qTCloseness, qDpCounts, qMutualInfo,
    qBenford, qGini, qUserGini, qDriftMw, qLorenz, qDriftJs)
}
