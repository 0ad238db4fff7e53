package graft.operators

/** DuckDB oracle SQL for `q_approx_distinct`, built programmatically.
  *
  * Spark's `approx_count_distinct` (HyperLogLog++, Heule et al.
  * EDBT'13) is an approximate ESTIMATOR but a DETERMINISTIC function of
  * the input set, so the whole computation replays in SQL:
  *
  *  - registers: hash = XXH64(seed 42) of the long's 8 LE bytes
  *    ([[XxhashSqlChain.emitLongHash]] — one word round + avalanche),
  *    idx = hash >>> (64−p), rho = nlz((hash << p) | 2^(p−1)) + 1 via
  *    an exact bit-length CASE chain; per-(group, idx) max — computed
  *    over DISTINCT (group, value), which leaves every register
  *    identical to Spark's all-rows pass;
  *  - zInverse = V + Σ 0.5^M over occupied registers — every term an
  *    exact dyadic double, so the sum is exact (order-free) whenever
  *    the register spread stays under 53 bits, the same exactness
  *    envelope as Spark's own sequential register loop;
  *  - the estimator: E = αm²/zInverse, the K=6 sliding-window bias
  *    interpolation over Spark's own RAW_ESTIMATE_DATA/BIAS_DATA
  *    (read from `HyperLogLogPlusPlusHelper` AT EMISSION TIME — the
  *    emitted literals can never go stale against the running Spark),
  *    linear counting m·ln(m/V) with the THRESHOLDS(p−4) switch, and
  *    Math.round = floor(x + 0.5).
  *
  * The one transcendental (ln) and the double divisions are the entire
  * cross-engine surface; [[graft.HllOracleSpec]] pins the clean-room
  * transcription against the real helper (estimateBias sweep + full
  * aggregate comparison on value counts that exercise the bias path
  * the fixture's linear-counting regime never reaches). Validated by
  * `tools/gen_hll_sql.py` against Spark dumps at sf0.001/0.01/0.1.
  */
object HllOracleSql {
  import XxhashSqlChain.M64

  /** rsd mirrors q_approx_distinct's 0.02 → p = 12. */
  private val rsd = 0.02

  private def helperTables: (Int, Double, Int, Double, Array[Double], Array[Double]) = {
    val helper = new org.apache.spark.sql.catalyst.util.HyperLogLogPlusPlusHelper(rsd)
    val p = helper.getClass
      .getField("org$apache$spark$sql$catalyst$util$HyperLogLogPlusPlusHelper$$p")
      .getInt(helper)
    val af = helper.getClass.getDeclaredField("alphaM2")
    af.setAccessible(true)
    val alphaM2 = af.getDouble(helper)
    val H = org.apache.spark.sql.catalyst.util.HyperLogLogPlusPlusHelper
    (p, alphaM2, H.K, H.THRESHOLDS(p - 4),
      H.RAW_ESTIMATE_DATA(p - 4), H.BIAS_DATA(p - 4))
  }

  private def dbl(d: Double): String = java.lang.Double.toString(d)

  /** The full estimator pipeline over a caller-supplied `vals` CTE body
    * (columns g, w — group key + the value as a non-negative HUGEINT)
    * and final projection: shared by the q_approx_distinct oracle and
    * the q_hll_rollup register-rollup oracle (same p=12 geometry, same
    * register transcription, same bias-corrected query). */
  private def emitFor(valsBody: String, finalSel: String): String = {
    val (p, alphaM2, k, threshold, raw, bias) = helperTables
    val m = 1 << p
    // Spark's xxhash64 of the long (signed), back to unsigned HUGEINT
    val (ctes, signed, last) = XxhashSqlChain.emitLongHash(finalCarry = "g", src = "vals")
    val fin = s"(CASE WHEN $signed < 0 THEN $signed::HUGEINT + $M64 ELSE $signed::HUGEINT END)"
    val blen = (63 to (p - 1) by -1)
      .map(b => s"WHEN w2 >= ${BigInt(1) << b}::HUGEINT THEN ${b + 1}")
      .mkString(" ")
    val rawSql = raw.zipWithIndex.map { case (v, i) => s"($i, ${dbl(v)}::DOUBLE)" }.mkString(", ")
    val biasSql = bias.zipWithIndex.map { case (v, i) => s"($i, ${dbl(v)}::DOUBLE)" }.mkString(", ")
    val nRaw = raw.length

    s"""WITH
vals AS ($valsBody),
$ctes,
reg AS (SELECT g,
          ($fin) // ${BigInt(1) << (64 - p)}::HUGEINT AS idx,
          (($fin) * ${BigInt(1) << p}::HUGEINT) % $M64 + ${BigInt(1) << (p - 1)}::HUGEINT AS w2
        FROM $last),
rho AS (SELECT g, idx, 65 - (CASE $blen END) AS r FROM reg),
regs AS (SELECT g, idx, max(r) AS mr FROM rho GROUP BY g, idx),
znum AS (SELECT g, ($m - count(*)) AS v,
           ($m - count(*))::DOUBLE + sum(power(0.5, mr)) AS zinv
         FROM regs GROUP BY g),
est AS (SELECT g, v, ${dbl(alphaM2)} / zinv AS e FROM znum),
rawt(i, re) AS (VALUES $rawSql),
biast(i, bv) AS (VALUES $biasSql),
i0 AS (SELECT g, v, e, (SELECT count(*) FROM rawt WHERE re < e) AS ins FROM est),
lo0 AS (SELECT g, v, e, greatest(ins - $k + 1, 0) AS lo0,
          least(greatest(ins - $k + 1, 0) + $k, $nRaw) AS hi0 FROM i0),
shifts AS (SELECT l.g, s.s,
             CASE WHEN l.hi0 + s.s >= $nRaw THEN false
                  ELSE (SELECT (l.e - re) * (l.e - re) FROM rawt WHERE i = l.hi0 + s.s)
                     < (SELECT (l.e - re) * (l.e - re) FROM rawt WHERE i = l.lo0 + s.s)
             END AS improves
           FROM lo0 l CROSS JOIN (SELECT unnest(range(0, ${nRaw + 1})) AS s) s),
stop AS (SELECT g, min(s) AS s FROM shifts WHERE NOT improves GROUP BY g),
win AS (SELECT l.g, l.v, l.e, l.lo0 + st.s AS lo, l.hi0 + st.s AS hi
        FROM lo0 l JOIN stop st USING (g)),
eb AS (SELECT w.g, w.v, w.e,
         CASE WHEN w.e < ${dbl(5.0 * m)}
              THEN w.e - (SELECT sum(bv) FROM biast WHERE i >= w.lo AND i < w.hi) / (w.hi - w.lo)
              ELSE w.e END AS ebias
       FROM win w),
-- linear counting holds when H clears the threshold OR the raw estimate
-- is still in the small range (E <= 2.5m) — Spark's second disjunct
res AS (SELECT g,
          CASE WHEN v > 0 AND ($m::DOUBLE * ln($m::DOUBLE / v) <= ${dbl(threshold)}
                               OR e <= ${dbl(2.5 * m)})
               THEN $m::DOUBLE * ln($m::DOUBLE / v)
               ELSE ebias END AS x
        FROM eb)
$finalSel"""
  }

  /** q_approx_distinct: per-event_type approx_count_distinct(user_id,
    * 0.02). */
  lazy val sql: String = emitFor(
    s"""SELECT event_type AS g,
           ((CAST(user_id AS HUGEINT) % $M64) + $M64) % $M64 AS w
         FROM (SELECT DISTINCT event_type, user_id FROM events
               WHERE user_id IS NOT NULL)""",
    """SELECT g AS event_type, CAST(floor(x + 0.5) AS BIGINT) AS approx_users
FROM res ORDER BY event_type""")

  /** q_hll_rollup: per-day register sketches
    * ([[graft.functions.HllSketchAgg]] — Spark's own HLL++ registers)
    * plus the union-merged total. The merged row's registers are the
    * element-wise max over the day sketches — which equals running the
    * same register pass over every (user) row — so the oracle computes
    * it as one extra sentinel group through the IDENTICAL estimator
    * chain. The sentinel sits OUTSIDE the representable day range:
    * floorDiv(any bigint epoch-ms, 86400000) is within ±2⁶³/86400000 ≈
    * ±1.07e14, so −2⁶² can never collide with a legitimate day_idx
    * (g = −1 would — events in the day before the epoch). Day key: the
    * floorDiv epoch-day the Spark side computes from ts_ms. */
  lazy val rollupSql: String = emitFor(
    s"""SELECT g, ((CAST(user_id AS HUGEINT) % $M64) + $M64) % $M64 AS w
         FROM (SELECT DISTINCT
                 epoch_ms(ts) // 86400000
                   - CASE WHEN epoch_ms(ts) % 86400000 < 0 THEN 1 ELSE 0 END AS g,
                 user_id
               FROM events WHERE user_id IS NOT NULL
               UNION ALL
               SELECT DISTINCT -4611686018427387904 AS g, user_id
               FROM events WHERE user_id IS NOT NULL)""",
    """SELECT CAST(CASE WHEN g = -4611686018427387904 THEN NULL ELSE g END AS BIGINT) AS day_idx,
       CAST(floor(x + 0.5) AS BIGINT) AS est_users
FROM res ORDER BY day_idx NULLS FIRST""")
}
