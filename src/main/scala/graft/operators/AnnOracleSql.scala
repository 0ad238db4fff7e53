package graft.operators

/** DuckDB oracle SQL for the LSH ANN family — `q_ann_lsh`,
  * `q_ann_join`, `q_ann_pairs`, `q_embed_clusters_ann`,
  * `q_knn_eval_ann` — built programmatically.
  *
  * LSH-with-exact-verify is approximate in RECALL but a DETERMINISTIC
  * function of the input, so the whole pipeline replays:
  *
  *  - hyperplane signs: `planeSign(p, d)` is pure integer arithmetic
  *    (`((p·1000003 + d·7919 + 12345) · 2654435761) >> 17 & 1`) —
  *    transcribed directly; the per-plane dot is a sequential
  *    `list_sum` over `CAST(e[i] AS DOUBLE) · (±1.0)`, the same fold
  *    order as `vec_dot`/`HyperplaneKeys` (bit-equal — the exact-cosine
  *    oracles q_similarity_topk/q_embed_neardup already pin the
  *    list_sum ≡ sequential-Java-fold equivalence on this fixture);
  *  - the occupancy derivation replays in SQL from the same corpus
  *    count: w = clamp(ceil(log2(n/32)), 2, 16), bands from the banding
  *    curve at the query's operating threshold — `log1p(−targetRecall)`
  *    is emitted as the Java constant (DuckDB has no log1p) and
  *    `log1p(−p)` becomes `ln(1−p)` (ulp-level difference; it could
  *    flip a ceil only within ~1e−11 of an integer — validated across
  *    all three SFs where the derivations differ: w=4 vs 8);
  *  - packed band keys, hamming-1 XOR multi-probe, the 256-cap
  *    hot-bucket guard (HAVING count ≤ cap ≡ CappedSetAgg + size
  *    filter: kept buckets are exactly those within the cap), distinct
  *    candidates, exact-cosine re-rank / threshold — all relational;
  *  - clusters: the q_dedup_clusters recursive min-label reachability
  *    closure over the pair edges; knn: the majority-vote confusion
  *    matrix over the rank-≤5 neighbor frame.
  *
  * Validated by `tools/gen_ann_sql.py` against the Spark dumps at
  * sf0.001/0.01/0.1 (zero mismatches on all five queries at all three
  * SFs).
  */
object AnnOracleSql {

  /** planeSign(p, d) transcription — ±1.0. */
  private def sign(p: String, d: String): String =
    s"(CASE WHEN ((($p) * 1000003 + ($d) * 7919 + 12345) * 2654435761 // 131072) % 2 = 0 " +
      "THEN -1.0 ELSE 1.0 END)"

  import OracleSql.cos

  /** Java's Math.log1p(-0.8) — the banding-curve numerator constant. */
  private val Log1pNeg08 = java.lang.Double.toString(math.log1p(-0.8))

  /** q_ann_lsh: fixed params (nPlanes=16, bands=4, w=4, probe 0, k=10),
    * string band keys, single-probe + per-bit flips. */
  lazy val lshSql: String = {
    val w = 4; val bands = 4
    val dot = "list_sum(list_transform(range(0, 64), i -> " +
      s"CAST(e[i + 1] AS DOUBLE) * ${sign("p", "i")}))"
    def bits(flip: Boolean): String = (1 to w).map { r =>
      if (flip)
        s"|| ':' || (CASE WHEN f.fl = ${r - 1} THEN 1 - sg[b.b*$w+$r] ELSE sg[b.b*$w+$r] END)::VARCHAR"
      else s"|| ':' || sg[b.b*$w+$r]::VARCHAR"
    }.mkString(" ")
    s"""WITH
base AS (SELECT vec_id, embedding AS e FROM embeddings),
sig AS (SELECT vec_id, e,
          list_transform(range(0, ${w * bands}), p ->
            CASE WHEN $dot >= 0 THEN 1 ELSE 0 END) AS sg
        FROM base),
corpus AS (SELECT vec_id AS id, e, b.b::VARCHAR ${bits(flip = false)} AS band
           FROM sig CROSS JOIN (SELECT unnest(range(0, $bands)) AS b) b
           WHERE vec_id <> 0),
probe AS (SELECT s.e AS pe, b.b::VARCHAR ${bits(flip = true)} AS band
          FROM sig s CROSS JOIN (SELECT unnest(range(0, $bands)) AS b) b
          CROSS JOIN (SELECT unnest(range(-1, $w)) AS fl) f
          WHERE s.vec_id = 0),
cand AS (SELECT DISTINCT c.id, c.e, p.pe FROM corpus c JOIN probe p USING (band))
SELECT id AS vec_id, round(${cos("e", "pe")}, 4) AS sim
FROM cand ORDER BY sim DESC, id LIMIT 10"""
  }

  /** The shared annJoinAuto/annPairsAuto CTE chain up to the scored
    * candidate frame: derivation, packed keys, cap, multi-probe,
    * distinct candidates, exact cosine. CTE names carry prefix `p` so
    * the routed queries can co-host this chain with [[IvfOracleSql]]'s
    * (whose names it would otherwise collide with). `drv2` exposes the
    * UNCLAMPED banding-curve demand (`demanded`); with `routed = true`
    * the effective band count drops to ZERO when demanded > 64 — the
    * exact regime annJoinAuto routes to the IVF family — so the
    * untaken LSH branch costs nothing instead of replaying hundreds of
    * plane dots per vector. */
  private def chain(pairs: Boolean, simT: String, extraFilter: String, k: Int,
      p: String = "", routed: Boolean = false): String = {
    val dotP = "list_sum(list_transform(range(0, 64), i -> " +
      s"CAST(s.e[i + 1] AS DOUBLE) * ${sign("(b.b * d.w + r)", "i")}))"
    val candFilter = if (pairs) "p.pid < i.id" else "p.pid <> i.id"
    val labelSel = if (extraFilter.nonEmpty) ", label" else ""
    val bandsExpr =
      if (routed) "CASE WHEN demanded > 64 THEN 0 ELSE least(64, demanded) END"
      else "least(64, demanded)"
    s"""${p}base AS (SELECT vec_id, embedding AS e$labelSel FROM embeddings
         WHERE embedding IS NOT NULL AND len(embedding) > 0$extraFilter),
${p}drv AS (SELECT least(16, greatest(2,
            CAST(ceil(ln(greatest(1.0, count(*) / 32.0)) / ln(2.0)) AS INT))) AS w,
          count(*) AS n FROM ${p}base),
${p}drv2 AS (SELECT w, n, demanded, $bandsExpr AS bands, 256 AS cap
         FROM (SELECT w, n, greatest(1, CAST(ceil($Log1pNeg08 /
                 ln(1.0 - power(1.0 - acos($simT) / pi(), w))) AS INT)) AS demanded
               FROM ${p}drv) dvx),
${p}keys AS (SELECT s.vec_id AS id, s.e, d.w, d.bands, d.cap,
           b.b AS band_id,
           (b.b::BIGINT << d.w) + list_sum(list_transform(range(0, d.w), r ->
             CASE WHEN $dotP >= 0 THEN (1::BIGINT << r) ELSE 0 END))::BIGINT AS key
         FROM ${p}base s CROSS JOIN ${p}drv2 d
         CROSS JOIN LATERAL (SELECT unnest(range(0, d.bands)) AS b) b),
${p}kept AS (SELECT key FROM ${p}keys GROUP BY key HAVING count(*) <= any_value(cap)),
${p}idx AS (SELECT k.id, k.key FROM ${p}keys k JOIN ${p}kept USING (key)),
${p}probes AS (SELECT k.id AS pid, k.key AS key FROM ${p}keys k
           UNION
           SELECT k.id AS pid, xor(k.key, (1::BIGINT << f.r)) AS key
           FROM ${p}keys k CROSS JOIN LATERAL (SELECT unnest(range(0, k.w)) AS r) f),
${p}cand AS (SELECT DISTINCT p.pid, i.id
         FROM ${p}probes p JOIN ${p}idx i USING (key)
         WHERE $candFilter),
${p}em AS (SELECT vec_id AS id, e FROM ${p}base),
${p}scored AS (SELECT c.pid, c.id,
             round(${cos("a.e", "b.e")}, 4) AS sim
           FROM ${p}cand c JOIN ${p}em a ON a.id = c.pid JOIN ${p}em b ON b.id = c.id)"""
  }

  private def rkCte(k: Int, p: String = ""): String =
    s"""${p}rk AS (SELECT pid, id, sim,
         row_number() OVER (PARTITION BY pid ORDER BY sim DESC, id ASC) AS rank
       FROM ${p}scored)"""

  /** q_ann_join: annJoinAuto(k=5, simThreshold=0.4, targetRecall=0.8),
    * INCLUDING the clamp routing: when the banding curve's unclamped
    * demand exceeds maxBands=64 (drv2.demanded), the Spark side runs
    * ivfJoinAuto(k=5) instead — so this oracle hosts BOTH chains,
    * each gated by the routing flag (the untaken branch is empty and
    * near-free: the LSH chain gets 0 bands, the IVF chain an empty
    * base0), and unions the survivors. At the gate SFs the demand is
    * 10/25 bands → pure LSH, byte-identical to the pre-routing oracle;
    * at sf1.0 (demand 160) it replays the IVF election. */
  lazy val joinSql: String =
    s"""WITH
${chain(pairs = false, simT = "0.4", extraFilter = "", k = 5, p = "l", routed = true)},
${rkCte(5, "l")},
${IvfOracleSql.ivfChain(" AND (SELECT demanded > 64 FROM ldrv2)")}
SELECT CAST(pid AS BIGINT) AS vec_id, CAST(id AS BIGINT) AS neighbor_id, sim,
       CAST(rank AS BIGINT) AS rank
FROM lrk WHERE rank <= 5
UNION ALL
SELECT CAST(pid AS BIGINT) AS vec_id, CAST(id AS BIGINT) AS neighbor_id, sim,
       CAST(rank AS BIGINT) AS rank
FROM rk WHERE rank <= 5
ORDER BY vec_id, rank"""

  /** q_ann_pairs: annPairsAuto(threshold=0.4), INCLUDING the r13 clamp
    * routing: when the banding curve's unclamped demand exceeds
    * maxBands=64 (ldrv2.demanded), the Spark side runs
    * ivfPairsAuto(0.4) instead — so this oracle hosts BOTH chains, each
    * gated by the routing flag (the untaken branch is empty and
    * near-free: the LSH chain gets 0 bands, the IVF chain an empty
    * base0), and unions the survivors — the [[joinSql]] pattern,
    * pair-shaped. At the gate SFs the demand is ≤ 64 → pure LSH,
    * value-identical to the pre-routing oracle; at sf1.0 (demand 160)
    * it replays the IVF-cell pair election. */
  lazy val pairsSql: String =
    s"""WITH
${chain(pairs = true, simT = "0.4", extraFilter = "", k = 5, p = "l", routed = true)},
${IvfOracleSql.ivfPairsChain(" AND (SELECT demanded > 64 FROM ldrv2)")}
SELECT CAST(pid AS BIGINT) AS vec_a, CAST(id AS BIGINT) AS vec_b, sim
FROM lscored WHERE sim >= 0.4
UNION ALL
SELECT CAST(pid AS BIGINT) AS vec_a, CAST(id AS BIGINT) AS vec_b, sim
FROM vscored WHERE sim >= 0.4
ORDER BY vec_a, vec_b"""

  /** q_embed_clusters_ann: annPairsAuto(0.4) edges (both routed chains,
    * as [[pairsSql]]) + recursive min-label reachability over the full
    * vec universe. */
  lazy val clustersSql: String =
    s"""WITH RECURSIVE
${chain(pairs = true, simT = "0.4", extraFilter = "", k = 5, p = "l", routed = true)},
${IvfOracleSql.ivfPairsChain(" AND (SELECT demanded > 64 FROM ldrv2)")},
prs AS (SELECT pid AS a, id AS b FROM lscored WHERE sim >= 0.4
        UNION ALL
        SELECT pid AS a, id AS b FROM vscored WHERE sim >= 0.4),
edges AS (SELECT a AS u, b AS v FROM prs UNION SELECT b, a FROM prs),
reach AS (SELECT u, v FROM edges
          UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
comp AS (SELECT u AS vec_id, min(v) AS mn FROM reach GROUP BY u)
SELECT d.vec_id, CAST(coalesce(least(c.mn, d.vec_id), d.vec_id) AS BIGINT) AS cluster_id
FROM embeddings d LEFT JOIN comp c USING (vec_id)
ORDER BY vec_id"""

  /** q_hard_negatives: Similarity.hardNegatives(k=3, posCutoff=0.95,
    * simThreshold=0.4) over the label-non-null vectors — the routed
    * scored-candidate frame ([[chain]] below the 64-band clamp,
    * [[IvfOracleSql.ivfChain]] past it, exactly as [[joinSql]]), then
    * the label-mismatch filter, the 0.4 ≤ sim < 0.95 hardness window,
    * and the per-anchor top-3 election. At the gate SFs the demand is
    * ≤ 64 bands → pure LSH; at sf1.0 (demand 160) the IVF chain takes
    * over, both behind the replayed routing flag. */
  lazy val hardNegSql: String =
    s"""WITH
${chain(pairs = false, simT = "0.4", extraFilter = " AND label IS NOT NULL", k = 3, p = "l", routed = true)},
${IvfOracleSql.ivfChain(" AND label IS NOT NULL AND (SELECT demanded > 64 FROM ldrv2)")},
hlab AS (SELECT vec_id AS id, label FROM lbase),
hsc AS (SELECT pid, id, sim FROM lscored
        UNION ALL
        SELECT pid, id, sim FROM scored),
hneg AS (SELECT s.pid, a.label AS la, s.id, b.label AS lb, s.sim
         FROM hsc s JOIN hlab a ON a.id = s.pid JOIN hlab b ON b.id = s.id
         WHERE a.label <> b.label AND s.sim < 0.95 AND s.sim >= 0.4),
hrk AS (SELECT pid, la, id, lb, sim,
          row_number() OVER (PARTITION BY pid ORDER BY sim DESC, id) AS rank
        FROM hneg)
SELECT CAST(pid AS BIGINT) AS vec_id, CAST(la AS BIGINT) AS label,
       CAST(id AS BIGINT) AS neg_id, CAST(lb AS BIGINT) AS neg_label,
       sim, CAST(rank AS BIGINT) AS rank
FROM hrk WHERE rank <= 3
ORDER BY vec_id NULLS FIRST, rank NULLS FIRST"""

  /** q_knn_eval_ann: annJoinAuto defaults (simThreshold 0.5, k=5) over
    * label-non-null vectors, majority vote, confusion matrix — with the
    * same clamp routing as [[joinSql]] (at θ=0.5 the unclamped demand
    * passes 64 bands near n≈16k, so the sf1.0 fixture routes to the
    * IVF neighbors fitted on the SAME label-filtered slice the Spark
    * side fits on). */
  lazy val knnSql: String =
    s"""WITH
${chain(pairs = false, simT = "0.5", extraFilter = " AND label IS NOT NULL", k = 5, p = "l", routed = true)},
${rkCte(5, "l")},
${IvfOracleSql.ivfChain(" AND label IS NOT NULL AND (SELECT demanded > 64 FROM ldrv2)")},
lab AS (SELECT vec_id AS id, label FROM lbase),
nb AS (SELECT r.pid AS ia, la.label AS la, lb.label AS lb
       FROM lrk r JOIN lab la ON la.id = r.pid JOIN lab lb ON lb.id = r.id
       WHERE r.rank <= 5
       UNION ALL
       SELECT r.pid AS ia, la.label AS la, lb.label AS lb
       FROM rk r JOIN lab la ON la.id = r.pid JOIN lab lb ON lb.id = r.id
       WHERE r.rank <= 5),
votes AS (SELECT ia, la, lb, count(*) AS c FROM nb GROUP BY ia, la, lb),
best AS (SELECT ia, la, lb,
           row_number() OVER (PARTITION BY ia ORDER BY c DESC, lb ASC) AS vr
         FROM votes)
SELECT CAST(la AS BIGINT) AS label, CAST(lb AS BIGINT) AS predicted,
       count(*) AS n_vecs
FROM best WHERE vr = 1 GROUP BY la, lb
ORDER BY label NULLS FIRST, predicted NULLS FIRST"""
}
