package graft.operators

/** DuckDB oracle SQL for the IVF / PQ k-means family — `q_ann_ivf`,
  * `q_embed_pq`, and the full IVFADC composition `q_ann_ivfpq` — built
  * programmatically.
  *
  * These were the repo's largest no-oracle sub-family through r10: the
  * Lloyd mean update summed doubles in partition order, so the fitted
  * centroids were only ulp-deterministic, not value-deterministic.
  * r11's [[graft.functions.VecSumDecAgg]] fixes the root cause — each
  * element is fixed to 10 decimal places as a scaled long
  * (`Math.round(x·1e10)`, the exact `floor(x + 1/2)`; `x·1e10 + 0.5`
  * is exact below 2^51 so DuckDB's `floor(x*1e10 + 0.5)` replays it
  * bit-for-bit) and summed in EXACT long arithmetic, then the mean is
  * HALF_UP 6dp decimal division. Every remaining float step is
  * per-ROW sequential (seed dots, assignment scores, L2 distances,
  * ADC lookups, cosine re-rank) — the `list_sum ≡ sequential-Java-fold`
  * equivalence the exact-cosine oracles already pin on this fixture —
  * so the whole fit-and-apply pipeline replays:
  *
  *  - seeds: ORDER BY xxhash64(vec_id) (signed), vec_id LIMIT k —
  *    [[XxhashSqlChain.emitLongHash]], the HLL register hash;
  *  - assignment: argmax of dot(e, c)/‖c‖ over the centers (ties →
  *    smallest index, the `NearestCentroids` strict-> contract) /
  *    argmin of sequential-fold squared L2 for PQ (`l2Code` /
  *    `PqEncodeExpr` both break ties to the smallest index);
  *  - the Lloyd update: per-cell HUGEINT sums of the scaled longs,
  *    HALF_UP 6dp mean as sign·((|S|·2 + D) // (2·D)) with
  *    D = 10^4·cnt, `::DOUBLE / 1e6` (exactly-rounded IEEE division ≡
  *    `BigDecimal(·, 6).doubleValue`); empty cells keep their seed;
  *  - IVFADC: unit normalization, residual encode vs the own-cell
  *    center, the per-(probe, cell) residual LUT as an in-row
  *    list-of-lists, adc = ordered fold of `lut[s][codes[s]]`, the
  *    k·shortlist ADC cut, exact-cosine re-rank of the survivors;
  *  - the probe/index equi-join and re-rank: the [[AnnOracleSql]]
  *    relational machinery.
  *
  * Heavily-referenced CTEs are `MATERIALIZED` (the BpeOracleSql
  * precedent): DuckDB inlines plain CTEs per reference, and re-inlining
  * the ~30-stage hash chain under multiple consumers sent the
  * optimizer quadratic (observed: q_embed_pq un-materialized never
  * finished planning; materialized it runs in 0.5 s).
  *
  * Validated through the driver-gate replica (`tools/verify_local.py`
  * value-compare against the Spark dumps) at sf0.001/0.01/0.1 — zero
  * mismatches on all three queries at all three SFs.
  */
object IvfOracleSql {
  import XxhashSqlChain.M64

  /** Sequential-fold dot(e-as-float, c-double)/‖c‖ — the
    * `NearestCentroids` score (dims fixed at 64; the CAST is a no-op
    * when `e` is already double). */
  private def score(e: String, c: String): String =
    s"""(CASE WHEN sqrt(list_sum(list_transform($c, x -> x*x))) = 0 THEN -1e308
         ELSE list_sum(list_transform(range(0, 64), i ->
                CAST($e[i+1] AS DOUBLE) * $c[i+1]))
              / sqrt(list_sum(list_transform($c, x -> x*x))) END)"""

  import OracleSql.cos

  /** HALF_UP 6dp mean of a HUGEINT scaled-long sum `s` over `cnt`
    * rows, as a DOUBLE — [[graft.functions.VecSumDecAgg.mean6]]. */
  private def mean6(s: String, cnt: String): String =
    s"""(CASE WHEN $s >= 0 THEN (($s)*2 + 10000*($cnt)) // (2*10000*($cnt))
         ELSE -(((-($s))*2 + 10000*($cnt)) // (2*10000*($cnt))) END)::DOUBLE / 1000000.0"""

  /** floor(x·1e10 + 1/2) as HUGEINT — `VecSumDecAgg.scaled`. */
  private def scaled(x: String): String =
    s"CAST(floor(($x) * 1e10 + 0.5) AS HUGEINT)"

  private val (hashCtes, hashCol, hashLast) = XxhashSqlChain.emitLongHash("vec_id")

  /** One IVF Lloyd round over source CTE `$src` (columns vec_id, e,
    * h — e any float/double 64-list): CTEs `${p}drv … ${p}cfull`;
    * `${p}cfull` is the fitted (ci, c) center frame (empty cells keep
    * their seed — `fitIvf`'s contract). The cell count replays
    * `Similarity.ivfCellsFor(count($countSrc), 128)` — the r11
    * occupancy derivation (a fixed cell count sends the probe join
    * quadratic at scale; ≡ the historical 16 at every gate SF). */
  private def ivfFitBlock(src: String, countSrc: String, p: String): String =
    s"""${p}drv AS (SELECT least(4096, greatest(16,
            CAST(ceil(count(*) / 128.0) AS INT))) AS nc FROM $countSrc),
${p}seeds AS MATERIALIZED (SELECT ci, c FROM (
            SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS ci,
                   list_transform(e, x -> CAST(x AS DOUBLE)) AS c
            FROM $src) sd CROSS JOIN ${p}drv d WHERE sd.ci < d.nc),
${p}a0 AS (SELECT b.vec_id, s.ci, ${score("b.e", "s.c")} AS score
       FROM $src b CROSS JOIN ${p}seeds s),
${p}asg AS MATERIALIZED (SELECT vec_id, ci FROM (
          SELECT vec_id, ci,
                 row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, ci) AS rn
          FROM ${p}a0) WHERE rn = 1),
${p}cnts AS (SELECT ci, count(*) AS cnt FROM ${p}asg GROUP BY ci),
${p}el AS (SELECT a.ci, q.i AS pos, ${scaled("CAST(b.e[q.i+1] AS DOUBLE)")} AS sv
       FROM ${p}asg a JOIN $src b USING (vec_id)
       CROSS JOIN (SELECT unnest(range(0, 64)) AS i) q),
${p}csum AS (SELECT ci, pos, sum(sv) AS s FROM ${p}el GROUP BY ci, pos),
${p}m6 AS (SELECT c.ci, c.pos, ${mean6("c.s", "n.cnt")} AS cval
       FROM ${p}csum c JOIN ${p}cnts n USING (ci)),
${p}c1 AS (SELECT ci, list(cval ORDER BY pos) AS c FROM ${p}m6 GROUP BY ci),
${p}cfull AS MATERIALIZED (SELECT s.ci, coalesce(c1.c, s.c) AS c
          FROM ${p}seeds s LEFT JOIN ${p}c1 c1 USING (ci))"""

  /** One PQ Lloyd round (m=8, k=16, dsub=8) over source CTE `$src`
    * (columns vec_id, e — DOUBLE 64-list — and h): CTEs
    * `${p}sub … ${p}books`; `${p}books` is the fitted (s, ci, cw)
    * codebook frame (empty cells keep their seed slice — `pqFit`). */
  private def pqFitBlock(src: String, p: String): String =
    s"""${p}sseeds AS MATERIALIZED (SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS ci, e
          FROM $src ORDER BY h, vec_id LIMIT 16),
${p}sub AS MATERIALIZED (SELECT v.vec_id, ss.s, list_slice(v.e, ss.s*8 + 1, ss.s*8 + 8) AS sv
         FROM $src v CROSS JOIN (SELECT unnest(range(0, 8)) AS s) ss),
${p}b0 AS MATERIALIZED (SELECT sd.ci, ss.s, list_slice(sd.e, ss.s*8 + 1, ss.s*8 + 8) AS cw
       FROM ${p}sseeds sd CROSS JOIN (SELECT unnest(range(0, 8)) AS s) ss),
${p}d0 AS (SELECT v.vec_id, v.s, b.ci,
         list_sum(list_transform(range(0, 8), j ->
           (v.sv[j+1] - b.cw[j+1]) * (v.sv[j+1] - b.cw[j+1]))) AS dist
       FROM ${p}sub v JOIN ${p}b0 b USING (s)),
${p}pasg AS MATERIALIZED (SELECT vec_id, s, ci FROM (
          SELECT vec_id, s, ci,
                 row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, ci) AS rn
          FROM ${p}d0) WHERE rn = 1),
${p}pcnts AS (SELECT s, ci, count(*) AS cnt FROM ${p}pasg GROUP BY s, ci),
${p}pel AS (SELECT a.s, a.ci, q.j AS pos, ${scaled("v.sv[q.j+1]")} AS sv
       FROM ${p}pasg a JOIN ${p}sub v USING (vec_id, s)
       CROSS JOIN (SELECT unnest(range(0, 8)) AS j) q),
${p}pcsum AS (SELECT s, ci, pos, sum(sv) AS ssum FROM ${p}pel GROUP BY s, ci, pos),
${p}pm6 AS (SELECT c.s, c.ci, c.pos, ${mean6("c.ssum", "n.cnt")} AS cval
       FROM ${p}pcsum c JOIN ${p}pcnts n USING (s, ci)),
${p}pc1 AS (SELECT s, ci, list(cval ORDER BY pos) AS cw FROM ${p}pm6 GROUP BY s, ci),
${p}books AS MATERIALIZED (SELECT b.s, b.ci, coalesce(c.cw, b.cw) AS cw
          FROM ${p}b0 b LEFT JOIN ${p}pc1 c USING (s, ci))"""

  /** Per-(vec, subspace) nearest codeword of `$src` (vec_id, s, sv)
    * against `$books` (s, ci, cw): CTEs `${p}ed`, `${p}ebest`
    * (vec_id, s, ci, dist). */
  private def encodeBlock(src: String, books: String, p: String): String =
    s"""${p}ed AS (SELECT v.vec_id, v.s, b.ci,
         list_sum(list_transform(range(0, 8), j ->
           (v.sv[j+1] - b.cw[j+1]) * (v.sv[j+1] - b.cw[j+1]))) AS dist
       FROM $src v JOIN $books b USING (s)),
${p}ebest AS MATERIALIZED (SELECT vec_id, s, ci, dist FROM (
            SELECT vec_id, s, ci, dist,
                   row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, ci) AS rn
            FROM ${p}ed) WHERE rn = 1)"""

  /** The full q_ann_ivf WITH-body — ivfJoin(embeddings, k=5,
    * nCentroids=ivfCellsFor(n,128), nProbe=4, iterations=1): fit on
    * the full corpus, one Lloyd round, 4-probe cells, exact-cosine
    * re-rank — ending in CTE `rk` (pid, id, sim, rank). Reused
    * verbatim by [[AnnOracleSql]]'s clamp-ROUTED q_ann_join /
    * q_knn_eval_ann oracles (annJoinAuto falls back to exactly this
    * parameterization when the banding curve demands more than
    * maxBands tables). `extraFilter` narrows the corpus the same way
    * the Spark caller's pre-filter does (knnAnnConfusion fits on the
    * label-non-null slice). */
  def ivfChain(extraFilter: String = ""): String =
    s"""base0 AS (SELECT vec_id, embedding AS e FROM embeddings
          WHERE embedding IS NOT NULL AND len(embedding) > 0$extraFilter),
hvals AS (SELECT vec_id, ((CAST(vec_id AS HUGEINT) % $M64) + $M64) % $M64 AS w FROM base0),
$hashCtes,
hh AS MATERIALIZED (SELECT vec_id, $hashCol AS h FROM $hashLast),
base AS MATERIALIZED (SELECT b.vec_id, b.e, h.h FROM base0 b JOIN hh h USING (vec_id)),
${ivfFitBlock("base", "base", "f")},
sc1 AS (SELECT b.vec_id, f.ci, ${score("b.e", "f.c")} AS score
        FROM base b CROSS JOIN fcfull f),
rnk AS MATERIALIZED (SELECT vec_id, ci,
          row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, ci) AS rn
        FROM sc1),
idx AS (SELECT vec_id AS id, ci FROM rnk WHERE rn = 1),
probes AS (SELECT vec_id AS pid, ci FROM rnk WHERE rn <= 4),
cand AS (SELECT p.pid, i.id FROM probes p JOIN idx i USING (ci)
         WHERE p.pid <> i.id),
scored AS (SELECT c.pid, c.id, round(${cos("a.e", "b.e")}, 4) AS sim
           FROM cand c JOIN base a ON a.vec_id = c.pid
                       JOIN base b ON b.vec_id = c.id),
rk AS (SELECT pid, id, sim,
         row_number() OVER (PARTITION BY pid ORDER BY sim DESC, id) AS rank
       FROM scored)"""

  /** The PAIR-form routed chain — `Similarity.ivfPairsAuto(threshold,
    * targetCell=128, one Lloyd round, nProbe=3)`: the [[ivfChain]] fit
    * (occupancy-derived cell count, decimal-exact Lloyd), SYMMETRIC
    * top-3 cell probing (the semDedup candidate space widened one cell —
    * measured at sf1.0/θ=0.4: pair recall 0.703 → 0.777 for 8.8 → 15.1 s,
    * the closest the IVF blocking gets to the 0.8 LSH contract within
    * the ≤30 s class), DISTINCT
    * undirected candidates (a pair can meet in up to nProbe shared
    * cells), exact-cosine verify — ending in CTE `vscored`
    * (pid, id, sim; pid < id, unfiltered by threshold — the consumer
    * applies it). Used by [[AnnOracleSql.pairsSql]] /
    * [[AnnOracleSql.clustersSql]] behind the replayed band-clamp
    * routing flag, exactly as [[ivfChain]] serves the join form. */
  def ivfPairsChain(extraFilter: String = ""): String =
    s"""${ivfProbeChain(extraFilter, nProbe = 3)},
vcand AS (SELECT DISTINCT a.vec_id AS pid, b.vec_id AS id
          FROM pprb a JOIN pprb b ON a.cell = b.cell AND a.vec_id < b.vec_id),
vscored AS (SELECT c.pid, c.id, round(${cos("a.e", "b.e")}, 4) AS sim
            FROM vcand c JOIN base a ON a.vec_id = c.pid
                         JOIN base b ON b.vec_id = c.id)"""

  /** The shared IVF fit-and-probe head: decimal-exact fit over the
    * (filtered) embeddings, per-vector probe ranks, and the top-`nProbe`
    * probe frame — ending in CTEs `base` (vec_id, e, h), `prnk`
    * (vec_id, ci, rn), `pprb` (vec_id, cell). [[ivfPairsChain]] and
    * [[BitextOracleSql]] build their candidate joins on top. */
  def ivfProbeChain(extraFilter: String = "", nProbe: Int): String =
    s"""base0 AS (SELECT vec_id, embedding AS e FROM embeddings
          WHERE embedding IS NOT NULL AND len(embedding) > 0$extraFilter),
hvals AS (SELECT vec_id, ((CAST(vec_id AS HUGEINT) % $M64) + $M64) % $M64 AS w FROM base0),
$hashCtes,
hh AS MATERIALIZED (SELECT vec_id, $hashCol AS h FROM $hashLast),
base AS MATERIALIZED (SELECT b.vec_id, b.e, h.h FROM base0 b JOIN hh h USING (vec_id)),
${ivfFitBlock("base", "base", "f")},
psc AS (SELECT b.vec_id, f.ci, ${score("b.e", "f.c")} AS score
        FROM base b CROSS JOIN fcfull f),
prnk AS MATERIALIZED (SELECT vec_id, ci,
          row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, ci) AS rn
        FROM psc),
pprb AS MATERIALIZED (SELECT p.vec_id, p.ci AS cell FROM prnk p WHERE p.rn <= $nProbe)"""

  /** q_ann_ivf: [[ivfChain]] + the rank-≤5 projection. */
  lazy val ivfSql: String =
    s"""WITH
${ivfChain()}
SELECT pid AS vec_id, id AS neighbor_id, sim, rank::BIGINT AS rank
FROM rk WHERE rank <= 5 ORDER BY vec_id, rank"""

  /** q_embed_semdedup: semDedup(threshold=0.4, targetCell=128, one
    * Lloyd round) — the SemDeDup replay: same fit as [[ivfSql]]
    * (occupancy-derived cell count, decimal-exact Lloyd), top-1
    * assignment against the fitted centers, within-cell smaller-id
    * pair cosines, keep-min election (round AFTER max — round is
    * monotone, so the 4dp cut commutes with the aggregate exactly as
    * the Spark side computes it). */
  lazy val semdedupSql: String =
    s"""WITH
base0 AS (SELECT vec_id, embedding AS e FROM embeddings
          WHERE embedding IS NOT NULL AND len(embedding) > 0),
hvals AS (SELECT vec_id, ((CAST(vec_id AS HUGEINT) % $M64) + $M64) % $M64 AS w FROM base0),
$hashCtes,
hh AS MATERIALIZED (SELECT vec_id, $hashCol AS h FROM $hashLast),
base AS MATERIALIZED (SELECT b.vec_id, b.e, h.h FROM base0 b JOIN hh h USING (vec_id)),
${ivfFitBlock("base", "base", "f")},
sc1 AS (SELECT b.vec_id, f.ci, ${score("b.e", "f.c")} AS score
        FROM base b CROSS JOIN fcfull f),
srnk AS MATERIALIZED (SELECT vec_id, ci,
         row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, ci) AS rn
       FROM sc1),
sasg AS (SELECT vec_id, ci AS cell FROM srnk WHERE rn = 1),
sprb AS MATERIALIZED (SELECT p.vec_id, p.ci AS cell, b.e
        FROM srnk p JOIN base b USING (vec_id) WHERE p.rn <= 2),
av AS MATERIALIZED (SELECT b.vec_id, b.e, a.cell FROM base b JOIN sasg a USING (vec_id)),
-- multi-probe pair gen: a pair meeting in two shared cells duplicates
-- its (id, sim) row; max() absorbs the multiplicity (same sim)
pr AS (SELECT b.vec_id AS id, ${cos("a.e", "b.e")} AS sim
       FROM sprb a JOIN sprb b ON a.cell = b.cell AND a.vec_id < b.vec_id),
dup AS (SELECT id, round(max(sim), 4) AS dup_sim FROM pr WHERE sim >= 0.4 GROUP BY id)
SELECT v.vec_id, CAST(v.cell AS BIGINT) AS cell,
       CAST(CASE WHEN d.dup_sim IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep,
       d.dup_sim
FROM av v LEFT JOIN dup d ON d.id = v.vec_id
ORDER BY v.vec_id"""

  /** q_embed_pq: pqFit(30% id-hash sample, m=8, k=16, dim=64, one
    * Lloyd round) + pqEncode(full corpus) → per-vector code checksum +
    * 6dp-floored reconstruction error. The per-vector error is an
    * ORDERED fold over the 8 subspace minima (`list_sum(list(dist
    * ORDER BY s))`), never a bare sum() — the PqEncodeExpr loop adds
    * them in subspace order. */
  lazy val pqSql: String =
    s"""WITH
allv AS (SELECT vec_id, embedding AS e FROM embeddings),
hvals AS (SELECT vec_id, ((CAST(vec_id AS HUGEINT) % $M64) + $M64) % $M64 AS w FROM allv),
$hashCtes,
hh AS MATERIALIZED (SELECT vec_id, $hashCol AS h FROM $hashLast),
samp AS MATERIALIZED (SELECT a.vec_id, h.h, list_transform(a.e, x -> CAST(x AS DOUBLE)) AS e
         FROM allv a JOIN hh h USING (vec_id)
         WHERE ((h.h % 10) + 10) % 10 < 3
           AND a.e IS NOT NULL AND len(a.e) = 64),
${pqFitBlock("samp", "f")},
enc AS (SELECT vec_id, list_transform(e, x -> CAST(x AS DOUBLE)) AS e FROM allv
        WHERE e IS NOT NULL AND len(e) = 64),
esub AS MATERIALIZED (SELECT v.vec_id, ss.s, list_slice(v.e, ss.s*8 + 1, ss.s*8 + 8) AS sv
         FROM enc v CROSS JOIN (SELECT unnest(range(0, 8)) AS s) ss),
${encodeBlock("esub", "fbooks", "e")}
SELECT vec_id,
       CAST(sum(ci) AS BIGINT) AS code_sum,
       floor(list_sum(list(dist ORDER BY s)) * 1000000) / 1000000.0 AS pq_sqerr
FROM eebest GROUP BY vec_id ORDER BY vec_id"""

  /** q_ann_ivfpq: the full IVFADC replay — unit normalization, 30%
    * id-hash fit sample, IVF fit on the sample, RESIDUAL PQ codebooks
    * (v − own-cell center), residual encode of the corpus, 6-probe
    * per-cell residual LUTs (an in-row list-of-lists — lut[s][c] =
    * sequential-fold squared L2), adc as the ORDERED fold
    * Σ_s lut[s][codes[s]], the k·shortlist = 40 ADC cut (ties → id),
    * exact-cosine re-rank of the survivors, rank ≤ 5. */
  lazy val ivfpqSql: String =
    s"""WITH
raw AS (SELECT vec_id, embedding AS e FROM embeddings
        WHERE embedding IS NOT NULL AND len(embedding) = 64),
nrmd AS (SELECT vec_id, e,
           sqrt(list_sum(list_transform(e, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
         FROM raw),
units0 AS (SELECT vec_id,
             list_transform(e, x -> CAST(x AS DOUBLE) / nrm) AS e
           FROM nrmd WHERE nrm > 0),
hvals AS (SELECT vec_id, ((CAST(vec_id AS HUGEINT) % $M64) + $M64) % $M64 AS w FROM units0),
$hashCtes,
hh AS MATERIALIZED (SELECT vec_id, $hashCol AS h FROM $hashLast),
units AS MATERIALIZED (SELECT u.vec_id, u.e, h.h FROM units0 u JOIN hh h USING (vec_id)),
samp AS MATERIALIZED (SELECT vec_id, e, h FROM units WHERE ((h % 10) + 10) % 10 < 3),
${ivfFitBlock("samp", "units", "f")},
rsc AS (SELECT b.vec_id, f.ci, ${score("b.e", "f.c")} AS score
        FROM samp b CROSS JOIN fcfull f),
rasg AS (SELECT vec_id, ci FROM (
           SELECT vec_id, ci,
                  row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, ci) AS rn
           FROM rsc) WHERE rn = 1),
resfit AS MATERIALIZED (SELECT s.vec_id, s.h,
            list_transform(range(0, 64), i -> s.e[i+1] - f.c[i+1]) AS e
          FROM samp s JOIN rasg a USING (vec_id) JOIN fcfull f ON f.ci = a.ci),
${pqFitBlock("resfit", "r")},
csc AS (SELECT b.vec_id, f.ci, ${score("b.e", "f.c")} AS score
        FROM units b CROSS JOIN fcfull f),
crnk AS MATERIALIZED (SELECT vec_id, ci,
          row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, ci) AS rn
        FROM csc),
casg AS (SELECT vec_id, ci FROM crnk WHERE rn = 1),
cres AS (SELECT u.vec_id, a.ci AS cell,
           list_transform(range(0, 64), i -> u.e[i+1] - f.c[i+1]) AS enc
         FROM units u JOIN casg a USING (vec_id) JOIN fcfull f ON f.ci = a.ci),
crsub AS MATERIALIZED (SELECT v.vec_id, ss.s, list_slice(v.enc, ss.s*8 + 1, ss.s*8 + 8) AS sv
          FROM cres v CROSS JOIN (SELECT unnest(range(0, 8)) AS s) ss),
${encodeBlock("crsub", "rbooks", "c")},
index_codes AS MATERIALIZED (
  SELECT e.vec_id AS id, any_value(c.cell) AS cell, list(e.ci ORDER BY e.s) AS codes
  FROM cebest e JOIN cres c USING (vec_id) GROUP BY e.vec_id),
bookarr AS MATERIALIZED (
  SELECT list(cwl ORDER BY s) AS books FROM (
    SELECT s, list(cw ORDER BY ci) AS cwl FROM rbooks GROUP BY s)),
probes AS MATERIALIZED (
  SELECT u.vec_id AS pid, r.ci AS cell,
         list_transform(range(0, 8), s ->
           list_transform(range(0, 16), c ->
             list_sum(list_transform(range(0, 8), j ->
               ((u.e[s*8 + j + 1] - f.c[s*8 + j + 1]) - b.books[s+1][c+1][j+1])
               * ((u.e[s*8 + j + 1] - f.c[s*8 + j + 1]) - b.books[s+1][c+1][j+1]))))) AS lut
  FROM units u
  JOIN crnk r ON r.vec_id = u.vec_id AND r.rn <= 6
  JOIN fcfull f ON f.ci = r.ci
  CROSS JOIN bookarr b),
cand AS (SELECT p.pid, i.id,
           list_sum(list_transform(range(0, 8), s ->
             p.lut[s+1][i.codes[s+1] + 1])) AS adc
         FROM probes p JOIN index_codes i ON i.cell = p.cell
         WHERE p.pid <> i.id),
short AS (SELECT pid, id FROM (
            SELECT pid, id,
                   row_number() OVER (PARTITION BY pid ORDER BY adc, id) AS arnk
            FROM cand) WHERE arnk <= 40),
scored AS (SELECT c.pid, c.id, round(${cos("a.e", "b.e")}, 4) AS sim
           FROM short c JOIN units a ON a.vec_id = c.pid
                        JOIN units b ON b.vec_id = c.id),
rk AS (SELECT pid, id, sim,
         row_number() OVER (PARTITION BY pid ORDER BY sim DESC, id) AS rank
       FROM scored)
SELECT pid AS vec_id, id AS neighbor_id, sim, rank::BIGINT AS rank
FROM rk WHERE rank <= 5 ORDER BY vec_id, rank"""
}
