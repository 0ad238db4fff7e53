package graft.operators

/** DuckDB oracle SQL for the margin-based bitext miner — `q_bitext_mine`
  * (exact A×B baseline) and `q_bitext_mine_ann` (IVF-cell blocked scale
  * path), built programmatically.
  *
  * The ratio margin (Artetxe & Schwenk, ACL 2019) is approximate only
  * in WHICH candidate pairs the blocking surfaces — as a function of
  * the candidate pool it is deterministic, so both forms replay:
  *
  *  - cosines: the sequential `list_sum` fold (≡ `vec_dot`, the pinned
  *    exact-cosine equivalence);
  *  - mₖ: the k-column pivot sum over (cos DESC, id ASC) rank order —
  *    coalesce(cᵢ, 0), LEFT-ASSOCIATIVE +, divide by the constant k —
  *    exactly the Spark side's spelling, so the sum order is pinned;
  *  - margin: cos / ((m_a + m_b) / 2), same parenthesization;
  *  - the blocked form's candidate pool replays through
  *    [[IvfOracleSql.ivfProbeChain]] (decimal-exact fit, top-nProbe
  *    probes) with the side split ((label % 2 + 2) % 2) joined on;
  *  - argmax per source (ties → smallest b_id) + the threshold cut.
  */
object BitextOracleSql {
  /** k and the margin threshold — mirrored by the VectorOps
    * registrations; the threshold is emitted via Double.toString so
    * both engines parse the identical binary double. */
  val K = 4
  val Threshold = 1.02
  private val Th = java.lang.Double.toString(Threshold)

  import OracleSql.cos

  /** The shared margin tail over CTE `bpr` (a_id, b_id, c). */
  private def tail: String = {
    val terms = (1 to K)
      .map(i => s"coalesce(max(CASE WHEN rn = $i THEN c END), 0.0)")
      .mkString(" + ")
    s"""ra AS (SELECT a_id, c, row_number() OVER (PARTITION BY a_id
            ORDER BY c DESC, b_id) AS rn FROM bpr),
ma AS (SELECT a_id, ($terms) / $K AS m_a FROM ra WHERE rn <= $K GROUP BY a_id),
rb AS (SELECT b_id, c, row_number() OVER (PARTITION BY b_id
            ORDER BY c DESC, a_id) AS rn FROM bpr),
mb AS (SELECT b_id, ($terms) / $K AS m_b FROM rb WHERE rn <= $K GROUP BY b_id),
mg AS (SELECT p.a_id, p.b_id, p.c,
         p.c / ((ma.m_a + mb.m_b) / 2) AS margin
       FROM bpr p JOIN ma USING (a_id) JOIN mb USING (b_id)),
best AS (SELECT a_id, b_id, c, margin,
           row_number() OVER (PARTITION BY a_id
             ORDER BY margin DESC, b_id) AS brn
         FROM mg)
SELECT a_id, b_id, floor(c * 10000) / 10000.0 AS cos_sim,
       floor(margin * 10000) / 10000.0 AS margin
FROM best WHERE brn = 1 AND margin >= $Th ORDER BY a_id"""
  }

  /** q_bitext_mine: exact A×B (label parity sides). */
  lazy val exactSql: String =
    s"""WITH
em AS (SELECT vec_id, embedding AS e, label FROM embeddings
       WHERE embedding IS NOT NULL AND len(embedding) > 0
         AND label IS NOT NULL),
sa AS (SELECT vec_id AS a_id, e AS ea FROM em WHERE ((label % 2) + 2) % 2 = 0),
sb AS (SELECT vec_id AS b_id, e AS eb FROM em WHERE ((label % 2) + 2) % 2 = 1),
bpr AS MATERIALIZED (SELECT a_id, b_id, ${cos("ea", "eb")} AS c
        FROM sa CROSS JOIN sb),
$tail"""

  /** q_bitext_mine_ann: the IVF-cell blocked pool (fit on A∪B,
    * symmetric top-3 probes, cross-side shared-cell candidates). */
  lazy val blockedSql: String =
    s"""WITH
${IvfOracleSql.ivfProbeChain(" AND label IS NOT NULL", nProbe = 3)},
blab AS (SELECT vec_id, ((label % 2) + 2) % 2 AS side FROM embeddings
         WHERE embedding IS NOT NULL AND len(embedding) > 0
           AND label IS NOT NULL),
bcand AS (SELECT DISTINCT pa.vec_id AS a_id, pb.vec_id AS b_id
          FROM pprb pa JOIN pprb pb ON pa.cell = pb.cell
          JOIN blab la ON la.vec_id = pa.vec_id AND la.side = 0
          JOIN blab lb ON lb.vec_id = pb.vec_id AND lb.side = 1),
bpr AS MATERIALIZED (SELECT cd.a_id, cd.b_id, ${cos("a.e", "b.e")} AS c
        FROM bcand cd JOIN base a ON a.vec_id = cd.a_id
                      JOIN base b ON b.vec_id = cd.b_id),
$tail"""
}
