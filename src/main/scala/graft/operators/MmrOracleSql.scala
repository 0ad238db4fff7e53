package graft.operators

/** DuckDB oracle SQL for `q_mmr_rerank` — maximal marginal relevance
  * (Carbonell & Goldstein, SIGIR'98) over the probe-0 cosine top-20
  * shortlist, built programmatically.
  *
  * The greedy selection is SEQUENTIAL by definition (step t's penalty
  * depends on steps 1..t−1), so the oracle unrolls the fixed k=8 steps
  * as MATERIALIZED CTE pairs (selN = the step's argmax, accN = the
  * running picked set) — the BpeOracleSql unroll precedent; a
  * recursive CTE with a LATERAL argmax was tried first and DuckDB's
  * correlation rules silently dropped the penalty subquery after the
  * first step.
  *
  * Float discipline: shortlist sims and pair sims are 4dp-rounded
  * exact cosines (the pinned `list_sum ≡ sequential-fold` chain);
  * each step's score is `0.7·simq − 0.3·max(pairSim)` with both
  * coefficients spelled as LITERALS on both engines (λ and μ are
  * separate constants, never `1 − λ`, whose float value is
  * 0.30000000000000004); the score is two exact-rounded IEEE
  * multiplies and one subtract, so the per-step argmax — and with the
  * (score DESC, id) tiebreak the whole selection — replays
  * bit-identically. Output cut: floor(score·1e6)/1e6.
  */
object MmrOracleSql {

  import OracleSql.cos

  /** q_mmr_rerank: probe 0, kCand=20, k=8, λ=0.7 / μ=0.3. */
  lazy val rerankSql: String = {
    val head = s"""em AS (SELECT vec_id AS id, embedding AS e FROM embeddings
        WHERE embedding IS NOT NULL AND len(embedding) > 0),
p AS (SELECT e AS pe FROM em WHERE id = 0),
sc AS (SELECT id, round(${cos("e", "pe")}, 4) AS simq FROM em, p WHERE id <> 0),
cand AS MATERIALIZED (SELECT CAST(id AS BIGINT) AS id, simq FROM sc
        ORDER BY simq DESC, id LIMIT 20),
ce AS MATERIALIZED (SELECT c.id, c.simq, m.e FROM cand c JOIN em m USING (id)),
ps AS MATERIALIZED (SELECT a.id AS ia, b.id AS ib, round(${cos("a.e", "b.e")}, 4) AS s
      FROM ce a JOIN ce b ON a.id <> b.id),
sel1 AS MATERIALIZED (SELECT 1 AS step, id, 0.7 * simq AS scv FROM cand
        ORDER BY simq DESC, id LIMIT 1),
acc1 AS (SELECT * FROM sel1)"""
    val steps = (2 to 8).map { t =>
      s"""sel$t AS MATERIALIZED (SELECT $t AS step, c.id,
      0.7 * any_value(c.simq) - 0.3 * max(p2.s) AS scv
    FROM cand c JOIN ps p2 ON p2.ia = c.id AND p2.ib IN (SELECT id FROM acc${t - 1})
    WHERE c.id NOT IN (SELECT id FROM acc${t - 1})
    GROUP BY c.id ORDER BY scv DESC, c.id LIMIT 1),
acc$t AS (SELECT * FROM acc${t - 1} UNION ALL SELECT * FROM sel$t)"""
    }
    (head +: steps).mkString("WITH ", ",\n", "") + s"""
SELECT CAST(step AS BIGINT) AS rank, CAST(a.id AS BIGINT) AS doc_id,
       c.simq AS rel_sim, floor(scv * 1e6) / 1e6 AS mmr_score
FROM acc8 a JOIN cand c USING (id)
ORDER BY rank NULLS FIRST"""
  }
}
