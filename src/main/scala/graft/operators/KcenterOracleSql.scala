package graft.operators

/** DuckDB oracle SQL for `q_coreset_kcenter` — greedy farthest-point
  * k-center selection (Gonzalez 1985) over the embeddings, built
  * programmatically.
  *
  * The traversal is SEQUENTIAL by definition (step t's argmin depends
  * on steps 1..t−1), so the oracle unrolls the fixed k=8 steps as
  * MATERIALIZED CTE pairs — the MmrOracleSql/BpeOracleSql precedent.
  * Per step, every unselected vector's max 4dp cosine to the selected
  * set is a (corpus × |selected|) join + max aggregate, and the pick
  * is ORDER BY (ms ASC, id) LIMIT 1 — exactly the Spark side's
  * `greatest(round(cos,4)…)` + (ms asc, id asc) head. The seed is the
  * smallest id; its far_sim is NULL.
  */
object KcenterOracleSql {

  import OracleSql.cos

  /** q_coreset_kcenter: seed = smallest id, k=8 greedy picks. */
  lazy val coresetSql: String = {
    val head = s"""em AS (SELECT CAST(vec_id AS BIGINT) AS id, embedding AS e FROM embeddings
        WHERE embedding IS NOT NULL AND len(embedding) > 0),
sel1 AS MATERIALIZED (SELECT 1 AS step, id, CAST(NULL AS DOUBLE) AS far_sim
        FROM em ORDER BY id LIMIT 1),
acc1 AS (SELECT id FROM sel1)"""
    val steps = (2 to 8).map { t =>
      s"""sc$t AS (SELECT v.id, max(round(${cos("v.e", "s.e")}, 4)) AS ms
    FROM em v JOIN em s ON s.id IN (SELECT id FROM acc${t - 1})
    WHERE v.id NOT IN (SELECT id FROM acc${t - 1})
    GROUP BY v.id),
sel$t AS MATERIALIZED (SELECT $t AS step, id, ms AS far_sim FROM sc$t
        ORDER BY ms ASC, id LIMIT 1),
acc$t AS (SELECT id FROM acc${t - 1} UNION ALL SELECT id FROM sel$t)"""
    }
    val union = (1 to 8).map(t => s"SELECT * FROM sel$t").mkString(" UNION ALL ")
    (head +: steps).mkString("WITH ", ",\n", "") + s"""
SELECT CAST(step AS BIGINT) AS rank, id AS vec_id, far_sim FROM ($union)
ORDER BY rank NULLS FIRST"""
  }
}
