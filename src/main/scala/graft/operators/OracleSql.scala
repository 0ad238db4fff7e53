package graft.operators

/** DuckDB oracle fragments shared by more than one query's oracle —
  * pure SQL-string builders, one CTE group (or expression) each. They
  * call no Spark code, so every oracle stays independent of the
  * implementation it checks; the oracles interpolate a builder instead
  * of carrying their own copy, and SessionSpec keeps the fingerprint
  * and the hot-shingle CTE spelled only here.
  *
  * The shared trigram chain is always MATERIALIZED at `sh` and `pairs`
  * (the IvfOracleSql lesson): un-materialized, DuckDB re-inlines the
  * shingle self-join once per reference, and a multi-round consumer
  * (label propagation, PageRank, the recursive closure) compounds it —
  * measured >78 GB of spill at a 2x fixture for the 3-round LPA chain.
  * MATERIALIZED changes only how DuckDB evaluates a CTE, never its rows.
  */
private[operators] object OracleSql {

  /** Normalized-text fingerprint ≡ [[graft.api.TextDedup.fingerprint]]:
    * md5 of the lowercased text with every whitespace run collapsed. */
  def fingerprint(text: String): String =
    raw"md5(lower(regexp_replace($text, '\s+', ' ', 'g')))"

  /** Exact cosine of two float/double arrays: the sequential-fold dot
    * over the norms' product (the `list_sum` ≡ Spark fold chain). */
  def cos(a: String, b: String): String =
    s"list_sum(list_transform(list_zip($a, $b), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))" +
      s" / (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))" +
      s" * sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))"

  /** The eval split's fingerprint set `ev(fp)` (eval = doc_id % 97 = 0). */
  val evalFingerprints: String =
    s"""ev AS (SELECT DISTINCT ${fingerprint("text")} AS fp
                        FROM documents WHERE doc_id % 97 = 0)"""

  /** True when `text` fingerprints clean against [[evalFingerprints]]. */
  def notInEval(text: String): String =
    s"NOT EXISTS (SELECT 1 FROM ev WHERE ev.fp = ${fingerprint(text)})"

  /** The trigram-Jaccard chain of [[graft.api.TextDedup.jaccardPairs]]
    * (n = 3, maxShingleDf = 10) over `src(doc_id, text)` up to the
    * per-pair intersection: toks → sh0 → hot (df > 10) → sh → sz
    * (shingles per doc) → inter(doc_a, doc_b, i). */
  def trigramInter(src: String = "documents"): String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM $src),
                 sh0 AS (SELECT DISTINCT doc_id,
                          unnest(list_transform(generate_series(1, len(t) - 2),
                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
                        FROM toks),
                 hot AS (SELECT s FROM sh0 GROUP BY s HAVING count(*) > 10),
                 sh AS MATERIALIZED (SELECT * FROM sh0 WHERE s NOT IN (SELECT s FROM hot)),
                 sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
                 inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
                           FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
                           GROUP BY 1, 2)"""

  /** [[trigramInter]] + `pairs(doc_a, doc_b)`: Jaccard ≥ 0.5. */
  def trigramPairs(src: String = "documents"): String =
    trigramInter(src) + """,
                 pairs AS MATERIALIZED (SELECT doc_a, doc_b
                           FROM inter JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
                           WHERE i * 1.0 / (x.n + y.n - i) >= 0.5)"""

  /** `pairs` as a directed edge list `e(u, v)`, both orientations. */
  val pairEdges: String =
    """e AS MATERIALIZED (SELECT doc_a AS u, doc_b AS v FROM pairs
                       UNION ALL SELECT doc_b, doc_a FROM pairs)"""

  /** Connected components of `pairs` as a recursive reachability
    * closure: `comp(doc_id, mn)` = smallest id reachable (needs
    * `WITH RECURSIVE`; isolated docs are absent). */
  val pairComponents: String =
    """edges AS (SELECT doc_a AS u, doc_b AS v FROM pairs
                           UNION SELECT doc_b, doc_a FROM pairs),
                 reach AS (SELECT u, v FROM edges
                           UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
                 comp AS (SELECT u AS doc_id, min(v) AS mn FROM reach GROUP BY u)"""

  /** PageRank rounds 1..`rounds` of [[graft.api.Graph.pageRank]]
    * (damping 0.85) over `ed(u, v, deg)`, `nn(n)` and the seed `r0(id,
    * rank)`: DECIMAL(30,10) per-edge contributions `cN`, ranks `rN`. */
  def pageRankRounds(rounds: Int): String = (1 to rounds).map { r =>
    val m = if (r < rounds) "MATERIALIZED " else ""
    s"""c$r AS (SELECT ed.v AS id, sum(CAST(r.rank / ed.deg AS DECIMAL(30,10))) AS cs
                        FROM ed JOIN r${r - 1} r ON r.id = ed.u GROUP BY ed.v),
                 r$r AS $m(SELECT r.id, (1 - CAST(0.85 AS DOUBLE)) / nn.n
                          + CAST(0.85 AS DOUBLE) * coalesce(CAST(c$r.cs AS DOUBLE), CAST(0.0 AS DOUBLE)) AS rank
                        FROM r${r - 1} r CROSS JOIN nn LEFT JOIN c$r ON c$r.id = r.id)"""
  }.mkString(",\n                 ")

  /** Synchronous label propagation ([[graft.api.Graph.labelPropagation]])
    * over `e(u, v)`: `l0` = every document its own label, then per round
    * the most frequent neighbor label (ties → min), through `lN`. */
  def labelPropRounds(rounds: Int): String =
    ("l0 AS (SELECT doc_id AS id, doc_id AS lab FROM documents)" +: (1 to rounds).map { r =>
      s"""n$r AS (SELECT e.u AS id, l.lab, count(*) AS c
                        FROM e JOIN l${r - 1} l ON l.id = e.v GROUP BY 1, 2),
                 t$r AS (SELECT id, lab, row_number() OVER (PARTITION BY id
                          ORDER BY c DESC, lab) AS rn FROM n$r),
                 l$r AS MATERIALIZED (SELECT l.id, coalesce(t.lab, l.lab) AS lab
                        FROM l${r - 1} l LEFT JOIN (SELECT id, lab FROM t$r WHERE rn = 1) t
                          ON t.id = l.id)"""
    }).mkString(",\n                 ")

  /** The q_logistic_* training frame `b(y, x0, x1)` and `rounds`
    * full-batch gradient steps of [[graft.api.Classifier.logisticFit]]
    * (lr 0.1, zero start): weights `w0c` … `wNc`, gradients `gNc`
    * quantized to DECIMAL(30,10) before summing. */
  def logisticRounds(rounds: Int): String = {
    val p = "(1.0/(1.0+exp(-(w0 + w1*x0 + w2*x1))) - y)"
    val steps = (1 to rounds).map { r =>
      s"""g${r}c AS (SELECT count(*) AS n,
                   sum(CAST(1.0 * $p AS DECIMAL(30,10))) AS g0,
                   sum(CAST(x0 * $p AS DECIMAL(30,10))) AS g1,
                   sum(CAST(x1 * $p AS DECIMAL(30,10))) AS g2,
                   max(w0) AS pw0, max(w1) AS pw1, max(w2) AS pw2
                 FROM b CROSS JOIN w${r - 1}c),
                 w${r}c AS (SELECT pw0 - 0.1*(CAST(g0 AS DOUBLE)/n) AS w0,
                                pw1 - 0.1*(CAST(g1 AS DOUBLE)/n) AS w1,
                                pw2 - 0.1*(CAST(g2 AS DOUBLE)/n) AS w2 FROM g${r}c)"""
    }
    (Seq("""b AS (SELECT CAST(lang = 'en' AS DOUBLE) AS y,
                   ln(CAST(n_chars AS DOUBLE) + 1.0) AS x0,
                   CAST(len(string_split(text, ' ')) AS DOUBLE) / 100.0 AS x1
                 FROM documents)""",
      "w0c AS (SELECT 0.0 AS w0, 0.0 AS w1, 0.0 AS w2)") ++ steps)
      .mkString(",\n                 ")
  }

  /** Per-doc token statistics `m` over `src(doc_id, text)` — the inputs
    * of [[graft.api.TextAnalysis.qualityScore]]. */
  def tokenStats(src: String): String =
    s"""m AS (SELECT doc_id, text,
                   len(string_split(text,' ')) AS n_tok,
                   CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) / len(string_split(text,' ')) AS ttr,
                   (CAST(length(text) AS DOUBLE) - (len(string_split(text,' ')) - 1)) / len(string_split(text,' ')) AS avg_tok_len
                 FROM $src)"""

  /** Stopword-overlap language id over `src(doc_id, text)`
    * ([[graft.api.TextAnalysis.languageId]]): `sc` per-language hits,
    * `lid(doc_id, pred_lang)` ('und' when nothing hits). */
  def langId(src: String): String =
    s"""sc AS (SELECT doc_id,
                   len(list_intersect(list_distinct(string_split(text,' ')), ['the','a','of','and','to'])) AS s_en,
                   len(list_intersect(list_distinct(string_split(text,' ')), ['el','la','de','que','y'])) AS s_es,
                   len(list_intersect(list_distinct(string_split(text,' ')), ['der','die','und','das','ist'])) AS s_de,
                   len(list_intersect(list_distinct(string_split(text,' ')), ['le','la','et','les','un'])) AS s_fr
                 FROM $src),
                 lid AS (SELECT doc_id,
                   CASE WHEN s_en = 0 AND s_es = 0 AND s_de = 0 AND s_fr = 0 THEN 'und'
                        WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
                        WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
                        WHEN s_de >= s_fr THEN 'de'
                        ELSE 'fr' END AS pred_lang
                 FROM sc)"""

  /** [[graft.api.Pipeline.prepare]]'s first stages on the non-eval
    * split: `base` → quality `q` + language id → `filt` (keep-filter) →
    * `ded` (exact dedup on the fingerprint, smallest id kept). */
  val prepareDedup: String =
    s"""base AS (SELECT * FROM documents WHERE doc_id % 97 <> 0),
                 ${tokenStats("base")},
                 q AS (SELECT doc_id, text, n_tok,
                   round(least(1.0, n_tok / 50.0) * 0.4 + ttr * 0.4
                         + least(1.0, avg_tok_len / 8.0) * 0.2, 4) AS quality
                 FROM m),
                 ${langId("base")},
                 filt AS (SELECT q.doc_id, lid.pred_lang, q.n_tok, q.quality, q.text
                          FROM q JOIN lid USING (doc_id)
                          WHERE lid.pred_lang <> 'und' AND q.quality >= 0.5
                            AND q.n_tok BETWEEN 20 AND 80),
                 ded AS (SELECT * FROM (SELECT f.*,
                           min(doc_id) OVER (PARTITION BY ${fingerprint("text")}) AS keep
                         FROM filt f) WHERE doc_id = keep)"""

  /** The BM25 corpus side: `lens(doc_id, len)`, `stats(n, avgdl)` and
    * the whitespace token stream `toks(doc_id, term)`. */
  val bm25Corpus: String =
    """lens AS (SELECT doc_id, len(string_split(text, ' ')) AS len FROM documents),
                 stats AS (SELECT count(*) AS n, avg(len) AS avgdl FROM lens),
                 toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)"""

  /** One BM25 term weight (k1 = 1.2, b = 0.75) of `qt(tf)` against
    * `dfq(df)`, `lens` and `stats`. */
  val bm25Weight: String =
    """ln(1 + (stats.n - dfq.df + 0.5) / (dfq.df + 0.5))
                           * (qt.tf * 2.2)
                           / (qt.tf + 1.2 * (1 - 0.75 + 0.75 * lens.len / stats.avgdl))"""

  /** The three-query batch of q_bm25_search / q_rrf_fusion over
    * [[bm25Corpus]]: `qterms(qid, term)`, per-doc term counts `qt`,
    * `dfq`, and per-(qid, doc, term) weights `w`. */
  val bm25Batch: String =
    s"""qterms(qid, term) AS (VALUES
                   ('spark_join', 'spark'), ('spark_join', 'join'),
                   ('window_agg', 'window'), ('window_agg', 'agg'),
                   ('stream_data', 'stream'), ('stream_data', 'data')),
                 qt AS (SELECT doc_id, term, count(*) AS tf FROM toks
                        WHERE term IN (SELECT term FROM qterms) GROUP BY 1, 2),
                 dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM qt GROUP BY 1),
                 w AS (SELECT q.qid, qt.doc_id,
                         $bm25Weight AS w
                       FROM qt JOIN dfq USING (term)
                         JOIN qterms q USING (term)
                         JOIN lens ON lens.doc_id = qt.doc_id
                         CROSS JOIN stats)"""

  /** Non-overlapping 10-token spans of every non-null document
    * ([[graft.api.TextDedup.spanDedup]]'s split, last partial span
    * included): `sp(doc_id, pos, span)`. */
  val spans10: String =
    """toks AS (SELECT doc_id, string_split(text, ' ') AS t
                          FROM documents WHERE text IS NOT NULL),
                 spans AS (SELECT doc_id,
                             unnest(list_transform(
                               generate_series(0, CAST(ceil(len(t) / 10.0) AS INT) - 1),
                               i -> struct_pack(pos := i,
                                 span := array_to_string(list_slice(t, i*10 + 1, i*10 + 10), ' '))))
                             AS s
                           FROM toks),
                 sp AS (SELECT doc_id, s.pos AS pos, s.span AS span FROM spans)"""

  /** The labelled distinct-value count frame of the event-value drift
    * tests ([[graft.api.Drift]]'s ks/emd/mannWhitney, click vs
    * purchase): `c(x, ca, cb)`. */
  val driftCounts: String =
    """c AS (SELECT value AS x,
                         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS ca,
                         sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS cb
                       FROM events WHERE event_type IN ('click', 'purchase')
                         AND value IS NOT NULL
                       GROUP BY value)"""

  /** The hourly quantized value series of
    * [[graft.api.TimeSeries]]'s autocorr family: per (event_type,
    * floor-div hour) the DECIMAL(30,10) value sum, floored to the exact
    * integer `x = floor(sum·1e4)`, over events whose key satisfies
    * `keyPred` — `series(g, bucket, x)`. */
  def hourlySeries(keyPred: String): String =
    s"""series AS (
              SELECT event_type AS g,
                     (epoch_ms(ts) // 3600000
                      - CASE WHEN epoch_ms(ts) % 3600000 < 0 THEN 1 ELSE 0 END) AS bucket,
                     CAST(floor(CAST(sum(CAST(value AS DECIMAL(30,10))) AS DOUBLE) * 10000) AS HUGEINT) AS x
              FROM events
              WHERE value IS NOT NULL AND $keyPred
              GROUP BY 1, 2)"""

  /** The first 8 hex digits of the md5 hex string `hh` as an integer,
    * LEAST significant digit first (digit k weighs 16^(k-1)) — the
    * uniform draw of [[graft.api.Privacy.dpCounts]] and
    * [[graft.api.Experiment.bootstrapMeanCi]]. */
  val md5Nibbles8: String =
    """(strpos('0123456789abcdef', substring(hh, 1, 1)) - 1) * 1
                       + (strpos('0123456789abcdef', substring(hh, 2, 1)) - 1) * 16
                       + (strpos('0123456789abcdef', substring(hh, 3, 1)) - 1) * 256
                       + (strpos('0123456789abcdef', substring(hh, 4, 1)) - 1) * 4096
                       + (strpos('0123456789abcdef', substring(hh, 5, 1)) - 1) * 65536
                       + (strpos('0123456789abcdef', substring(hh, 6, 1)) - 1) * 1048576
                       + (strpos('0123456789abcdef', substring(hh, 7, 1)) - 1) * 16777216
                       + (strpos('0123456789abcdef', substring(hh, 8, 1)) - 1) * 268435456"""
}
