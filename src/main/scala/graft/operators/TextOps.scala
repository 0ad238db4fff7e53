package graft.operators

import graft.{Q, Tables}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (north-star surface,
  * SURVEY.md §2B ext): token stats, language ID, quality scoring, token
  * counting, fingerprinting, and multimodal metadata plumbing. All narrow
  * map-side transforms except the token-frequency aggregate — at 100 TB
  * each is a single scan with partial aggregation where grouping exists.
  */
object TextOps {

  /** Token frequency via explode (Generator) → two-phase hash aggregate →
    * top-k (TakeOrderedAndProject). The explode multiplies rows ~60× but
    * map-side combine collapses them before the shuffle. */
  private val qTextStats = Q(
    "q_text_stats",
    (s, dir) =>
      graft.api.TextAnalysis.tokenFrequencies(Tables.documents(s, dir), "text", topK = 20),
    Some("""SELECT token, count(*) AS cnt
            FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
            GROUP BY token ORDER BY cnt DESC, token LIMIT 20""")
  )

  /** Language ID by stopword-set hits — the classic cheap n-gram/dictionary
    * heuristic, fully codegen'd (array_intersect on a broadcast literal).
    * Ties resolve by fixed priority en>es>de>fr; no hits → 'und'. */
  private val qLangId = Q(
    "q_lang_id",
    (s, dir) =>
      graft.api.TextAnalysis.languageId(Tables.documents(s, dir), "text")
        .select("doc_id", "pred_lang")
        .orderBy("doc_id"),
    Some("""WITH sc AS (SELECT doc_id,
              len(list_intersect(list_distinct(string_split(text,' ')), ['the','a','of','and','to'])) AS s_en,
              len(list_intersect(list_distinct(string_split(text,' ')), ['el','la','de','que','y'])) AS s_es,
              len(list_intersect(list_distinct(string_split(text,' ')), ['der','die','und','das','ist'])) AS s_de,
              len(list_intersect(list_distinct(string_split(text,' ')), ['le','la','et','les','un'])) AS s_fr
            FROM documents)
            SELECT doc_id,
              CASE WHEN s_en = 0 AND s_es = 0 AND s_de = 0 AND s_fr = 0 THEN 'und'
                   WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
                   WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
                   WHEN s_de >= s_fr THEN 'de'
                   ELSE 'fr' END AS pred_lang
            FROM sc ORDER BY doc_id""")
  )

  /** Language ID by character-TRIGRAM profiles (Cavnar & Trenkle's
    * n-gram profile method — the companion to q_lang_id's dictionary
    * form): per language, the sum of literal-trigram occurrence counts
    * in the space-padded lowercased text; argmax, priority tiebreak,
    * zero total → 'und'. Scores are EXACT INTEGERS ((len − len(remove))
    * DIV 3 per trigram — builtin string ops on both engines), and the
    * oracle SQL is GENERATED from the same profile constant
    * (TextAnalysis.trigramOracleSql), so the two sides cannot drift. */
  private val qLangIdNgram = Q(
    "q_lang_id_ngram",
    (s, dir) =>
      graft.api.TextAnalysis.languageIdNgram(Tables.documents(s, dir), "text")
        .select(col("doc_id"), col("pred_lang"), col("ng_score"))
        .orderBy("doc_id"),
    Some {
      val (scores, caseExpr) = graft.api.TextAnalysis.trigramOracleSql("text")
      val greatest = s"greatest(${scores.indices.map(i => s"s$i").mkString(", ")})"
      s"""WITH sc AS (SELECT doc_id,
              ${scores.mkString(",\n              ")}
            FROM documents)
            SELECT doc_id, $caseExpr AS pred_lang,
                   CAST($greatest AS BIGINT) AS ng_score
            FROM sc ORDER BY doc_id"""
    }
  )

  /** Quality scoring: length saturation, type-token ratio, and average
    * token length blended into [0,1]. Pure per-row math. */
  private val qQualityScore = Q(
    "q_quality_score",
    (s, dir) =>
      graft.api.TextAnalysis.qualityScore(Tables.documents(s, dir), "text")
        .select("doc_id", "n_tok", "ttr", "quality")
        .orderBy("doc_id"),
    Some("""WITH m AS (SELECT doc_id,
              len(string_split(text,' ')) AS n_tok,
              CAST(len(list_distinct(string_split(text,' '))) AS DOUBLE) / len(string_split(text,' ')) AS ttr,
              (CAST(length(text) AS DOUBLE) - (len(string_split(text,' ')) - 1)) / len(string_split(text,' ')) AS avg_tok_len
            FROM documents)
            SELECT doc_id, n_tok, round(ttr, 4) AS ttr,
              round(least(1.0, n_tok / 50.0) * 0.4 + ttr * 0.4
                    + least(1.0, avg_tok_len / 8.0) * 0.2, 4) AS quality
            FROM m ORDER BY doc_id""")
  )

  /** Token counting: whitespace split and a BPE-ish regex lexer
    * (letter-runs | digit-runs | single punctuation). */
  private val qTokenCount = Q(
    "q_token_count",
    (s, dir) =>
      graft.api.TextAnalysis.tokenCounts(Tables.documents(s, dir), "text")
        .select("doc_id", "ws_tokens", "re_tokens")
        .orderBy("doc_id"),
    Some("""SELECT doc_id, len(string_split(text, ' ')) AS ws_tokens,
              len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS re_tokens
            FROM documents ORDER BY doc_id""")
  )

  /** Document fingerprint: MD5 of whitespace-normalized lowercase text —
    * the content-addressable key for exact dedup across shards. */
  private val qFingerprint = Q(
    "q_fingerprint",
    (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), graft.api.TextDedup.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id"),
    Some(s"""SELECT doc_id, ${OracleSql.fingerprint("text")} AS fp
            FROM documents ORDER BY doc_id""")
  )

  /** Multimodal metadata plumbing: treat content as an opaque binary
    * column with typed metadata (byte length, content hash, and
    * stub-decoded dimensions). The "decode" is a clearly-marked
    * deterministic fake (real image/audio libs are absent in this
    * environment); the Spark-side plumbing — binary column, schema,
    * per-row extraction — is real. See Multimodal for the typed
    * mapPartitions variant. */
  private val qMultimodalMeta = Q(
    "q_multimodal_meta",
    (s, dir) =>
      Tables.documents(s, dir)
        .withColumn("bin", col("text").cast("binary"))
        .withColumn("byte_len", length(col("bin")).cast("long"))
        .select(
          col("doc_id"), col("byte_len"),
          sha2(col("bin"), 256).as("content_sha"),
          (col("byte_len") % 640).as("fake_width"),
          ((col("byte_len") * 7) % 480).as("fake_height"),
          (col("byte_len") % 16 + 1).as("fake_frames"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id, octet_length(encode(text)) AS byte_len,
              sha256(text) AS content_sha,
              octet_length(encode(text)) % 640 AS fake_width,
              (octet_length(encode(text)) * 7) % 480 AS fake_height,
              octet_length(encode(text)) % 16 + 1 AS fake_frames
            FROM documents ORDER BY doc_id""")
  )

  /** Heavy hitters via the space-saving sketch Aggregator
    * (graft.api.Sketches): top frequent tokens per language in ONE pass
    * with fixed memory — the scale alternative to explode+groupBy+sort
    * when only the distribution head matters. Output is flattened to one
    * scalar row per (lang, rank). k=32 ≥ the fixture vocabulary (31
    * distinct tokens per lang at every SF), so the sketch runs in its
    * exactness regime (no evictions — guarantee property-tested in
    * SketchSpec) and a plain group-count + row_number DuckDB oracle
    * applies; under eviction the same query stays one-pass approximate. */
  private val qHeavyHitters = Q(
    "q_heavy_hitters",
    (s, dir) => {
      val hh = graft.api.Sketches.heavyHitters(32)
      Tables.documents(s, dir)
        .select(col("lang"), explode(split(col("text"), " ")).as("token"))
        .groupBy("lang")
        .agg(hh(col("token")).as("top_tokens"))
        .select(col("lang"), posexplode(col("top_tokens")).as(Seq("pos", "tc")))
        .select(col("lang"), (col("pos") + 1).cast("long").as("rank"),
          col("tc._1").as("token"), col("tc._2").as("approx_count"))
        .orderBy("lang", "rank")
    },
    Some("""WITH cnt AS (SELECT lang, token, count(*) AS c FROM
              (SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents)
              GROUP BY lang, token),
                 r AS (SELECT lang, token, c,
                         row_number() OVER (PARTITION BY lang ORDER BY c DESC, token) AS rank
                       FROM cnt)
            SELECT lang, CAST(rank AS BIGINT) AS rank, token, c AS approx_count
            FROM r WHERE rank <= 32 ORDER BY lang, rank""")
  )

  /** Corpus quality filter — the canonical pretraining-data selection
    * pass, composed from the TextAnalysis library ops: keep documents
    * with identifiable language, mid-range token count, and quality ≥
    * 0.5. One narrow map-side scan; at 100 TB this is the filter that
    * runs BEFORE dedup so later shuffles see only keepers. */
  private val qCorpusFilter = Q(
    "q_corpus_filter",
    (s, dir) =>
      graft.api.TextAnalysis.languageId(
          graft.api.TextAnalysis.qualityScore(Tables.documents(s, dir), "text"), "text")
        .filter(col("pred_lang") =!= "und" && col("quality") >= 0.5 &&
          col("n_tok").between(20, 80))
        .select(col("doc_id"), col("pred_lang"), col("n_tok"), col("ttr"), col("quality"))
        .orderBy("doc_id"),
    Some(s"""WITH ${OracleSql.tokenStats("documents")},
                 q AS (SELECT doc_id, text, n_tok, round(ttr, 4) AS ttr,
              round(least(1.0, n_tok / 50.0) * 0.4 + ttr * 0.4
                    + least(1.0, avg_tok_len / 8.0) * 0.2, 4) AS quality
            FROM m),
                 ${OracleSql.langId("documents")}
            SELECT q.doc_id, lid.pred_lang, q.n_tok, q.ttr, q.quality
            FROM q JOIN lid ON q.doc_id = lid.doc_id
            WHERE lid.pred_lang <> 'und' AND q.quality >= 0.5
              AND q.n_tok BETWEEN 20 AND 80
            ORDER BY q.doc_id""")
  )

  /** Document chunking: fixed 20-token windows with stride 15 (5-token
    * overlap) — the shard-into-context-windows step of a training
    * pipeline. Pure Generator fan-out (posexplode over computed chunk
    * starts), no shuffle at all until the presentation sort. */
  private val qChunk = Q(
    "q_chunk",
    (s, dir) =>
      Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("t"))
        .select(col("doc_id"), col("t"),
          posexplode(expr(
            "transform(sequence(0, int((size(t) - 1) / 15)), i -> concat_ws(' ', slice(t, i*15 + 1, 20)))"))
            .as(Seq("chunk_id", "chunk_text")))
        .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
          col("chunk_text"),
          least(lit(20), size(col("t")) - col("chunk_id") * 15).cast("long").as("chunk_tok"))
        .orderBy("doc_id", "chunk_id"),
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
                 c AS (SELECT doc_id, t,
                         unnest(generate_series(0, CAST(floor((len(t) - 1) / 15) AS INT))) AS chunk_id
                       FROM toks)
            SELECT doc_id, CAST(chunk_id AS BIGINT) AS chunk_id,
              array_to_string(list_slice(t, chunk_id*15 + 1, chunk_id*15 + 20), ' ') AS chunk_text,
              CAST(least(20, len(t) - chunk_id*15) AS BIGINT) AS chunk_tok
            FROM c ORDER BY doc_id, chunk_id""")
  )

  /** Deterministic 20% sample by content hash (graft.api.Sampling): the
    * same document lands in the same bucket on every run and engine —
    * rand()-based sampling can't give a reproducible corpus (or survive
    * task retries). Oracle runs the identical md5-prefix formula. */
  private val qSampleHash = Q(
    "q_sample_hash",
    (s, dir) =>
      graft.api.Sampling.sample(Tables.documents(s, dir), "text", pct = 20)
        .select(col("doc_id"),
          graft.api.Sampling.hashBucket(col("text")).as("bucket"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id,
              CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100 AS bucket
            FROM documents
            WHERE CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100 < 20
            ORDER BY doc_id""")
  )

  /** Stratified deterministic sampling: per-language rates (downsample
    * dominant strata, keep rare ones) with a default for unlisted. */
  private val qSampleStratified = Q(
    "q_sample_stratified",
    (s, dir) =>
      graft.api.Sampling.stratifiedSample(Tables.documents(s, dir), "text", "lang",
          rates = Map("en" -> 50, "zh" -> 10), defaultPct = 25)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id"),
    Some("""SELECT doc_id, lang FROM documents
            WHERE CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100 <
              CASE lang WHEN 'en' THEN 50 WHEN 'zh' THEN 10 ELSE 25 END
            ORDER BY doc_id""")
  )

  /** Token-budget mixture (graft.api.Sampling.tokenBudgetMix): fill each
    * source's token budget in deterministic content-hash order — the
    * data-mixing step that turns per-domain token targets into an actual
    * corpus (rate sampling can't hit a token count when doc lengths vary
    * by stratum). Oracle runs the identical window running sum with the
    * identical (md5, id) order. */
  private val qSampleTokenBudget = Q(
    "q_sample_token_budget",
    (s, dir) =>
      graft.api.Sampling.tokenBudgetMix(Tables.documents(s, dir),
          "text", "doc_id", "source",
          tokCol = size(split(col("text"), " ")).cast("long"),
          budgets = Map("src1" -> 300L, "src2" -> 150L), defaultBudget = 500L)
        .select(col("doc_id"), col("source"), col("cum_tok"))
        .orderBy(asc_nulls_first("doc_id")),
    Some("""WITH c AS (SELECT doc_id, source,
                   sum(len(string_split(text, ' '))) OVER (PARTITION BY source
                     ORDER BY md5(text) NULLS FIRST, doc_id NULLS FIRST
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok
                 FROM documents)
            SELECT doc_id, source, CAST(cum_tok AS BIGINT) AS cum_tok
            FROM c
            WHERE cum_tok <= CASE source WHEN 'src1' THEN 300
                                         WHEN 'src2' THEN 150 ELSE 500 END
            ORDER BY doc_id NULLS FIRST""")
  )

  /** Exactly-k-per-stratum sample (graft.api.Sampling.headSample): the
    * first 5 docs of each language in deterministic (md5, id) order —
    * how a FIXED-SIZE per-language eval set is actually built (rate
    * sampling can't promise a count). */
  private val qSampleKStratum = Q(
    "q_sample_k_stratum",
    (s, dir) =>
      graft.api.Sampling.headSample(Tables.documents(s, dir),
          "text", "doc_id", "lang", k = 5)
        .select(col("doc_id"), col("lang"))
        .orderBy(asc_nulls_first("doc_id")),
    Some("""WITH r AS (SELECT doc_id, lang,
                   row_number() OVER (PARTITION BY lang
                     ORDER BY md5(text) NULLS FIRST, doc_id NULLS FIRST) AS rn
                 FROM documents)
            SELECT doc_id, lang FROM r WHERE rn <= 5
            ORDER BY doc_id NULLS FIRST""")
  )

  /** Quality-WEIGHTED deterministic sampling
    * (graft.api.Sampling.weightedSample): keep each doc with probability
    * equal to its own quality score — quality-proportional downsampling,
    * content-hash deterministic like every graft sampler. */
  private val qSampleWeighted = Q(
    "q_sample_weighted",
    (s, dir) => {
      val scored = graft.api.TextAnalysis.qualityScore(
        Tables.documents(s, dir), "text")
      graft.api.Sampling.weightedSample(scored, "text", col("quality"))
        .select(col("doc_id"), col("quality"))
        .orderBy(asc_nulls_first("doc_id"))
    },
    Some(s"""WITH ${OracleSql.tokenStats("documents")},
                 q AS (SELECT doc_id, text,
                   round(least(1.0, n_tok / 50.0) * 0.4 + ttr * 0.4
                         + least(1.0, avg_tok_len / 8.0) * 0.2, 4) AS quality
                 FROM m)
            SELECT doc_id, quality FROM q
            WHERE CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100 < quality * 100
            ORDER BY doc_id NULLS FIRST""")
  )

  /** Sequence packing (graft.api.TextAnalysis.packBins): whole documents
    * laid into ≈512-token training bins per source in deterministic
    * (md5, id) order — bin = starting-offset div 512 from a window
    * running sum, no sequential loop. pack_md5 fingerprints the exact
    * packed bytes so the oracle verifies content without shipping it. */
  private val qPack = Q(
    "q_pack",
    (s, dir) =>
      graft.api.TextAnalysis.packBins(Tables.documents(s, dir),
          "doc_id", "text", "source", seqTok = 512)
        .orderBy(asc_nulls_first("source"), asc_nulls_first("bin")),
    Some("""WITH d AS (SELECT source, doc_id, text, md5(text) AS h,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n
                 FROM documents WHERE text IS NOT NULL),
                 c AS (SELECT source, doc_id, text, h, n,
                   sum(n) OVER (PARTITION BY source
                     ORDER BY h NULLS FIRST, doc_id NULLS FIRST
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                 FROM d),
                 b AS (SELECT source, (cum - n) // 512 AS bin, doc_id, text, h, n FROM c)
            SELECT source, CAST(bin AS BIGINT) AS bin, count(*) AS n_docs,
                   CAST(sum(n) AS BIGINT) AS tok_sum,
                   md5(string_agg(text, ' ' ORDER BY h, doc_id)) AS pack_md5
            FROM b GROUP BY source, bin
            ORDER BY source NULLS FIRST, bin NULLS FIRST""")
  )

  /** GPT-style pack-WITH-SPLITTING (graft.api.TextAnalysis.packSplit):
    * all documents' tokens conceptually concatenated in doc_id order and
    * cut every 128 tokens — docs straddle boundaries, zero padding waste
    * (what causal-LM pretraining feeds the model; q_pack is the
    * whole-doc T5-style discipline). The global token-offset scan uses
    * the bucketed two-level prefix pattern (Drift.ks), never a bare
    * global window; the oracle replays it as one DuckDB window cumsum +
    * generate_series span fan-out — integer-exact. */
  private val qPackSplit = Q(
    "q_pack_split",
    (s, dir) =>
      graft.api.TextAnalysis.packSplit(Tables.documents(s, dir),
          "doc_id", "text", seqTok = 128)
        .orderBy("seq_id"),
    Some("""WITH t AS (SELECT doc_id,
                   CAST(len(string_split(text, ' ')) AS BIGINT) AS n
                 FROM documents WHERE text IS NOT NULL),
                 o AS (SELECT doc_id, n,
                   CAST(coalesce(sum(n) OVER (ORDER BY doc_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS s
                 FROM t),
                 e AS (SELECT doc_id, n, s,
                   unnest(generate_series(s // 128, (s + n - 1) // 128)) AS seq_id
                 FROM o)
            SELECT CAST(seq_id AS BIGINT) AS seq_id,
                   count(*) AS n_docs,
                   CAST(min(doc_id) AS BIGINT) AS first_doc,
                   CAST(max(doc_id) AS BIGINT) AS last_doc,
                   CAST(sum(least(s + n, (seq_id + 1) * 128)
                        - greatest(s, seq_id * 128)) AS BIGINT) AS n_tokens
            FROM e GROUP BY seq_id ORDER BY seq_id""")
  )

  /** TF-IDF relevance: top-3 scoring terms per document (first 100 docs)
    * with corpus-wide document frequencies. Ranks on the ROUNDED score —
    * distinct (tf, df) pairs can be real-equal (2·ln(10) = ln(100)) and
    * engines disagree in the last ulp of the raw doubles. */
  private val qTfidf = Q(
    "q_tfidf",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("id").orderBy(desc("tfidf"), asc("term"))
      graft.api.TextAnalysis.tfidf(Tables.documents(s, dir), "doc_id", "text")
        .filter(col("id") < 100)
        .withColumn("tfidf", round(col("tfidf"), 4))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 3)
        .select(col("id").as("doc_id"), col("term"), col("tf"), col("df"),
          col("tfidf"), col("rank"))
        .orderBy("doc_id", "rank")
    },
    Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
                 tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
                 dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
                 n AS (SELECT count(*) AS n FROM documents),
                 sc AS (SELECT doc_id, term, tf, df,
                          round(tf * ln(n.n * 1.0 / df), 4) AS tfidf
                        FROM tf JOIN dfq USING (term) CROSS JOIN n
                        WHERE doc_id < 100),
                 r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                         ORDER BY tfidf DESC, term) AS rank FROM sc)
            SELECT doc_id, term, tf, df, tfidf, CAST(rank AS BIGINT) AS rank
            FROM r WHERE rank <= 3 ORDER BY doc_id, rank""")
  )

  /** Okapi BM25 retrieval: top-20 documents for a fixed 3-term query.
    * The token stream is filtered to the query terms before aggregation;
    * global top-k goes through TakeOrderedAndProject (no global sort, no
    * unpartitioned window). */
  private val qBm25 = Q(
    "q_bm25",
    (s, dir) =>
      graft.api.TextAnalysis.bm25(Tables.documents(s, dir), "doc_id", "text",
          query = Seq("join", "window", "spark"))
        .select(col("id").as("doc_id"), round(col("score"), 4).as("score"))
        .orderBy(desc("score"), asc("doc_id"))
        .limit(20),
    Some(s"""WITH ${OracleSql.bm25Corpus},
                 qt AS (SELECT doc_id, term, count(*) AS tf FROM toks
                        WHERE term IN ('join', 'window', 'spark') GROUP BY 1, 2),
                 dfq AS (SELECT term, count(DISTINCT doc_id) AS df FROM qt GROUP BY 1),
                 w AS (SELECT qt.doc_id,
                         ${OracleSql.bm25Weight} AS w
                       FROM qt JOIN dfq USING (term)
                         JOIN lens ON lens.doc_id = qt.doc_id
                         CROSS JOIN stats)
            SELECT doc_id, round(sum(w), 4) AS score
            FROM w GROUP BY doc_id
            ORDER BY score DESC, doc_id LIMIT 20""")
  )

  /** Batched BM25 retrieval (graft.api.TextAnalysis.bm25Search): top-10
    * documents for THREE queries in one corpus pass — the search-serving
    * shape: the query-term table joins the token stream as a broadcast
    * equi-join (a thousand queries cost the same scan as one), ranking
    * is a qid-partitioned window over the shortlist-sized score frame.
    * Scoring formula verbatim from q_bm25. */
  private val qBm25Search = Q(
    "q_bm25_search",
    (s, dir) =>
      graft.api.TextAnalysis.bm25Search(Tables.documents(s, dir), "doc_id", "text",
          queries = Map(
            "spark_join" -> Seq("spark", "join"),
            "window_agg" -> Seq("window", "agg"),
            "stream_data" -> Seq("stream", "data")),
          k = 10)
        .select(col("qid"), col("rank"), col("id").as("doc_id"),
          round(col("score"), 4).as("score"))
        .orderBy(asc_nulls_first("qid"), asc_nulls_first("rank")),
    Some(s"""WITH ${OracleSql.bm25Corpus},
                 ${OracleSql.bm25Batch},
                 s AS (SELECT qid, doc_id, sum(w) AS score FROM w GROUP BY 1, 2),
                 r AS (SELECT qid, doc_id, score,
                              row_number() OVER (PARTITION BY qid
                                                 ORDER BY score DESC, doc_id) AS rank
                       FROM s)
            SELECT qid, CAST(rank AS BIGINT) AS rank, doc_id,
                   round(score, 4) AS score
            FROM r WHERE rank <= 10
            ORDER BY qid NULLS FIRST, rank NULLS FIRST""")
  )

  /** HYBRID retrieval via reciprocal-rank fusion
    * ([[graft.api.TextAnalysis.hybridSearch]]): the q_bm25_search
    * queries retrieve BOTH a lexical top-20 (BM25) and a dense top-20
    * (exact cosine against the query's probe embedding — the fixture
    * aligns doc_id ↔ vec_id), fused by RRF(d) = Σ 1/(60 + rank) — the
    * calibration-free rank combiner every hybrid RAG stack ships.
    * Fusion arithmetic is two exact IEEE divisions + one add
    * (bit-reproducible), cut with floor(x·1e6)/1e6. */
  private val qRrfFusion = Q(
    "q_rrf_fusion",
    (s, dir) =>
      graft.api.TextAnalysis.hybridSearch(
          Tables.documents(s, dir), Tables.embeddings(s, dir),
          "doc_id", "text", "vec_id", "embedding",
          queries = Seq(
            ("spark_join", Seq("spark", "join"), 0L),
            ("window_agg", Seq("window", "agg"), 1L),
            ("stream_data", Seq("stream", "data"), 2L)),
          kLex = 20, kDense = 20, k = 10)
        .orderBy(asc_nulls_first("qid"), asc_nulls_first("rank")),
    Some(s"""WITH ${OracleSql.bm25Corpus},
                 ${OracleSql.bm25Batch},
                 sl AS (SELECT qid, doc_id, sum(w) AS score FROM w GROUP BY 1, 2),
                 lexr AS (SELECT qid, doc_id,
                            row_number() OVER (PARTITION BY qid
                              ORDER BY score DESC, doc_id) AS lex_rank
                          FROM sl QUALIFY lex_rank <= 20),
                 pv(qid, pid) AS (VALUES
                   ('spark_join', 0), ('window_agg', 1), ('stream_data', 2)),
                 pe AS (SELECT pv.qid, pv.pid, e.embedding AS pemb
                        FROM pv JOIN embeddings e ON e.vec_id = pv.pid),
                 dsc AS (SELECT p.qid, v.vec_id AS doc_id,
                           round(${OracleSql.cos("v.embedding", "p.pemb")}, 4) AS sim
                         FROM embeddings v CROSS JOIN pe p
                         WHERE v.vec_id <> p.pid
                           AND v.embedding IS NOT NULL AND len(v.embedding) > 0),
                 denser AS (SELECT qid, doc_id,
                              row_number() OVER (PARTITION BY qid
                                ORDER BY sim DESC, doc_id) AS dense_rank
                            FROM dsc QUALIFY dense_rank <= 20),
                 fused AS (SELECT qid, doc_id,
                             coalesce(1.0 / (60 + l.lex_rank), 0)
                               + coalesce(1.0 / (60 + d.dense_rank), 0) AS rrf,
                             l.lex_rank, d.dense_rank
                           FROM lexr l FULL OUTER JOIN denser d USING (qid, doc_id)),
                 fr AS (SELECT qid, doc_id, rrf, lex_rank, dense_rank,
                          row_number() OVER (PARTITION BY qid
                            ORDER BY rrf DESC, doc_id) AS rank
                        FROM fused)
            SELECT qid, CAST(rank AS BIGINT) AS rank, doc_id,
                   floor(rrf * 1e6) / 1e6 AS rrf,
                   CAST(lex_rank AS BIGINT) AS lex_rank,
                   CAST(dense_rank AS BIGINT) AS dense_rank
            FROM fr WHERE rank <= 10
            ORDER BY qid NULLS FIRST, rank NULLS FIRST""")
  )

  /** Gopher-style repetition filters: duplicate-token fraction and
    * top-bigram fraction per document — the repetition signals a
    * pretraining quality pass thresholds on. */
  private val qRepStats = Q(
    "q_rep_stats",
    (s, dir) =>
      graft.api.TextAnalysis.repetitionStats(Tables.documents(s, dir), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_tok"),
          round(col("dup_token_frac"), 4).as("dup_token_frac"),
          round(col("top_bigram_frac"), 4).as("top_bigram_frac"))
        .orderBy("doc_id"),
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
                 tok AS (SELECT doc_id, len(t) AS n_tok, len(list_distinct(t)) AS n_dist FROM toks),
                 bi AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
                          i -> t[i] || ' ' || t[i+1])) AS bg
                        FROM toks WHERE len(t) >= 2),
                 bc AS (SELECT doc_id, bg, count(*) AS c FROM bi GROUP BY 1, 2),
                 ba AS (SELECT doc_id, max(c) AS top_cnt, sum(c) AS total FROM bc GROUP BY 1)
            SELECT tok.doc_id, CAST(n_tok AS BIGINT) AS n_tok,
              round(1 - n_dist * 1.0 / n_tok, 4) AS dup_token_frac,
              round(top_cnt * 1.0 / total, 4) AS top_bigram_frac
            FROM tok LEFT JOIN ba USING (doc_id) ORDER BY doc_id""")
  )

  /** Gopher rule battery (Rae et al. 2021): measured signals + per-rule
    * verdicts + the keep conjunction. All signals map-side except the
    * most-frequent-token fraction (one id-keyed hash aggregate).
    * Thresholds/stopwords are defined ONCE here and interpolated into
    * BOTH the Spark call and the oracle SQL, so a parameter change
    * cannot silently diverge the two sides (r6 ADVICE). */
  private object GopherParams {
    val minTok = 15L; val maxTok = 1000L
    val minWlen = 3.0; val maxWlen = 10.0
    val maxTopFrac = 0.25; val minStopHits = 2
    val stopwords = Seq("the", "a", "of", "and", "to")
    def sqlList: String = stopwords.mkString("['", "','", "']")
  }

  /** The Gopher scoring CTEs of q_gopher_rules / q_gopher_ablation:
    * `base` token lists, `tc`/`tp` top-token counts, and `m(doc_id,
    * n_tok, mean_wlen, top_frac, stop_hits)`. */
  private val gopherScores =
    s"""base AS (SELECT doc_id, string_split(text, ' ') AS toks,
                      length(text) AS nch
                    FROM documents WHERE text IS NOT NULL),
           tc AS (SELECT doc_id, tok, count(*) AS c FROM (
                    SELECT doc_id, unnest(toks) AS tok FROM base)
                  GROUP BY doc_id, tok),
           tp AS (SELECT doc_id, max(c) AS topc FROM tc GROUP BY doc_id),
           m AS (SELECT b.doc_id, CAST(len(toks) AS BIGINT) AS n_tok,
                   round(CAST(nch - (len(toks) - 1) AS DOUBLE) / len(toks), 4) AS mean_wlen,
                   round(CAST(topc AS DOUBLE) / len(toks), 4) AS top_frac,
                   CAST(len(list_intersect(list_distinct(toks),
                     ${GopherParams.sqlList})) AS BIGINT) AS stop_hits
                 FROM base b JOIN tp USING (doc_id))"""

  /** In-engine quality-classifier training
    * ([[graft.api.Classifier.logisticFit]]): 3 full-batch GD iterations
    * of logistic regression predicting `lang = 'en'` from two cheap
    * shape features (log char length, whitespace-token count / 100) —
    * the "fit the fastText-style quality gate on the corpus itself"
    * step. Per iteration ONE map-side-combined gradient aggregation;
    * the weight vector rides between iterations as the sanctioned
    * 1-row broadcast (the pageRank N pattern). Per-row gradient/loss
    * terms quantize to DECIMAL(30,10) before summing, so the oracle's
    * identically-unrolled 3 iterations see exactly-agreed sums. */
  private val qLogisticFit = Q(
    "q_logistic_fit",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      graft.api.Classifier.logisticFit(d,
        label = (col("lang") === "en").cast("double"),
        features = Seq(
          log(col("n_chars").cast("double") + lit(1.0)),
          size(split(col("text"), " ")).cast("double") / lit(100.0)),
        iterations = 3, lr = 0.1)
    },
    Some(s"""WITH ${OracleSql.logisticRounds(3)},
                 fin AS (SELECT count(*) AS n,
                   sum(CAST(-(y * ln(1.0/(1.0+exp(-(w0 + w1*x0 + w2*x1))))
                        + (1.0 - y) * ln(1.0 - 1.0/(1.0+exp(-(w0 + w1*x0 + w2*x1)))))
                       AS DECIMAL(30,10))) AS lsum,
                   max(w0) AS fw0, max(w1) AS fw1, max(w2) AS fw2
                 FROM b CROSS JOIN w3c)
            SELECT CAST(n AS BIGINT) AS n,
                   floor(fw0 * 10000) / 10000 AS w0,
                   floor(fw1 * 10000) / 10000 AS w1,
                   floor(fw2 * 10000) / 10000 AS w2,
                   floor(CAST(lsum AS DOUBLE) / n * 10000) / 10000 AS loss
            FROM fin""")
  )

  /** In-engine AUC of the logistic gate
    * ([[graft.api.Classifier.logisticAuc]]): the same 3 unrolled GD
    * iterations as q_logistic_fit, every doc scored with the RAW
    * weights, exact ROC AUC = U₁/(n₁·n₀) via the Mann–Whitney bucketed
    * rank scan — train AND evaluate the quality filter without ever
    * materializing a (pos, neg) pair. Scores quantize DECIMAL(30,10)
    * before becoming rank keys, so U₁ is integer-exact cross-engine. */
  private val qLogisticAuc = Q(
    "q_logistic_auc",
    (s, dir) => {
      val d = Tables.documents(s, dir)
      graft.api.Classifier.logisticAuc(d,
        label = (col("lang") === "en").cast("double"),
        features = Seq(
          log(col("n_chars").cast("double") + lit(1.0)),
          size(split(col("text"), " ")).cast("double") / lit(100.0)),
        iterations = 3, lr = 0.1)
    },
    Some(s"""WITH ${OracleSql.logisticRounds(3)},
                 sc AS (SELECT CAST(y AS INT) AS lab,
                          CAST(w0 + w1*x0 + w2*x1 AS DECIMAL(30,10)) AS s
                        FROM b CROSS JOIN w3c),
                 c AS (SELECT s AS x,
                         sum(CASE WHEN lab = 1 THEN 1 ELSE 0 END) AS ca,
                         sum(CASE WHEN lab = 0 THEN 1 ELSE 0 END) AS cb
                       FROM sc
                       WHERE s IS NOT NULL AND lab IS NOT NULL
                       GROUP BY s),
                 cum AS (SELECT ca, cb, sum(cb) OVER (ORDER BY x) AS cumb FROM c),
                 m AS (SELECT sum(ca) AS na, sum(cb) AS nb,
                              sum(CAST(ca AS HUGEINT)
                                  * CAST(2 * cumb - cb AS HUGEINT)) AS u2
                       FROM cum)
            SELECT CAST(na AS BIGINT) AS n_pos, CAST(nb AS BIGINT) AS n_neg,
                   floor(CAST(u2 AS DOUBLE) / 2 / (na * nb) * 10000) / 10000 AS auc
            FROM m""")
  )

  private val qGopherRules = Q(
    "q_gopher_rules",
    (s, dir) =>
      graft.api.TextAnalysis.gopherRules(Tables.documents(s, dir), "doc_id", "text",
          minTok = GopherParams.minTok, maxTok = GopherParams.maxTok,
          minWlen = GopherParams.minWlen, maxWlen = GopherParams.maxWlen,
          maxTopFrac = GopherParams.maxTopFrac, minStopHits = GopherParams.minStopHits,
          stopwords = GopherParams.stopwords)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id"),
    Some(s"""WITH $gopherScores
            SELECT doc_id, n_tok, mean_wlen, top_frac, stop_hits,
              n_tok BETWEEN ${GopherParams.minTok} AND ${GopherParams.maxTok} AS rule_len,
              mean_wlen BETWEEN ${GopherParams.minWlen} AND ${GopherParams.maxWlen} AS rule_wlen,
              top_frac <= ${GopherParams.maxTopFrac} AS rule_rep,
              stop_hits >= ${GopherParams.minStopHits} AS rule_stop,
              (n_tok BETWEEN ${GopherParams.minTok} AND ${GopherParams.maxTok})
                AND (mean_wlen BETWEEN ${GopherParams.minWlen} AND ${GopherParams.maxWlen})
                AND top_frac <= ${GopherParams.maxTopFrac}
                AND stop_hits >= ${GopherParams.minStopHits} AS keep
            FROM m ORDER BY doc_id""")
  )

  /** Gopher-rule ablation table: for each quality rule, how many docs
    * (and how much token mass) it rejects, and how many docs it ALONE
    * rejects (fail this rule, pass all others) — the tuning table read
    * before changing a threshold ("rule_rep only uniquely kills 12
    * docs; loosening it is nearly free"), plus the 'any' row = the
    * composite gate's total cost. One q_gopher_rules scoring pass +
    * ONE 1-row conditional aggregate unpivoted with stack (the
    * q_dedup_curve shape — adding a rule costs expressions, not
    * scans). Exact longs throughout. */
  private val qGopherAblation = Q(
    "q_gopher_ablation",
    (s, dir) => {
      val r = graft.api.TextAnalysis.gopherRules(Tables.documents(s, dir), "doc_id", "text",
        minTok = GopherParams.minTok, maxTok = GopherParams.maxTok,
        minWlen = GopherParams.minWlen, maxWlen = GopherParams.maxWlen,
        maxTopFrac = GopherParams.maxTopFrac, minStopHits = GopherParams.minStopHits,
        stopwords = GopherParams.stopwords)
      def fails(c: org.apache.spark.sql.Column) = sum(when(c, 0L).otherwise(1L))
      def ftok(c: org.apache.spark.sql.Column) = sum(when(c, 0L).otherwise(col("n_tok")))
      def only(self: org.apache.spark.sql.Column,
          others: org.apache.spark.sql.Column*) =
        sum(when(!self && others.reduce(_ && _), 1L).otherwise(0L))
      val len = col("rule_len"); val wl = col("rule_wlen")
      val rep = col("rule_rep"); val st = col("rule_stop")
      r.agg(
          fails(len).as("f_len"), ftok(len).as("t_len"), only(len, wl, rep, st).as("o_len"),
          fails(wl).as("f_wlen"), ftok(wl).as("t_wlen"), only(wl, len, rep, st).as("o_wlen"),
          fails(rep).as("f_rep"), ftok(rep).as("t_rep"), only(rep, len, wl, st).as("o_rep"),
          fails(st).as("f_stop"), ftok(st).as("t_stop"), only(st, len, wl, rep).as("o_stop"),
          fails(col("keep")).as("f_any"), ftok(col("keep")).as("t_any"))
        .selectExpr("""stack(5,
            'any',  f_any,  t_any,  CAST(NULL AS BIGINT),
            'len',  f_len,  t_len,  o_len,
            'rep',  f_rep,  t_rep,  o_rep,
            'stop', f_stop, t_stop, o_stop,
            'wlen', f_wlen, t_wlen, o_wlen)
          AS (rule, n_docs_failing, n_tokens_failing, n_docs_failing_only)""")
        .orderBy("rule")
    },
    Some(s"""WITH $gopherScores,
                 fl AS (SELECT n_tok,
                          n_tok BETWEEN ${GopherParams.minTok} AND ${GopherParams.maxTok} AS rule_len,
                          mean_wlen BETWEEN ${GopherParams.minWlen} AND ${GopherParams.maxWlen} AS rule_wlen,
                          top_frac <= ${GopherParams.maxTopFrac} AS rule_rep,
                          stop_hits >= ${GopherParams.minStopHits} AS rule_stop
                        FROM m),
                 a AS (SELECT
                         sum(CASE WHEN rule_len THEN 0 ELSE 1 END) AS f_len,
                         sum(CASE WHEN rule_len THEN 0 ELSE n_tok END) AS t_len,
                         sum(CASE WHEN NOT rule_len AND rule_wlen AND rule_rep AND rule_stop THEN 1 ELSE 0 END) AS o_len,
                         sum(CASE WHEN rule_wlen THEN 0 ELSE 1 END) AS f_wlen,
                         sum(CASE WHEN rule_wlen THEN 0 ELSE n_tok END) AS t_wlen,
                         sum(CASE WHEN NOT rule_wlen AND rule_len AND rule_rep AND rule_stop THEN 1 ELSE 0 END) AS o_wlen,
                         sum(CASE WHEN rule_rep THEN 0 ELSE 1 END) AS f_rep,
                         sum(CASE WHEN rule_rep THEN 0 ELSE n_tok END) AS t_rep,
                         sum(CASE WHEN NOT rule_rep AND rule_len AND rule_wlen AND rule_stop THEN 1 ELSE 0 END) AS o_rep,
                         sum(CASE WHEN rule_stop THEN 0 ELSE 1 END) AS f_stop,
                         sum(CASE WHEN rule_stop THEN 0 ELSE n_tok END) AS t_stop,
                         sum(CASE WHEN NOT rule_stop AND rule_len AND rule_wlen AND rule_rep THEN 1 ELSE 0 END) AS o_stop,
                         sum(CASE WHEN rule_len AND rule_wlen AND rule_rep AND rule_stop THEN 0 ELSE 1 END) AS f_any,
                         sum(CASE WHEN rule_len AND rule_wlen AND rule_rep AND rule_stop THEN 0 ELSE n_tok END) AS t_any
                       FROM fl)
            SELECT 'any' AS rule, CAST(f_any AS BIGINT) AS n_docs_failing,
                   CAST(t_any AS BIGINT) AS n_tokens_failing,
                   CAST(NULL AS BIGINT) AS n_docs_failing_only FROM a
            UNION ALL SELECT 'len', CAST(f_len AS BIGINT), CAST(t_len AS BIGINT), CAST(o_len AS BIGINT) FROM a
            UNION ALL SELECT 'rep', CAST(f_rep AS BIGINT), CAST(t_rep AS BIGINT), CAST(o_rep AS BIGINT) FROM a
            UNION ALL SELECT 'stop', CAST(f_stop AS BIGINT), CAST(t_stop AS BIGINT), CAST(o_stop AS BIGINT) FROM a
            UNION ALL SELECT 'wlen', CAST(f_wlen AS BIGINT), CAST(t_wlen AS BIGINT), CAST(o_wlen AS BIGINT) FROM a
            ORDER BY rule""")
  )

  /** Per-source PII census: email / phone / numeric-id hit counts,
    * total redactions, and how many docs carry ANY hit — the governance
    * dashboard over q_pii_scrub's per-row machinery ("which ingestion
    * source is leaking contact data?"). Patterns apply in the scrub's
    * sequential order (pattern i counts against the text AFTER patterns
    * < i replaced — no double counting), so the census sums exactly
    * what the scrub would redact. Pure map-side regex work + one hash
    * aggregate; exact longs. */
  private val qPiiCensus = Q(
    "q_pii_census",
    (s, dir) => {
      val pats = graft.api.TextAnalysis.defaultPiiPatterns
      var t: org.apache.spark.sql.Column = col("text")
      val cnts = pats.zipWithIndex.map { case ((pat, repl), i) =>
        val n = coalesce(regexp_count(t, lit(pat)), lit(0L)).as(s"n$i")
        t = regexp_replace(t, pat, repl)
        n
      }
      Tables.documents(s, dir)
        .filter(col("text").isNotNull)
        .select(col("source") +: cnts: _*)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum("n0").as("n_email"), sum("n1").as("n_phone"), sum("n2").as("n_id"),
          sum(col("n0") + col("n1") + col("n2")).as("n_pii_total"),
          sum(when(col("n0") + col("n1") + col("n2") > 0, 1L).otherwise(0L))
            .as("n_docs_with_pii"))
        .orderBy(asc_nulls_first("source"))
    },
    Some("""WITH s0 AS (SELECT source, text AS t0 FROM documents WHERE text IS NOT NULL),
                 s1 AS (SELECT source,
                          len(regexp_extract_all(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n0,
                          regexp_replace(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
                        FROM s0),
                 s2 AS (SELECT source, n0,
                          len(regexp_extract_all(t1, '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}')) AS n1,
                          regexp_replace(t1, '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}', '<PHONE>', 'g') AS t2
                        FROM s1),
                 s3 AS (SELECT source, n0, n1,
                          len(regexp_extract_all(t2, '[0-9]{6,}')) AS n2
                        FROM s2)
            SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n0) AS BIGINT) AS n_email,
                   CAST(sum(n1) AS BIGINT) AS n_phone,
                   CAST(sum(n2) AS BIGINT) AS n_id,
                   CAST(sum(n0 + n1 + n2) AS BIGINT) AS n_pii_total,
                   CAST(sum(CASE WHEN n0 + n1 + n2 > 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_docs_with_pii
            FROM s3 GROUP BY source ORDER BY source NULLS FIRST""")
  )

  /** DSIR-style importance log-weights toward the lang='en' slice
    * (Xie et al. NeurIPS'23) — vocab-sized log-ratio model, one token
    * join, decimal per-doc sum. */
  private val qDsirWeights = Q(
    "q_dsir_weights",
    (s, dir) =>
      graft.api.TextAnalysis.importanceWeights(
          Tables.documents(s, dir), "doc_id", "text", col("lang") === "en")
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id"),
    Some("""WITH toks AS (SELECT doc_id, (lang = 'en') AS is_tgt,
                            unnest(string_split(text, ' ')) AS term
                          FROM documents WHERE text IS NOT NULL),
                 counts AS (SELECT term, count(*) AS cr,
                              sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS ct
                            FROM toks GROUP BY term),
                 tot AS (SELECT sum(cr) AS nr, sum(ct) AS nt, count(*) AS v FROM counts),
                 lw AS (SELECT term,
                          ln((CAST(ct * 2 + 1 AS DOUBLE) * CAST(nr * 2 + v AS DOUBLE))
                             / (CAST(cr * 2 + 1 AS DOUBLE) * CAST(nt * 2 + v AS DOUBLE))) AS lwv
                        FROM counts, tot)
            SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_tok,
              floor(CAST(sum(CAST(lwv AS DECIMAL(30,10))) AS DOUBLE) * 1e4) / 1e4 AS logw
            FROM toks t JOIN lw USING (term)
            GROUP BY t.doc_id ORDER BY t.doc_id""")
  )

  /** The composed corpus-preparation pipeline end-to-end
    * (graft.api.Pipeline): keep-filter → exact dedup → decontaminate →
    * 50% deterministic sample, in the shuffle-minimal stage order. One
    * wide shuffle total (the dedup fingerprint); the oracle chains the
    * same four stages as CTEs. */
  private val qPipelineE2e = Q(
    "q_pipeline_e2e",
    (s, dir) =>
      graft.api.Pipeline.prepare(Tables.documents(s, dir), "doc_id", "text",
          isEval = col("doc_id") % 97 === 0, samplePct = 50)
        .select(col("doc_id"), col("pred_lang"), col("n_tok"), col("quality"))
        .orderBy("doc_id"),
    Some(s"""WITH ${OracleSql.prepareDedup},
                 ${OracleSql.evalFingerprints}
            SELECT doc_id, pred_lang, n_tok, quality
            FROM ded
            WHERE ${OracleSql.notInEval("ded.text")}
              AND CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100 < 50
            ORDER BY doc_id""")
  )

  /** Pipeline stage ACCOUNTING (graft.api.Pipeline.stageReport): the
    * per-stage in/out/dropped counts for the same q_pipeline_e2e run —
    * the observability view that blames a surprising final count on the
    * right stage. One pass: cumulative survival flags per doc + a single
    * stack-unpivoted aggregate row; same scan/shuffle bill as the
    * pipeline itself. The oracle chains scalar counts over the identical
    * CTE stages. */
  private val qPipelineReport = Q(
    "q_pipeline_report",
    (s, dir) =>
      graft.api.Pipeline.stageReport(Tables.documents(s, dir), "doc_id", "text",
        isEval = col("doc_id") % 97 === 0, samplePct = 50),
    Some(s"""WITH ${OracleSql.prepareDedup},
                 ${OracleSql.evalFingerprints},
                 clean AS (SELECT * FROM ded
                           WHERE ${OracleSql.notInEval("ded.text")}),
                 samp AS (SELECT * FROM clean
                          WHERE CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100 < 50)
            SELECT stage_no, stage, CAST(n_in AS BIGINT) AS n_in,
                   CAST(n_out AS BIGINT) AS n_out,
                   CAST(n_in - n_out AS BIGINT) AS n_dropped
            FROM (
              SELECT CAST(1 AS BIGINT) AS stage_no, 'keep_filter' AS stage,
                     (SELECT count(*) FROM base) AS n_in, (SELECT count(*) FROM filt) AS n_out
              UNION ALL SELECT 2, 'exact_dedup',
                     (SELECT count(*) FROM filt), (SELECT count(*) FROM ded)
              UNION ALL SELECT 3, 'decontaminate',
                     (SELECT count(*) FROM ded), (SELECT count(*) FROM clean)
              UNION ALL SELECT 4, 'sample',
                     (SELECT count(*) FROM clean), (SELECT count(*) FROM samp)) t
            ORDER BY stage_no""")
  )

  /** The composed pipeline with the NEAR-dedup stage ON
    * (graft.api.Pipeline, nearDedup = true): keep-filter → exact dedup →
    * n-gram Jaccard clustering with one canonical doc kept per near-dup
    * cluster → decontaminate → 50% deterministic sample. The oracle
    * chains the recursive reachability-closure CC (the q_dedup_clusters
    * oracle) into the pipeline CTE chain, computed over the
    * exact-deduped corpus exactly as the Spark stage order does. */
  private val qPipelineNeardup = Q(
    "q_pipeline_neardup",
    (s, dir) =>
      graft.api.Pipeline.prepare(Tables.documents(s, dir), "doc_id", "text",
          isEval = col("doc_id") % 97 === 0, samplePct = 50,
          nearDedup = true, shingleN = 3, jaccardThreshold = 0.5,
          maxShingleDf = 10L)
        .select(col("doc_id"), col("pred_lang"), col("n_tok"), col("quality"))
        .orderBy("doc_id"),
    Some(s"""WITH RECURSIVE
                 ${OracleSql.prepareDedup},
                 ${OracleSql.trigramPairs("ded")},
                 ${OracleSql.pairComponents},
                 nd AS (SELECT d.* FROM ded d LEFT JOIN comp c USING (doc_id)
                        WHERE coalesce(least(c.mn, d.doc_id), d.doc_id) = d.doc_id),
                 ${OracleSql.evalFingerprints}
            SELECT doc_id, pred_lang, n_tok, quality
            FROM nd
            WHERE ${OracleSql.notInEval("nd.text")}
              AND CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100 < 50
            ORDER BY doc_id""")
  )

  /** Corpus profile (graft.api.Profiler): exact per-column row / null /
    * distinct counts in ONE scan — the QA pass run before and after
    * every preparation stage. All-BIGINT output, engine-portable. */
  private val qProfile = Q(
    "q_profile",
    (s, dir) =>
      graft.api.Profiler.profile(Tables.documents(s, dir))
        .orderBy("col_name"),
    Some("""SELECT * FROM (
              SELECT 'doc_id' AS col_name, count(*) AS n_rows,
                     count(*) - count(doc_id) AS n_nulls,
                     count(DISTINCT doc_id) AS n_distinct FROM documents
              UNION ALL SELECT 'text', count(*), count(*) - count(text),
                     count(DISTINCT text) FROM documents
              UNION ALL SELECT 'lang', count(*), count(*) - count(lang),
                     count(DISTINCT lang) FROM documents
              UNION ALL SELECT 'source', count(*), count(*) - count(source),
                     count(DISTINCT source) FROM documents
              UNION ALL SELECT 'n_chars', count(*), count(*) - count(n_chars),
                     count(DISTINCT n_chars) FROM documents
            ) ORDER BY col_name""")
  )

  /** Column entropy (graft.api.Profiler.entropy): Shannon entropy of the
    * documents corpus' lang and source distributions — the concentration
    * QA metric q_profile's distinct counts can't give (5 sources can be
    * balanced or 99%-one-crawl; only H tells them apart, and it's what a
    * temperature-mix decision reads). Per column one vocab-sized hash
    * aggregate re-aggregated to a single row; c·ln c terms accumulate as
    * DECIMAL(30,10) (ln of integral doubles — the unigramNll parity). */
  private val qEntropy = Q(
    "q_entropy",
    (s, dir) =>
      graft.api.Profiler.entropy(Tables.documents(s, dir), Seq("lang", "source"))
        .orderBy("col_name"),
    Some("""WITH lc AS (SELECT lang AS v, count(*) AS c FROM documents
                        WHERE lang IS NOT NULL GROUP BY 1),
                 la AS (SELECT count(*) AS k, sum(c) AS n,
                               sum(CAST(ln(CAST(c AS DOUBLE)) * CAST(c AS DOUBLE) AS DECIMAL(30,10))) AS s
                        FROM lc),
                 sc AS (SELECT source AS v, count(*) AS c FROM documents
                        WHERE source IS NOT NULL GROUP BY 1),
                 sa AS (SELECT count(*) AS k, sum(c) AS n,
                               sum(CAST(ln(CAST(c AS DOUBLE)) * CAST(c AS DOUBLE) AS DECIMAL(30,10))) AS s
                        FROM sc),
                 u AS (SELECT 'lang' AS col_name, CAST(k AS BIGINT) AS n_distinct,
                              floor((ln(CAST(n AS DOUBLE)) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * 10000) / 10000 AS entropy
                       FROM la
                       UNION ALL
                       SELECT 'source', CAST(k AS BIGINT),
                              floor((ln(CAST(n AS DOUBLE)) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) * 10000) / 10000
                       FROM sa)
            SELECT col_name, n_distinct, entropy,
                   CASE WHEN n_distinct > 1
                        THEN floor(entropy / ln(CAST(n_distinct AS DOUBLE)) * 10000) / 10000
                   END AS norm_entropy
            FROM u ORDER BY col_name""")
  )

  /** Key-skew profile (graft.api.Skew.keyProfile): the top-20 hottest
    * user_ids in the event stream with corpus share and skew_x (count ÷
    * mean-rows-per-key) — the measurement that decides whether the next
    * join/groupBy on this key needs Skew.saltedAggregate and with how
    * many buckets. One map-side-combining key aggregate + a 1-row
    * (total, n_keys) corpus-constant broadcast + top-N. */
  private val qSkewProfile = Q(
    "q_skew_profile",
    (s, dir) =>
      graft.api.Skew.keyProfile(Tables.events(s, dir), "user_id", 20),
    Some("""WITH c AS (SELECT user_id AS key, count(*) AS cnt FROM events GROUP BY 1),
                 t AS (SELECT sum(cnt) AS total, count(*) AS nkeys FROM c)
            SELECT key, CAST(cnt AS BIGINT) AS cnt,
                   floor(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE) * 10000) / 10000 AS share,
                   floor(CAST(cnt AS DOUBLE) / (CAST(total AS DOUBLE) / CAST(nkeys AS DOUBLE)) * 10000) / 10000 AS skew_x
            FROM c, t
            ORDER BY cnt DESC, key ASC NULLS FIRST
            LIMIT 20""")
  )

  /** Equi-width histogram (graft.api.Profiler.histogram): the price
    * distribution in 20 buckets with explicit zero rows — the
    * distribution-QA view (length/score/price histograms) a profile's
    * scalar stats can't give. 1-row min/max broadcast + one map-side
    * bucket projection + a ≤ nBuckets aggregate; the bucket formula is
    * the explicit floor((x−lo)/width)+1 so both engines run identical
    * IEEE double math (DuckDB has no width_bucket). */
  private val qHistogram = Q(
    "q_histogram",
    (s, dir) =>
      graft.api.Profiler.histogram(Tables.lineitem(s, dir), "l_extendedprice", 20)
        .orderBy("bucket"),
    Some("""WITH v AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem
                       WHERE l_extendedprice IS NOT NULL),
                 r AS (SELECT min(x) AS lo, max(x) AS hi FROM v),
                 b AS (SELECT CASE WHEN r.hi = r.lo THEN 1
                              ELSE least(CAST(floor((v.x - r.lo) / ((r.hi - r.lo) / 20)) AS BIGINT) + 1, 20)
                              END AS bucket
                       FROM v, r),
                 c AS (SELECT bucket, count(*) AS cnt FROM b GROUP BY bucket),
                 s AS (SELECT unnest(generate_series(1, 20)) AS bucket, r.lo, r.hi FROM r)
            SELECT CAST(s.bucket AS BIGINT) AS bucket,
                   round(s.lo + (s.bucket - 1) * (s.hi - s.lo) / 20, 4) AS lo,
                   round(s.lo + s.bucket * (s.hi - s.lo) / 20, 4) AS hi,
                   CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt
            FROM s LEFT JOIN c USING (bucket)
            ORDER BY bucket""")
  )

  /** PII scrubbing (graft.api.TextAnalysis.piiScrub): redact emails /
    * dashed phones / long numeric ids in order, counting redactions —
    * the pseudonymization pass that runs before any other operator sees
    * the text. Pure map-side codegen'd regex, no shuffle. Run over
    * `customer.c_name` (whose Customer#NNNNNNNNN ids exercise the
    * numeric-id pattern with a non-trivial redaction set; the email and
    * phone patterns are unit-tested on synthetic rows). The oracle
    * replays the same ordered count-then-replace chain — counts are on
    * the PREVIOUS stage's output, so a token already rewritten is never
    * double-counted. */
  private val qPiiScrub = Q(
    "q_pii_scrub",
    (s, dir) =>
      graft.api.TextAnalysis.piiScrub(Tables.customer(s, dir), "c_name")
        .select(col("c_custkey"), col("clean"), col("n_pii"))
        .orderBy("c_custkey"),
    Some("""WITH s0 AS (SELECT c_custkey, c_name AS t0 FROM customer),
                 s1 AS (SELECT c_custkey,
                          len(regexp_extract_all(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n1,
                          regexp_replace(t0, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS t1
                        FROM s0),
                 s2 AS (SELECT c_custkey, n1,
                          len(regexp_extract_all(t1, '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}')) AS n2,
                          regexp_replace(t1, '[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}', '<PHONE>', 'g') AS t2
                        FROM s1),
                 s3 AS (SELECT c_custkey, n1, n2,
                          len(regexp_extract_all(t2, '[0-9]{6,}')) AS n3,
                          regexp_replace(t2, '[0-9]{6,}', '<ID>', 'g') AS t3
                        FROM s2)
            SELECT c_custkey, t3 AS clean,
                   CAST(coalesce(n1, 0) + coalesce(n2, 0) + coalesce(n3, 0) AS BIGINT) AS n_pii
            FROM s3 ORDER BY c_custkey""")
  )

  /** Unigram-LM perplexity scoring (graft.api.TextAnalysis.unigramNll):
    * per-doc average negative log-likelihood against the corpus's own
    * unigram distribution — the CCNet-style LM quality signal (high =
    * outlier). One exploded stream, a vocab-sized count aggregate, a
    * token→count equi-join, a per-doc aggregate; ln values cross the
    * per-doc sum as DECIMAL(30,10) so neither accumulation order nor
    * last-ulp libm drift can split the engines (the q_resample_agg
    * pattern), and the final avg floors to 4dp. */
  private val qPerplexity = Q(
    "q_perplexity",
    (s, dir) =>
      graft.api.TextAnalysis.unigramNll(Tables.documents(s, dir), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_tok"),
          (floor(col("avg_nll") * 10000) / 10000.0).as("avg_nll"))
        .orderBy("doc_id"),
    Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
                 c AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
                 tot AS (SELECT count(*) AS n_total FROM toks),
                 d AS (SELECT t.doc_id, count(*) AS n_tok,
                         sum(CAST(ln(CAST(c.c AS DOUBLE)) AS DECIMAL(30,10))) AS s
                       FROM toks t JOIN c USING (term) GROUP BY t.doc_id)
            SELECT d.doc_id, d.n_tok,
              floor((ln(CAST(tot.n_total AS DOUBLE)) - CAST(d.s AS DOUBLE) / d.n_tok) * 10000) / 10000 AS avg_nll
            FROM d, tot ORDER BY d.doc_id""")
  )

  /** Interpolated BIGRAM-LM perplexity scoring
    * (graft.api.TextAnalysis.bigramNll, λ=0.75 Jelinek-Mercer): per-doc
    * average negative log-likelihood of each bigram transition under
    * λ·c(ab)/c(a) + (1−λ)·c(b)/N — the higher-order CCNet-style LM
    * signal q_perplexity's unigram stops short of. Reuses the shared
    * 2-gram shingle stream (q_collocations' bigram definition); the
    * dyadic λ + single-ln-per-position + DECIMAL(30,10) per-doc sum
    * keep both engines bit-aligned (invariant-1 discipline). Docs with
    * <2 tokens have no transitions and drop out on both sides. */
  private val qPerplexityBigram = Q(
    "q_perplexity_bigram",
    (s, dir) =>
      graft.api.TextAnalysis.bigramNll(Tables.documents(s, dir), "doc_id", "text",
          lambda = 0.75)
        .select(col("id").as("doc_id"), col("n_big"),
          (floor(col("avg_nll") * 10000) / 10000.0).as("avg_nll"))
        .orderBy("doc_id"),
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
                 toks AS (SELECT doc_id, unnest(t) AS term FROM t),
                 uni AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
                 tot AS (SELECT count(*) AS n_total FROM toks),
                 bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
                          i -> t[i] || ' ' || t[i+1])) AS pair FROM t),
                 bgc AS (SELECT pair, count(*) AS cab FROM bg GROUP BY pair),
                 sc AS (SELECT bg.doc_id,
                          ln(0.75 * (CAST(bgc.cab AS DOUBLE) / ua.c) +
                             0.25 * (CAST(ub.c AS DOUBLE) / tot.n_total)) AS lp
                        FROM bg
                        JOIN bgc USING (pair)
                        JOIN uni ua ON ua.term = string_split(bg.pair, ' ')[1]
                        JOIN uni ub ON ub.term = string_split(bg.pair, ' ')[2], tot)
            SELECT doc_id, count(*) AS n_big,
                   floor(-(CAST(sum(CAST(lp AS DECIMAL(30,10))) AS DOUBLE) / count(*)) * 10000) / 10000
                     AS avg_nll
            FROM sc GROUP BY doc_id ORDER BY doc_id""")
  )

  /** Kneser-Ney bigram NLL per document
    * (graft.api.TextAnalysis.kneserNeyNll, D = 0.75): absolute
    * discounting with CONTINUATION-probability backoff — the
    * NLP-correct smoothing next to q_perplexity_bigram's simple
    * interpolation; same exactness discipline (exact counts, dyadic
    * discount, one ln per position, DECIMAL per-doc sums). */
  private val qPerplexityKn = Q(
    "q_perplexity_kn",
    (s, dir) =>
      graft.api.TextAnalysis.kneserNeyNll(Tables.documents(s, dir), "doc_id", "text",
          discount = 0.75)
        .select(col("id").as("doc_id"), col("n_big"),
          (floor(col("avg_nll") * 10000) / 10000.0).as("avg_nll"))
        .orderBy("doc_id"),
    Some("""WITH t AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
                 bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(t) - 1),
                          i -> t[i] || ' ' || t[i+1])) AS pair FROM t),
                 bgc AS (SELECT pair, count(*) AS cab FROM bg GROUP BY pair),
                 sp AS (SELECT pair, cab,
                               string_split(pair, ' ')[1] AS a,
                               string_split(pair, ' ')[2] AS b
                        FROM bgc),
                 ctx AS (SELECT a, sum(cab) AS ca, count(*) AS n1a FROM sp GROUP BY a),
                 cont AS (SELECT b, count(*) AS n1b FROM sp GROUP BY b),
                 tt AS (SELECT count(*) AS tt FROM sp),
                 sc AS (SELECT bg.doc_id,
                          ln((CAST(sp.cab AS DOUBLE) - 0.75) / CAST(ctx.ca AS DOUBLE)
                             + 0.75 * CAST(ctx.n1a AS DOUBLE) / CAST(ctx.ca AS DOUBLE)
                               * (CAST(cont.n1b AS DOUBLE) / CAST(tt.tt AS DOUBLE))) AS lp
                        FROM bg JOIN sp USING (pair)
                                JOIN ctx ON ctx.a = sp.a
                                JOIN cont ON cont.b = sp.b, tt)
            SELECT doc_id, count(*) AS n_big,
                   floor(-(CAST(sum(CAST(lp AS DECIMAL(30,10))) AS DOUBLE) / count(*)) * 10000) / 10000
                     AS avg_nll
            FROM sc GROUP BY doc_id ORDER BY doc_id""")
  )

  /** BPE-style adjacent-pair statistics
    * (graft.api.TextAnalysis.adjacentPairs): the top-20 most frequent
    * adjacent token pairs corpus-wide — the scan each BPE vocabulary
    * merge round runs. Generator fan-out + one map-side-combining hash
    * aggregate + TakeOrderedAndProject. */
  private val qBpePairs = Q(
    "q_bpe_pairs",
    (s, dir) =>
      graft.api.TextAnalysis.adjacentPairs(Tables.documents(s, dir), "text", topK = 20),
    Some("""WITH t AS (SELECT string_split(text, ' ') AS t FROM documents),
                 p AS (SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                         i -> t[i] || ' ' || t[i+1])) AS pair FROM t)
            SELECT pair, count(*) AS cnt FROM p
            GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20""")
  )

  /** Iterative BPE vocabulary LEARNER
    * (graft.api.TextAnalysis.bpeLearn): 12 character-level merge rounds
    * over the documents corpus — each round merges the most frequent
    * adjacent symbol pair (count-desc, pair-asc tiebreak) everywhere and
    * recounts, the published subword algorithm. One corpus scan builds
    * the word-frequency table; every round after is vocab-sized.
    * Iterative but DETERMINISTIC → the oracle unrolls all 12 rounds in
    * DuckDB ([[BpeOracleSql]]: sentinel-rendered symbols make plain
    * string replace ≡ the greedy fold); the merge sequence is ALSO
    * pinned against an independent plain-Scala model in
    * OperatorPropertiesSpec ("bpeLearn ≡ plain-Scala reference"). */
  private val qBpeLearn = Q(
    "q_bpe_learn",
    (s, dir) =>
      graft.api.TextAnalysis.bpeLearn(Tables.documents(s, dir), "text", rounds = 12)
        .orderBy("round"),
    Some(BpeOracleSql.learnSql)
  )

  /** BPE ENCODE (graft.api.TextAnalysis.bpeEncode): apply the 12-round
    * learned merge table and report the top-30 subwords by corpus
    * usage — the learn→apply round trip (the vocabulary the corpus
    * actually tokenizes into, not just the merge list). The merge fold
    * runs over the DISTINCT-WORD table, not corpus rows — encoding is
    * a pure function of the word, so one corpus scan builds the
    * word-frequency table and everything after is vocab-sized (the same
    * reason the learner aggregates words first; the per-row form
    * measured 6× slower on the same fixture). Oracle: [[BpeOracleSql]]
    * continues from the unrolled learn chain's final vocab state —
    * parse, explode weighted, top-30; encode ≡ plain-Scala reference
    * remains property-tested (incl. losslessness) in
    * OperatorPropertiesSpec. */
  private val qBpeEncode = Q(
    "q_bpe_encode",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val merges = graft.api.TextAnalysis.bpeLearn(docs, "text", rounds = 12)
        .orderBy("round").select("left", "right")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      val vocab = docs.select(explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .groupBy("w").agg(count(lit(1)).as("wcnt"))
      graft.api.TextAnalysis.bpeEncode(vocab, "w", merges)
        .select(explode(flatten(col("subwords"))).as("subword"), col("wcnt"))
        .groupBy("subword").agg(sum(col("wcnt")).as("cnt"))
        .orderBy(desc("cnt"), asc("subword"))
        .limit(30)
    },
    Some(BpeOracleSql.encodeSql)
  )

  /** PMI collocations (graft.api.TextAnalysis.pmiCollocations): top-30
    * adjacent token pairs by pointwise mutual information among pairs
    * seen ≥5 times — the association lens q_bpe_pairs' raw counts miss.
    * The likelihood ratio builds from exact longs through
    * correctly-rounded IEEE ops, then ONE ln (the only transcendental —
    * the whole cross-engine surface), floored to 4dp; the order key is
    * the floored value + pair tiebreak. */
  private val qCollocations = Q(
    "q_collocations",
    (s, dir) =>
      graft.api.TextAnalysis.pmiCollocations(Tables.documents(s, dir), "text",
        minCount = 5L, topK = 30),
    Some("""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS term FROM documents),
                 c AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
                 nt AS (SELECT CAST(sum(c) AS BIGINT) AS n_tok FROM c),
                 t2 AS (SELECT string_split(text, ' ') AS t FROM documents),
                 bgs AS (SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                           i -> t[i] || ' ' || t[i+1])) AS pair FROM t2),
                 bg AS (SELECT pair, count(*) AS cnt FROM bgs GROUP BY pair),
                 nb AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_bg FROM bg),
                 j AS (SELECT bg.pair, bg.cnt, ca.c AS c_left, cb.c AS c_right
                       FROM bg
                       JOIN c ca ON ca.term = string_split(bg.pair, ' ')[1]
                       JOIN c cb ON cb.term = string_split(bg.pair, ' ')[2]
                       WHERE bg.cnt >= 5)
            SELECT pair, cnt, c_left, c_right,
              floor(ln((CAST(cnt AS DOUBLE) / CAST(n_bg AS DOUBLE))
                       * (CAST(n_tok AS DOUBLE) / CAST(c_left AS DOUBLE))
                       * (CAST(n_tok AS DOUBLE) / CAST(c_right AS DOUBLE))) * 10000) / 10000 AS pmi
            FROM j, nb, nt ORDER BY pmi DESC, pair LIMIT 30""")
  )

  /** Temperature-smoothed source mixing
    * (graft.api.Sampling.temperatureMix): per-source keep rates ∝
    * √share / share scaled to a ~50% corpus — the α = 0.5 multilingual
    * rebalancing recipe (upsample tails, downsample heads), capped at
    * 100% and floored at 1% (a tiny stratum is kept thin, never
    * silently deleted); NULL strata are dropped AND excluded from the
    * normalizer. Rates derive from a strata-sized aggregate + 1-row
    * normalizer; docs take a broadcast stratum join + the map-side
    * content-hash filter. The oracle replays the identical decimal
    * weight sum and double rate formula. */
  private val qMixTemperature = Q(
    "q_mix_temperature",
    (s, dir) =>
      graft.api.Sampling.temperatureMix(Tables.documents(s, dir), "text", "source",
          targetPct = 50)
        .select(col("doc_id"), col("source"), col("pct"))
        .orderBy("doc_id"),
    Some("""WITH c AS (SELECT source, count(*) AS n,
                         CAST(sqrt(CAST(count(*) AS DOUBLE)) AS DECIMAL(30,10)) AS w
                       FROM documents WHERE source IS NOT NULL GROUP BY source),
                 z AS (SELECT sum(w) AS z, sum(n) AS total FROM c),
                 r AS (SELECT c.source,
                         greatest(1, least(100, CAST(floor(50.0 * CAST(z.total AS DOUBLE) * CAST(c.w AS DOUBLE)
                           / (CAST(z.z AS DOUBLE) * CAST(c.n AS DOUBLE))) AS BIGINT))) AS pct
                       FROM c, z)
            SELECT d.doc_id, d.source, r.pct
            FROM documents d JOIN r USING (source)
            WHERE CAST(('0x' || substr(md5(d.text), 1, 8)) AS BIGINT) % 100 < r.pct
            ORDER BY d.doc_id""")
  )

  /** Equal-frequency (quantile) binning
    * (graft.api.Profiler.quantileBins): the price distribution in 10
    * ≈equal-count buckets — the feature-engineering complement to
    * q_histogram's equal-width view (a skewed column still fills every
    * bucket). Cuts are ONE exact-percentile aggregate broadcast as a
    * 1-row array; assignment is a map-side strict-`>` rank against the
    * cut list, ties land low. Oracle replays the identical cut list
    * (quantile_cont parity) and rank formula. */
  private val qBinQuantile = Q(
    "q_bin_quantile",
    (s, dir) =>
      graft.api.Profiler.quantileBins(Tables.lineitem(s, dir), "l_extendedprice", 10)
        .orderBy("bucket"),
    Some("""WITH v AS (SELECT CAST(l_extendedprice AS DOUBLE) AS x FROM lineitem
                       WHERE l_extendedprice IS NOT NULL),
                 c AS (SELECT quantile_cont(x, [0.1, 0.2, 0.3, 0.4, 0.5, 0.6, 0.7, 0.8, 0.9]) AS cuts
                       FROM v),
                 b AS (SELECT 1 + len(list_filter(c.cuts, e -> v.x > e)) AS bucket FROM v, c),
                 cnt AS (SELECT bucket, count(*) AS cnt FROM b GROUP BY bucket),
                 s AS (SELECT unnest(generate_series(1, 10)) AS bucket, c.cuts FROM c)
            SELECT CAST(s.bucket AS BIGINT) AS bucket,
                   round(CASE WHEN s.bucket > 1 THEN s.cuts[CAST(s.bucket - 1 AS INT)] END, 4) AS lo,
                   CAST(coalesce(cnt.cnt, 0) AS BIGINT) AS cnt
            FROM s LEFT JOIN cnt USING (bucket) ORDER BY bucket""")
  )

  /** Winsorization (graft.api.Profiler.winsorize): event values clamped
    * into their [p1, p99] range — outlier trimming without dropping
    * rows. Clamped output is bit-exact the original value or a cut
    * (the q_agg_percentile interpolation parity), flags are exact
    * integer comparisons; output sampled by id to keep the dump lean.
    * value_w floors at 4dp only because the CUT endpoints are derived
    * doubles (invariant 1). */
  private val qWinsorize = Q(
    "q_winsorize",
    (s, dir) =>
      graft.api.Profiler.winsorize(Tables.events(s, dir), "value",
          loFrac = 0.01, hiFrac = 0.99)
        .filter(col("event_id") % 13 === 0)
        .select(col("event_id"),
          (floor(col("value_w") * 10000) / 10000.0).as("value_w"),
          col("clipped_low"), col("clipped_high"))
        .orderBy("event_id"),
    Some("""WITH v AS (SELECT event_id, value FROM events),
                 c AS (SELECT quantile_cont(value, 0.01) AS lo,
                              quantile_cont(value, 0.99) AS hi
                       FROM v WHERE value IS NOT NULL)
            SELECT event_id,
                   floor(least(greatest(value, lo), hi) * 10000) / 10000 AS value_w,
                   CAST(value < lo AS BIGINT) AS clipped_low,
                   CAST(value > hi AS BIGINT) AS clipped_high
            FROM v, c WHERE event_id % 13 = 0 ORDER BY event_id""")
  )

  /** MAD robust outliers (graft.api.Profiler.madOutliers): events whose
    * value deviates from the corpus median by more than 3·1.4826·MAD —
    * the 50%-breakdown-proof complement to q_anomaly's rolling z-score
    * (whose mean/σ the outliers themselves drag). Median and MAD are
    * exact interpolated percentiles (quantile_cont parity); deviation
    * and threshold are single IEEE expressions, so the flag set is
    * engine-exact. */
  private val qMadOutliers = Q(
    "q_mad_outliers",
    (s, dir) =>
      graft.api.Profiler.madOutliers(Tables.events(s, dir), "value", k = 3.0)
        .select(col("event_id"), col("value"),
          (floor(col("abs_dev") * 10000) / 10000.0).as("abs_dev"))
        .orderBy("event_id"),
    Some("""WITH m AS (SELECT quantile_cont(value, 0.5) AS med
                       FROM events WHERE value IS NOT NULL),
                 d AS (SELECT quantile_cont(abs(value - med), 0.5) AS mad
                       FROM events, m WHERE value IS NOT NULL)
            SELECT event_id, value,
                   floor(abs(value - med) * 10000) / 10000 AS abs_dev
            FROM events, m, d
            WHERE value IS NOT NULL AND abs(value - med) > 3.0 * 1.4826 * mad
            ORDER BY event_id""")
  )

  /** Zipf's-law slope per source ([[graft.api.TextAnalysis.zipfFit]]):
    * OLS fit of ln(freq) on ln(rank) over each source's top-100 token
    * frequencies — the corpus-quality fingerprint that flags
    * boilerplate-heavy or template-spam slices. `regr_slope` on both
    * sides (identical covar/var formulation); the ≤100-term double
    * accumulations round at 4dp (invariant 1 small-sum case). */
  private val qZipfFit = Q(
    "q_zipf_fit",
    (s, dir) =>
      graft.api.TextAnalysis.zipfFit(Tables.documents(s, dir), "source", "text",
          topN = 100)
        .select(col("g").as("source"), round(col("zipf_slope"), 4).as("zipf_slope"),
          col("n_ranks"))
        .orderBy("source"),
    Some("""WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS tok
                          FROM documents),
                 c AS (SELECT source, tok, count(*) AS cnt FROM toks
                       WHERE len(tok) > 0 GROUP BY 1, 2),
                 r AS (SELECT source, cnt,
                         row_number() OVER (PARTITION BY source
                           ORDER BY cnt DESC, tok ASC) AS rank
                       FROM c)
            SELECT source, round(regr_slope(ln(cnt), ln(rank)), 4) AS zipf_slope,
                   count(*) AS n_ranks
            FROM r WHERE rank <= 100 GROUP BY source ORDER BY source""")
  )

  /** Heaps'-law vocabulary-growth fit
    * ([[graft.api.TextAnalysis.heapsFit]]): log-log OLS of per-document
    * distinct-token count on total-token count — V ≈ K·Nᵝ. With
    * q_zipf_fit it's the second classic corpus-shape fingerprint, and
    * it forecasts vocabulary (hence BPE/embedding-table) size at 100 TB
    * from a sample. One (doc, token) aggregate then a 1-row moment
    * aggregate; the q_linear_fit exactness discipline (quantized-ln
    * ints, DECIMAL(38,0)/HUGEINT moments, fixed final expressions). */
  private val qHeapsFit = Q(
    "q_heaps_fit",
    (s, dir) =>
      graft.api.TextAnalysis.heapsFit(Tables.documents(s, dir), "doc_id", "text"),
    Some("""WITH tk AS (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS tok
                        FROM documents),
                 pd AS (SELECT id, count(*) AS n_tok, count(DISTINCT tok) AS v_tok
                        FROM tk WHERE len(tok) > 0 GROUP BY 1),
                 q AS (SELECT CAST(floor(ln(CAST(n_tok AS DOUBLE)) * 10000) AS HUGEINT) AS x,
                              CAST(floor(ln(CAST(v_tok AS DOUBLE)) * 10000) AS HUGEINT) AS y
                       FROM pd WHERE n_tok >= 2),
                 m AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
                              sum(x * y) AS sxy, sum(x * x) AS sxx,
                              sum(y * y) AS syy
                       FROM q)
            SELECT CAST(n AS BIGINT) AS n_docs,
                   CASE WHEN (n * sxx - sx * sx) > 0
                        THEN floor(CAST(n * sxy - sx * sy AS DOUBLE)
                                   / CAST(n * sxx - sx * sx AS DOUBLE) * 10000) / 10000
                        ELSE 0.0 END AS beta,
                   CASE WHEN (n * sxx - sx * sx) > 0
                        THEN floor(CAST(sy * sxx - sx * sxy AS DOUBLE)
                                   / CAST(n * sxx - sx * sx AS DOUBLE)) / 10000
                        ELSE floor(CAST(sy AS DOUBLE) / n) / 10000 END AS ln_k,
                   CASE WHEN (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
                        THEN floor(CAST(n * sxy - sx * sy AS DOUBLE)
                                   * CAST(n * sxy - sx * sy AS DOUBLE)
                                   / (CAST(n * sxx - sx * sx AS DOUBLE)
                                      * CAST(n * syy - sy * sy AS DOUBLE)) * 10000) / 10000
                        ELSE 0.0 END AS r2
            FROM m""")
  )

  /** In-engine multinomial Naive Bayes language classifier
    * ([[graft.api.Classifier.naiveBayesConfusion]]): add-1 smoothed
    * per-class token likelihoods fitted on the corpus, every document
    * scored against every class, reported as the (actual, predicted)
    * confusion matrix — the bag-of-words baseline a fastText-style
    * quality/language gate starts from, trained by the same engine
    * that filters with it. Exactness is the q_dsir_weights discipline:
    * one ln per (term, class) quantized DECIMAL(30,10), per-doc scores
    * as order-proof decimal sums, argmax ties → class ascending. */
  private val qNaiveBayes = Q(
    "q_naive_bayes",
    (s, dir) =>
      graft.api.Classifier.naiveBayesConfusion(Tables.documents(s, dir),
          "doc_id", "text", "lang")
        .orderBy(asc_nulls_first("actual"), asc_nulls_first("predicted")),
    Some("""WITH tk AS (SELECT doc_id AS id, lang AS actual,
                          unnest(string_split(text, ' ')) AS term
                        FROM documents
                        WHERE text IS NOT NULL AND lang IS NOT NULL),
                 t2 AS (SELECT * FROM tk WHERE len(term) > 0),
                 tf AS (SELECT id, actual, term, count(*) AS tf
                        FROM t2 GROUP BY 1, 2, 3),
                 ct AS (SELECT actual, term, count(*) AS ct FROM t2 GROUP BY 1, 2),
                 ctot AS (SELECT actual AS cls, sum(ct) AS n_c FROM ct GROUP BY 1),
                 vocab AS (SELECT count(DISTINCT term) AS v FROM ct),
                 pri AS (SELECT actual AS cls, count(*) AS dc
                         FROM (SELECT DISTINCT id, actual FROM tf) GROUP BY 1),
                 ptot AS (SELECT sum(dc) AS dtot FROM pri),
                 spine AS (SELECT t.term, c.cls,
                             CAST(ln(CAST(coalesce(x.ct, 0) + 1 AS DOUBLE)
                                     / CAST(c.n_c + v.v AS DOUBLE))
                                  AS DECIMAL(30,10)) AS lnp
                           FROM (SELECT DISTINCT term FROM ct) t
                           CROSS JOIN ctot c CROSS JOIN vocab v
                           LEFT JOIN ct x ON x.term = t.term AND x.actual = c.cls),
                 pl AS (SELECT cls, CAST(ln(CAST(dc AS DOUBLE) / CAST(dtot AS DOUBLE))
                                         AS DECIMAL(30,10)) AS lprior
                        FROM pri CROSS JOIN ptot),
                 sc AS (SELECT f.id, f.actual, s.cls,
                          sum(CAST(CAST(f.tf AS DOUBLE) * CAST(s.lnp AS DOUBLE)
                                   AS DECIMAL(30,10))) AS lsum
                        FROM tf f JOIN spine s ON s.term = f.term
                        GROUP BY 1, 2, 3),
                 scored AS (SELECT sc.id, sc.actual, sc.cls,
                              sc.lsum + pl.lprior AS score
                            FROM sc JOIN pl ON pl.cls = sc.cls),
                 prd AS (SELECT id, actual, cls,
                           row_number() OVER (PARTITION BY id
                             ORDER BY score DESC, cls ASC) AS rn
                         FROM scored)
            SELECT actual, cls AS predicted, CAST(count(*) AS BIGINT) AS n_docs
            FROM prd WHERE rn = 1 GROUP BY 1, 2
            ORDER BY actual NULLS FIRST, predicted NULLS FIRST""")
  )

  /** Deterministic train/val/test split by content hash
    * ([[graft.api.Sampling.splitByHash]], 75/13/12): replayable on any
    * engine, leakage-proof (a duplicated document lands in ONE split —
    * `rand()` splits leak near-dups across the boundary), and map-side
    * (a projection, no shuffle). Reported as the per-(source, split)
    * count frame — the mixture sheet a training run records. */
  private val qSplit = Q(
    "q_split",
    (s, dir) =>
      graft.api.Sampling.splitByHash(Tables.documents(s, dir), "text",
          trainPct = 75, valPct = 13)
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("n_chars_total"))
        .orderBy(asc_nulls_first("source"), asc_nulls_first("split")),
    Some("""WITH a AS (SELECT source, n_chars,
                         CASE WHEN CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100 < 75
                              THEN 'train'
                              WHEN CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100 < 88
                              THEN 'val'
                              ELSE 'test' END AS split
                       FROM documents)
            SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_chars) AS BIGINT) AS n_chars_total
            FROM a GROUP BY 1, 2
            ORDER BY source NULLS FIRST, split NULLS FIRST""")
  )

  /** Vocabulary coverage per source: the vocab sizes needed to cover
    * 50% / 90% of the source's token mass — the tokenizer-design stat
    * ("how head-heavy is this slice?") next to q_zipf_fit's slope.
    * INTEGER-exact end to end: token counts rank in a BY-SOURCE window
    * (vocab-sized partitions, the zipfFit contract — never global), the
    * running sum stays a long, and the coverage thresholds compare
    * cross-multiplied integers (cum·2 ≥ total, cum·10 ≥ total·9) — not
    * one double anywhere in the query. */
  private val qCoverage = Q(
    "q_coverage",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val win = Window.partitionBy("g").orderBy(col("cnt").desc, col("tok").asc)
      Tables.documents(s, dir)
        .select(col("source").as("g"), explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy("g", "tok").agg(count(lit(1)).as("cnt"))
        .select(col("g"), col("cnt"),
          row_number().over(win).as("rank"),
          sum("cnt").over(win.rowsBetween(Window.unboundedPreceding,
            Window.currentRow)).as("cum"),
          sum("cnt").over(Window.partitionBy("g")).as("total"))
        .groupBy("g").agg(
          max("total").as("total_tokens"),
          count(lit(1)).as("vocab_size"),
          min(when(col("cum") * 2 >= col("total"), col("rank")))
            .cast("bigint").as("v50"),
          min(when(col("cum") * 10 >= col("total") * 9, col("rank")))
            .cast("bigint").as("v90"))
        .orderBy(asc_nulls_first("g"))
    },
    Some("""WITH tf AS (SELECT source AS g, unnest(string_split(text, ' ')) AS tok
                        FROM documents),
                 c AS (SELECT g, tok, count(*) AS cnt FROM tf
                       WHERE length(tok) > 0 GROUP BY 1, 2),
                 r AS (SELECT g, cnt,
                              row_number() OVER (PARTITION BY g
                                                 ORDER BY cnt DESC, tok) AS rank,
                              sum(cnt) OVER (PARTITION BY g
                                             ORDER BY cnt DESC, tok
                                             ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND CURRENT ROW) AS cum,
                              sum(cnt) OVER (PARTITION BY g) AS total
                       FROM c)
            SELECT g, CAST(max(total) AS BIGINT) AS total_tokens,
                   CAST(count(*) AS BIGINT) AS vocab_size,
                   CAST(min(CASE WHEN cum * 2 >= total THEN rank END) AS BIGINT) AS v50,
                   CAST(min(CASE WHEN cum * 10 >= total * 9 THEN rank END) AS BIGINT) AS v90
            FROM r GROUP BY g ORDER BY g NULLS FIRST""")
  )

  /** Token burstiness (Fano factor) of the top-20 corpus tokens: the
    * variance-to-mean ratio of a token's PER-DOCUMENT count across ALL
    * documents (zeros included) — ≈1 for Poisson "background" words,
    * ≫1 for topical words that clump into few documents; the classic
    * content-word detector next to TF-IDF. Per-(token, doc) counts and
    * their squares are exact longs; the corpus doc count crosses as the
    * documented 1-row broadcast, and the statistic derives in ONE fixed
    * double expression, floor-4dp. Top-20 selection is a vocab-sized
    * TakeOrdered — never a global window. */
  private val qBurstiness = Q(
    "q_burstiness",
    (s, dir) => {
      val perDoc = Tables.documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) > 0)
        .groupBy("tok", "doc_id").agg(count(lit(1)).as("c"))
      val nDocs = Tables.documents(s, dir).agg(count(lit(1)).as("nd"))
      val nD = col("nd").cast("double")
      val tot = col("total_cnt").cast("double")
      perDoc.groupBy("tok").agg(
          count(lit(1)).as("n_docs"),
          sum("c").as("total_cnt"),
          sum(col("c") * col("c")).as("sc2"))
        .crossJoin(broadcast(nDocs))
        .orderBy(col("total_cnt").desc, col("tok").asc).limit(20)
        .select(col("tok"), col("n_docs"), col("total_cnt"),
          (floor((col("sc2").cast("double") - tot * tot / nD) / (nD - lit(1.0))
            / (tot / nD) * 10000) / 10000).as("fano"))
        .orderBy(col("total_cnt").desc, col("tok").asc)
    },
    Some("""WITH pd AS (SELECT tok, doc_id, count(*) AS c
                        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                              FROM documents)
                        WHERE length(tok) > 0 GROUP BY 1, 2),
                 nd AS (SELECT count(*) AS nd FROM documents),
                 m AS (SELECT tok, count(*) AS n_docs, sum(c) AS total_cnt,
                              sum(c * c) AS sc2
                       FROM pd GROUP BY tok),
                 top AS (SELECT * FROM m ORDER BY total_cnt DESC, tok LIMIT 20)
            SELECT tok, CAST(n_docs AS BIGINT) AS n_docs,
                   CAST(total_cnt AS BIGINT) AS total_cnt,
                   floor((CAST(sc2 AS DOUBLE)
                          - CAST(total_cnt AS DOUBLE) * CAST(total_cnt AS DOUBLE)
                            / CAST(nd.nd AS DOUBLE))
                         / (CAST(nd.nd AS DOUBLE) - 1.0)
                         / (CAST(total_cnt AS DOUBLE) / CAST(nd.nd AS DOUBLE))
                         * 10000) / 10000 AS fano
            FROM top, nd
            ORDER BY total_cnt DESC, tok""")
  )

  /** Per-event-type Tukey-fence (IQR) outlier census over event values
    * ([[graft.api.Profiler.iqrOutliers]], k = 1.5): exact interpolated
    * Q1/Q3 per key, fence comparisons on the UNROUNDED cuts (identical
    * doubles on both engines — the quantile_cont parity precedent), and
    * the count beyond each fence. The per-key complement to the global
    * median/MAD pass. */
  private val qIqrOutliers = Q(
    "q_iqr_outliers",
    (s, dir) =>
      graft.api.Profiler.iqrOutliers(
          graft.Tables.events(s, dir).select(col("event_type"), col("value")),
          groupCol = "event_type", valueCol = "value", k = 1.5)
        .orderBy(asc_nulls_first("g")),
    Some("""WITH v AS (SELECT event_type AS g, value AS x FROM events
                       WHERE value IS NOT NULL AND event_type IS NOT NULL),
                 c AS (SELECT g, quantile_cont(x, 0.25) AS q1,
                              quantile_cont(x, 0.75) AS q3
                       FROM v GROUP BY g),
                 j AS (SELECT v.g, v.x, c.q1, c.q3,
                              c.q1 - 1.5 * (c.q3 - c.q1) AS lo,
                              c.q3 + 1.5 * (c.q3 - c.q1) AS hi
                       FROM v JOIN c USING (g))
            SELECT g, CAST(count(*) AS BIGINT) AS n_rows,
                   round(max(q1), 4) AS q1, round(max(q3), 4) AS q3,
                   CAST(sum(CASE WHEN x < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
                   CAST(sum(CASE WHEN x > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_high
            FROM j GROUP BY g ORDER BY g NULLS FIRST""")
  )

  /** Per-language character-class census
    * (graft.api.TextAnalysis.charClassProfile): digit / letter / space /
    * non-ASCII ratios per lang — the encoding-health audit a
    * multilingual corpus runs before tokenizer training ("is the 'en'
    * shard mojibake?", "how non-ASCII is the 'de' slice?"). Counts are
    * length deltas after class deletion with escape-free classes (the
    * `[^ -~]` printable range reads identically in Java regex and RE2);
    * exact long sums, one double division per ratio, floor-4dp. One
    * map-side-combining aggregate. */
  private val qUnicodeProfile = Q(
    "q_unicode_profile",
    (s, dir) =>
      graft.api.TextAnalysis.charClassProfile(Tables.documents(s, dir), "lang", "text")
        .select(col("g").as("lang"), col("n_docs"), col("total_chars"),
          col("digit_ratio"), col("letter_ratio"), col("space_ratio"),
          col("nonascii_ratio"))
        .orderBy(asc_nulls_first("lang")),
    Some("""WITH p AS (SELECT lang AS g, length(text) AS len,
                         length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS cd,
                         length(text) - length(regexp_replace(text, '[A-Za-z]', '', 'g')) AS cl,
                         length(text) - length(regexp_replace(text, '[ ]', '', 'g')) AS csp,
                         length(text) - length(regexp_replace(text, '[^ -~]', '', 'g')) AS cna
                       FROM documents WHERE text IS NOT NULL),
                 a AS (SELECT g, count(*) AS n_docs, sum(len) AS total_chars,
                         sum(cd) AS sd, sum(cl) AS sl, sum(csp) AS ssp,
                         sum(cna) AS sna
                       FROM p GROUP BY g)
            SELECT g AS lang, CAST(n_docs AS BIGINT) AS n_docs,
                   CAST(total_chars AS BIGINT) AS total_chars,
                   CASE WHEN total_chars > 0
                        THEN floor(CAST(sd AS DOUBLE) / CAST(total_chars AS DOUBLE) * 10000) / 10000
                        ELSE 0.0 END AS digit_ratio,
                   CASE WHEN total_chars > 0
                        THEN floor(CAST(sl AS DOUBLE) / CAST(total_chars AS DOUBLE) * 10000) / 10000
                        ELSE 0.0 END AS letter_ratio,
                   CASE WHEN total_chars > 0
                        THEN floor(CAST(ssp AS DOUBLE) / CAST(total_chars AS DOUBLE) * 10000) / 10000
                        ELSE 0.0 END AS space_ratio,
                   CASE WHEN total_chars > 0
                        THEN floor(CAST(sna AS DOUBLE) / CAST(total_chars AS DOUBLE) * 10000) / 10000
                        ELSE 0.0 END AS nonascii_ratio
            FROM a ORDER BY lang NULLS FIRST""")
  )

  /** Lexicon hit-rate gate (graft.api.TextAnalysis.lexiconHitRate): per
    * (lang, source), how much of the token stream matches a fixed term
    * list (repeats counted) — the blocklist/stopword-density scorer
    * behind "drop documents over X% flagged terms" quality filters. The
    * lexicon crosses as an array LITERAL (a constant in the task binary
    * at any scale, never a join); standard single-space tokenization
    * (the q_token_count convention); exact long sums, one division,
    * floor-4dp. */
  private val qLexiconHits = Q(
    "q_lexicon_hits",
    (s, dir) =>
      graft.api.TextAnalysis.lexiconHitRate(Tables.documents(s, dir),
          Seq("lang", "source"), "text",
          Seq("the", "a", "of", "and", "to", "in", "is", "it", "that", "for"))
        .orderBy(asc_nulls_first("lang"), asc_nulls_first("source")),
    Some("""WITH p AS (SELECT lang, source,
                         len(string_split(text, ' ')) AS ntok,
                         len(list_filter(string_split(text, ' '),
                             t -> list_contains(['the','a','of','and','to','in','is','it','that','for'], t))) AS hits
                       FROM documents WHERE text IS NOT NULL)
            SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(ntok) AS BIGINT) AS total_tokens,
                   CAST(sum(hits) AS BIGINT) AS total_hits,
                   CASE WHEN sum(ntok) > 0
                        THEN floor(CAST(sum(hits) AS DOUBLE) / CAST(sum(ntok) AS DOUBLE) * 10000) / 10000
                        ELSE 0.0 END AS hit_rate
            FROM p GROUP BY 1, 2
            ORDER BY lang NULLS FIRST, source NULLS FIRST""")
  )

  /** Per-document novelty probe (graft.api.TextDedup.noveltyReport):
    * how many of each doc's distinct trigrams appear NOWHERE else in
    * the corpus — the memorization/boilerplate scorer that complements
    * dedup (a doc can be pair-unique yet 0% novel because every one of
    * its n-grams lives in other docs). Posting-list plan: one
    * shingle-keyed df aggregate, one equi-join back, one doc-keyed
    * aggregate — never pair generation. Exact longs, one division
    * floor-4dp; too-short docs report 0 shingles. */
  private val qNovelty = Q(
    "q_novelty",
    (s, dir) =>
      graft.api.TextDedup.noveltyReport(Tables.documents(s, dir), "doc_id", "text", n = 3)
        .select(col("id").as("doc_id"), col("n_shingles"), col("n_unique"),
          col("novelty_ratio"))
        .orderBy("doc_id"),
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
                 sh AS (SELECT DISTINCT doc_id,
                          unnest(list_transform(generate_series(1, len(t) - 2),
                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS s
                        FROM toks),
                 dfq AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
                 per AS (SELECT doc_id, count(*) AS n_sh,
                           sum(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS n_uq
                         FROM sh JOIN dfq USING (s) GROUP BY doc_id)
            SELECT d.doc_id,
                   CAST(coalesce(per.n_sh, 0) AS BIGINT) AS n_shingles,
                   CAST(coalesce(per.n_uq, 0) AS BIGINT) AS n_unique,
                   CASE WHEN coalesce(per.n_sh, 0) > 0
                        THEN floor(CAST(per.n_uq AS DOUBLE) / CAST(per.n_sh AS DOUBLE) * 10000) / 10000
                        ELSE 0.0 END AS novelty_ratio
            FROM documents d LEFT JOIN per USING (doc_id)
            ORDER BY doc_id""")
  )

  /** Language-ID confusion matrix: the trigram classifier
    * (graft.api.TextAnalysis.languageIdNgram) scored against the
    * fixture's ground-truth lang label — in-engine model evaluation for
    * the text family (the q_knn_eval convention applied to lang-id):
    * (truth, predicted, count, within-truth share). The share divides
    * by the truth-row total via a lang-partitioned window — matrix
    * cardinality is |langs|², corpus-size-independent after the one
    * scoring scan. */
  private val qLangidConfusion = Q(
    "q_langid_confusion",
    (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("lang")
      graft.api.TextAnalysis.languageIdNgram(Tables.documents(s, dir), "text")
        .groupBy(col("lang"), col("pred_lang"))
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("share",
          floor(col("n_docs").cast("double") /
            sum(col("n_docs")).over(w).cast("double") * 10000) / 10000)
        .orderBy(asc_nulls_first("lang"), asc_nulls_first("pred_lang"))
    },
    Some {
      val (scores, caseExpr) = graft.api.TextAnalysis.trigramOracleSql("text")
      s"""WITH sc AS (SELECT lang,
              ${scores.mkString(",\n              ")}
            FROM documents),
            p AS (SELECT lang, $caseExpr AS pred_lang FROM sc),
            m AS (SELECT lang, pred_lang, count(*) AS n_docs FROM p GROUP BY 1, 2),
            t AS (SELECT lang, sum(n_docs) AS tot FROM m GROUP BY 1)
            SELECT m.lang, m.pred_lang, CAST(m.n_docs AS BIGINT) AS n_docs,
                   floor(CAST(m.n_docs AS DOUBLE) / CAST(t.tot AS DOUBLE) * 10000) / 10000 AS share
            FROM m JOIN t USING (lang)
            ORDER BY lang NULLS FIRST, pred_lang NULLS FIRST"""
    }
  )

  /** Curriculum difficulty binning: every doc scored by unigram-LM
    * avg NLL (the q_perplexity signal), cut into 5 difficulty quintiles
    * by the corpus's own percentile cuts, each bucket reported with doc
    * count, token mass, and mean NLL — the table a curriculum-ordered
    * training run reads to schedule easy→hard data. Cuts via exact
    * `percentile` ≡ `quantile_cont` (1-row broadcast, strict-> ties
    * low — the q_rfm discipline); per-bucket NLL means quantize each
    * doc's score DECIMAL(30,10) before the order-proof sum,
    * floor-4dp. */
  private val qCurriculum = Q(
    "q_curriculum",
    (s, dir) => {
      val scored = graft.api.TextAnalysis.unigramNll(Tables.documents(s, dir), "doc_id", "text")
      val cuts = scored.agg(
        expr("percentile(avg_nll, array(0.2, 0.4, 0.6, 0.8))").as("qc"))
      scored.crossJoin(broadcast(cuts))
        .select(col("n_tok"), col("avg_nll"),
          ((0 to 3).map(i => when(col("avg_nll") > col("qc").getItem(i), 1L).otherwise(0L))
            .reduce(_ + _) + lit(1L)).as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum("n_tok").as("n_tokens"),
          (floor(sum(col("avg_nll").cast("decimal(30,10)")).cast("double")
            / count(lit(1)) * 10000) / 10000).as("mean_nll"))
        .select(col("bucket"), col("n_docs"),
          col("n_tokens").cast("bigint").as("n_tokens"), col("mean_nll"))
        .orderBy("bucket")
    },
    Some("""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
                 c AS (SELECT term, count(*) AS c FROM toks GROUP BY term),
                 tot AS (SELECT count(*) AS n_total FROM toks),
                 d AS (SELECT t.doc_id, count(*) AS n_tok,
                         sum(CAST(ln(CAST(c.c AS DOUBLE)) AS DECIMAL(30,10))) AS s
                       FROM toks t JOIN c USING (term) GROUP BY t.doc_id),
                 sc AS (SELECT d.doc_id, d.n_tok,
                          ln(CAST(tot.n_total AS DOUBLE)) - CAST(d.s AS DOUBLE) / d.n_tok AS avg_nll
                        FROM d, tot),
                 cu AS (SELECT quantile_cont(avg_nll, [0.2, 0.4, 0.6, 0.8]) AS qc FROM sc),
                 b AS (SELECT n_tok, avg_nll,
                         1 + (CASE WHEN avg_nll > qc[1] THEN 1 ELSE 0 END)
                           + (CASE WHEN avg_nll > qc[2] THEN 1 ELSE 0 END)
                           + (CASE WHEN avg_nll > qc[3] THEN 1 ELSE 0 END)
                           + (CASE WHEN avg_nll > qc[4] THEN 1 ELSE 0 END) AS bucket
                       FROM sc, cu)
            SELECT CAST(bucket AS BIGINT) AS bucket,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(n_tok) AS BIGINT) AS n_tokens,
                   floor(CAST(sum(CAST(avg_nll AS DECIMAL(30,10))) AS DOUBLE)
                         / count(*) * 10000) / 10000 AS mean_nll
            FROM b GROUP BY 1 ORDER BY 1""")
  )

  /** Distinctive terms per source: group-level TF-IDF — each source's
    * top-5 terms by tf · ln(n_sources / df_sources), the "what
    * characterizes this slice" exploratory table (q_tfidf scores
    * doc-level; this treats each SOURCE as the document, the standard
    * corpus-comparison move). Exactness: tf/df/n are exact longs, the
    * score is one ln of an integer ratio times an integer — floor-4dp
    * BEFORE the per-source rank window (term tiebreak), so top-5
    * membership is engine-exact. Plan: two map-side-combining
    * aggregates over one tokenize scan, the source count as the
    * sanctioned 1-row broadcast, one source-partitioned rank window. */
  private val qDistinctiveTerms = Q(
    "q_distinctive_terms",
    (s, dir) => {
      val toks = Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("source").isNotNull)
        .select(col("source"), explode(split(col("text"), " ")).as("term"))
        .filter(length(col("term")) > 0)
      val tf = toks.groupBy("source", "term").agg(count(lit(1)).as("tf"))
      val dfq = tf.groupBy("term").agg(count(lit(1)).as("df_src"))
      val ns = tf.select("source").distinct().agg(count(lit(1)).as("n_src"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(desc("score"), asc("term"))
      tf.join(dfq, "term").crossJoin(broadcast(ns))
        .withColumn("score",
          floor(col("tf").cast("double")
            * log(col("n_src").cast("double") / col("df_src").cast("double"))
            * 10000) / 10000)
        .withColumn("rk", row_number().over(w).cast("bigint"))
        .filter(col("rk") <= 5)
        .select("source", "term", "tf", "score", "rk")
        .orderBy(asc("source"), asc("rk"))
    },
    Some("""WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS term
                          FROM documents
                          WHERE text IS NOT NULL AND source IS NOT NULL),
                 tk AS (SELECT * FROM toks WHERE len(term) > 0),
                 tf AS (SELECT source, term, count(*) AS tf FROM tk GROUP BY 1, 2),
                 dfq AS (SELECT term, count(*) AS df_src FROM tf GROUP BY 1),
                 ns AS (SELECT count(DISTINCT source) AS n_src FROM tf),
                 sc AS (SELECT source, term, tf,
                          floor(CAST(tf AS DOUBLE)
                                * ln(CAST(n_src AS DOUBLE) / CAST(df_src AS DOUBLE))
                                * 10000) / 10000 AS score
                        FROM tf JOIN dfq USING (term) CROSS JOIN ns),
                 rk AS (SELECT source, term, tf, score,
                          row_number() OVER (PARTITION BY source
                                             ORDER BY score DESC, term) AS rk
                        FROM sc)
            SELECT source, term, CAST(tf AS BIGINT) AS tf, score,
                   CAST(rk AS BIGINT) AS rk
            FROM rk WHERE rk <= 5 ORDER BY source, rk""")
  )

  /** TextRank keyword extraction: PageRank (graft.api.Graph.pageRank, 3
    * damped iterations) over the adjacent-token co-occurrence graph of
    * the 'en' slice, top 25 tokens — the classic unsupervised keyword
    * scorer, and a demonstration that the graph machinery composes onto
    * text: edge gen is ONE positional equi-join (tokens at pos, pos+1 —
    * never all-pairs), the node universe is the distinct vocabulary,
    * and the rank recurrence is the exact q_pagerank plan (per
    * iteration: edge-to-rank equi-join + hash aggregate, DECIMAL(30,10)
    * contributions, N as the sanctioned 1-row broadcast). Ranks
    * reported scaled by N, floor-6dp, key tiebreak before the LIMIT. */
  private val qTextrank = Q(
    "q_textrank",
    (s, dir) => {
      val toks = Tables.documents(s, dir)
        .filter(col("lang") === "en" && col("text").isNotNull)
        .selectExpr("doc_id", "posexplode(split(text, ' ')) AS (pos, tok)")
        .filter(length(col("tok")) > 0)
      val a = toks.select(col("doc_id").as("d"), col("pos").as("p"), col("tok").as("t1"))
      val b = toks.select(col("doc_id").as("d"), (col("pos") - 1).as("p"), col("tok").as("t2"))
      val pairs = a.join(b, Seq("d", "p"))
        .filter(col("t1") =!= col("t2"))
        .select(least(col("t1"), col("t2")).as("w1"),
          greatest(col("t1"), col("t2")).as("w2"))
        .distinct()
      val vocab = toks.select("tok").distinct()
      graft.api.Graph.pageRank(pairs, "w1", "w2", vocab, "tok",
          iterations = 3, damping = 0.85)
        .select(col("id").as("token"),
          (floor(col("rank") * col("n_nodes") * 1000000) / 1000000.0).as("rank_n"))
        .orderBy(desc("rank_n"), asc("token"))
        .limit(25)
    },
    Some(s"""WITH toks0 AS (SELECT doc_id, string_split(text, ' ') AS t
                           FROM documents WHERE lang = 'en' AND text IS NOT NULL),
                 pp AS (SELECT doc_id, unnest(generate_series(1, len(t) - 1)) AS i, t
                        FROM toks0),
                 pe AS (SELECT t[i] AS x, t[i+1] AS y FROM pp
                        WHERE len(t[i]) > 0 AND len(t[i+1]) > 0 AND t[i] <> t[i+1]),
                 pairs AS (SELECT DISTINCT least(x, y) AS w1, greatest(x, y) AS w2 FROM pe),
                 vocab AS (SELECT DISTINCT tok
                           FROM (SELECT unnest(t) AS tok FROM toks0) WHERE len(tok) > 0),
                 e AS (SELECT w1 AS u, w2 AS v FROM pairs
                       UNION ALL SELECT w2, w1 FROM pairs),
                 deg AS (SELECT u, count(*) AS deg FROM e GROUP BY u),
                 ed AS (SELECT e.u, e.v, deg.deg FROM e JOIN deg USING (u)),
                 nn AS (SELECT count(*) AS n FROM vocab),
                 r0 AS (SELECT tok AS id, CAST(1.0 AS DOUBLE) / nn.n AS rank
                        FROM vocab, nn),
                 ${OracleSql.pageRankRounds(3)}
            SELECT r3.id AS token,
                   floor(r3.rank * nn.n * 1000000) / 1000000 AS rank_n
            FROM r3 CROSS JOIN nn
            ORDER BY rank_n DESC, token LIMIT 25""")
  )

  /** Readability scoring (Flesch ease + FK grade) — syllables as vowel
    * groups, sentences by the documented ceil(words/15) convention on
    * this unpunctuated fixture. Pure per-row arithmetic; the oracle
    * replays the exact left-associated double expression, and the 4dp
    * cut is floor(x·1e4 + 0.5)/1e4 on BOTH sides — engine round() on
    * doubles diverges at representation ties (Spark rounds the decimal
    * string "4.42625" up, DuckDB rounds the binary 4.42624999… down;
    * hit at sf0.01 doc 0). */
  private val qReadability = Q(
    "q_readability",
    (s, dir) =>
      graft.api.TextAnalysis.readability(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id"),
    Some("""WITH m AS (SELECT doc_id,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
              CAST(len(regexp_extract_all(text, '[aeiouy]+')) AS BIGINT) AS n_syll
            FROM documents WHERE text IS NOT NULL),
           s AS (SELECT doc_id, n_words, n_syll,
                   CAST(ceil(n_words / 15.0) AS BIGINT) AS n_sent FROM m)
        SELECT doc_id, n_words, n_syll, n_sent,
          floor((206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sent)
                         - 84.6 * (CAST(n_syll AS DOUBLE) / n_words)) * 1e4 + 0.5) / 1e4
            AS reading_ease,
          floor((0.39 * (CAST(n_words AS DOUBLE) / n_sent)
                 + 11.8 * (CAST(n_syll AS DOUBLE) / n_words) - 15.59) * 1e4 + 0.5) / 1e4
            AS fk_grade
        FROM s ORDER BY doc_id""")
  )

  /** Visible-text extraction from HTML — the crawl-pipeline strip step.
    * HTML is constructed DETERMINISTICALLY from fixture rows (the
    * multimodal-family convention): head/title/style, nav + footer
    * chrome, and body text with inline <b>/<a> markup around two vocab
    * words. The kernel ([[graft.api.TextAnalysis.htmlExtract]]) cuts
    * chrome blocks, strips tags, collapses whitespace, extracts the
    * title, and counts outlinks. */
  private val qHtmlExtract = Q(
    "q_html_extract",
    (s, dir) => {
      val marked = regexp_replace(
        regexp_replace(col("text"), lit("\\bspark\\b"), lit("<b>spark</b>")),
        lit("\\bdata\\b"), lit("""<a href="/t/data">data</a>"""))
      val html = concat(
        lit("<html><head><title>Doc "), col("doc_id").cast("string"),
        lit(" - "), col("source"),
        lit("</title><style>body{margin:0}</style></head><body>"),
        lit("""<nav><a href="/">home</a> <a href="/about">about</a></nav><h1>"""),
        col("lang"), lit("</h1><p>"), marked,
        lit("</p><footer>(c) "), col("source"), lit("</footer></body></html>"))
      val docs = Tables.documents(s, dir).filter(col("text").isNotNull)
        .select(col("doc_id"), html.as("html"))
      graft.api.TextAnalysis.htmlExtract(docs, "doc_id", "html").orderBy("doc_id")
    },
    Some("""WITH h AS (SELECT doc_id,
              '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) || ' - ' || source ||
              '</title><style>body{margin:0}</style></head><body>' ||
              '<nav><a href="/">home</a> <a href="/about">about</a></nav><h1>' ||
              lang || '</h1><p>' ||
              regexp_replace(regexp_replace(text,
                '\bspark\b', '<b>spark</b>', 'g'),
                '\bdata\b', '<a href="/t/data">data</a>', 'g') ||
              '</p><footer>(c) ' || source || '</footer></body></html>' AS html
            FROM documents WHERE text IS NOT NULL),
           v AS (SELECT doc_id, html,
                   trim(regexp_replace(regexp_replace(
                     regexp_replace(html,
                       '<head(\s[^>]*)?>.*?</head>|<nav(\s[^>]*)?>.*?</nav>|<footer(\s[^>]*)?>.*?</footer>|<script(\s[^>]*)?>.*?</script>|<style(\s[^>]*)?>.*?</style>',
                       ' ', 'g'),
                     '<[^>]*>', ' ', 'g'), ' +', ' ', 'g')) AS visible
                 FROM h)
        SELECT doc_id,
          regexp_extract(html, '<title>([^<]*)</title>', 1) AS title,
          CAST(len(regexp_extract_all(html, 'href="([^"]*)"', 1)) AS BIGINT) AS n_links,
          CAST(CASE WHEN visible = '' THEN 0
                    ELSE len(string_split(visible, ' ')) END AS BIGINT) AS n_words_visible,
          round(CAST(length(visible) AS DOUBLE) / length(html), 4) AS text_ratio
        FROM v ORDER BY doc_id""")
  )

  /** Tokenizer fertility per language — the diagnostic a tokenizer team
    * reads before committing a vocab (Rust et al., ACL'21: fertility =
    * subword tokens per word; high-fertility languages pay more compute
    * per byte of content): per lang, total whitespace words vs
    * regex-lexer tokens (the same BPE-ish lexer as `q_token_count`) and
    * chars-per-token. Long sums are exact across engines; the two
    * derived ratios are single divisions of exact longs, 4dp-cut with
    * the floor convention. */
  private val qTokFertility = Q(
    "q_tok_fertility",
    (s, dir) =>
      graft.api.TextAnalysis.tokenCounts(Tables.documents(s, dir), "text")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws_tokens")).as("words"),
          sum(col("re_tokens")).as("tokens"),
          sum(length(col("text")).cast("long")).as("n_chars"))
        .select(col("lang"), col("n_docs"), col("words"), col("tokens"), col("n_chars"),
          (floor((col("tokens").cast("double") / col("words")) * 1e4 + 0.5) / 1e4)
            .as("fertility"),
          (floor((col("n_chars").cast("double") / col("tokens")) * 1e4 + 0.5) / 1e4)
            .as("chars_per_token"))
        .orderBy("lang"),
    Some("""WITH t AS (SELECT lang,
              len(string_split(text, ' ')) AS ws,
              len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS re,
              length(text) AS nc
            FROM documents)
        SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(ws) AS BIGINT) AS words,
               CAST(sum(re) AS BIGINT) AS tokens,
               CAST(sum(nc) AS BIGINT) AS n_chars,
               floor((CAST(sum(re) AS DOUBLE) / sum(ws)) * 1e4 + 0.5) / 1e4 AS fertility,
               floor((CAST(sum(nc) AS DOUBLE) / sum(re)) * 1e4 + 0.5) / 1e4 AS chars_per_token
        FROM t GROUP BY lang ORDER BY lang""")
  )

  val all: Seq[Q] = Seq(qTextStats, qLangId, qLangIdNgram, qQualityScore, qTokenCount, qZipfFit,
    qFingerprint, qMultimodalMeta, qHeavyHitters, qCorpusFilter, qChunk, qSplit,
    qCoverage, qBurstiness, qIqrOutliers,
    qSampleHash, qSampleStratified, qSampleTokenBudget, qSampleKStratum,
    qSampleWeighted, qMixTemperature, qPack, qPackSplit, qTfidf, qBm25, qBm25Search, qRrfFusion, qRepStats,
    qGopherRules, qDsirWeights, qLogisticFit, qLogisticAuc, qNaiveBayes, qHeapsFit,
    qPerplexity, qPerplexityBigram, qPerplexityKn, qBpePairs, qBpeLearn, qBpeEncode,
    qCollocations, qPiiScrub, qPipelineE2e,
    qPipelineNeardup, qPipelineReport, qProfile, qEntropy, qSkewProfile,
    qHistogram, qBinQuantile, qWinsorize, qMadOutliers,
    qUnicodeProfile, qLexiconHits, qTextrank, qNovelty,
    qLangidConfusion, qCurriculum, qGopherAblation, qPiiCensus,
    qDistinctiveTerms, qReadability, qHtmlExtract, qTokFertility)
}
