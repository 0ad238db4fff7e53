package graft.operators

import graft.{Q, Tables}
import graft.api.TextDedup
import org.apache.spark.sql.functions._

/** Deduplication query surface (SURVEY.md §2B north-star ops) — thin
  * instantiations of the reusable [[graft.api.TextDedup]] operators on
  * the `documents` fixture. Scale analysis in ARCHITECTURE.md: exact
  * dedup is one hash aggregate; Jaccard pairs come from an inverted-index
  * join (only co-occurring docs meet, with a stop-shingle skew guard
  * available); MinHash pairs from LSH band buckets with exact-Jaccard
  * verification; SimHash pairs from 16-bit block buckets (pigeonhole-
  * complete for hamming ≤ 3).
  */
object Dedup {

  /** Exact dedup keeping the smallest doc_id per text — groupBy(min), the
    * one-shuffle formulation (vs dropDuplicates, which is
    * order-nondeterministic about WHICH row survives). */
  private val qDedupExact = Q(
    "q_dedup_exact",
    (s, dir) =>
      TextDedup.exactSurvivors(Tables.documents(s, dir), "doc_id", "text")
        .select(col("id").as("doc_id"))
        .orderBy("doc_id"),
    Some("""SELECT min(doc_id) AS doc_id FROM documents GROUP BY text ORDER BY doc_id""")
  )

  /** Exact n-gram Jaccard near-dup pairs ≥ 0.5, with the stop-shingle
    * skew guard ON (maxShingleDf = 10): shingles appearing in more than
    * 10 docs are dropped before the inverted-index join, bounding the
    * per-shingle fan-out at 10² pairs — the guard that keeps one hot
    * shingle from going quadratic at 100 TB. The threshold is mirrored
    * in the oracle CTE; at sf0.01 no shingle is hot (max df 7, checked
    * in OperatorPropertiesSpec guarded ≡ unguarded) so the gate result
    * equals the unguarded exact answer, while sf0.1 bench (max df 25)
    * actively exercises the pruning path. */
  private val qNgramJaccard = Q(
    "q_dedup_ngram_jaccard",
    (s, dir) =>
      TextDedup.jaccardPairs(Tables.documents(s, dir), "doc_id", "text",
          n = 3, threshold = 0.5, maxShingleDf = 10L)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
          round(col("jaccard"), 4).as("jaccard"))
        .orderBy("doc_a", "doc_b"),
    Some(s"""WITH ${OracleSql.trigramInter()}
            SELECT doc_a, doc_b, round(i * 1.0 / (x.n + y.n - i), 4) AS jaccard
            FROM inter JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
            WHERE i * 1.0 / (x.n + y.n - i) >= 0.5
            ORDER BY doc_a, doc_b""")
  )

  /** LSH-vs-exact recall census — the dedup-evaluation harness as a
    * first-class operator (the question every LSH deployment must
    * answer: what share of TRUE near-dup pairs does the banding
    * actually catch at these parameters?). Ground truth is the
    * UNGUARDED exact ≥ 0.5 pair frame over the same shingle sets
    * minhash's own verify uses, so the verified minhash pairs are a
    * subset by construction and the census is pure recall; the mean
    * caught/missed Jaccard diagnostics show the missed mass
    * concentrates near the threshold (the banding-curve prediction).
    * One pair-keyed equi-join + one scalar aggregate over the two
    * constituent frames.
    *
    * SCALE (r13 — enforceable by construction, not declaration): the
    * exact ground-truth side is inherently Σdf²-quadratic in
    * duplication, so [[graft.api.TextDedup.lshRecallCensus]] bounds the
    * census to the maxDocs=2000 smallest-xxhash64(doc_id) documents — a
    * NO-OP at the gate fixtures (500 docs; results byte-identical to
    * the unbounded census) and a bounded deterministic sample at sf1.0
    * (5000 docs — the 10×-copy fixture the unbounded frame wedged on
    * via an opaque AQE broadcast error). The oracle replays the sample
    * election (hash-ordered LIMIT) before the same chains. */
  private val qDedupEval = Q(
    "q_dedup_eval",
    (s, dir) =>
      TextDedup.lshRecallCensus(Tables.documents(s, dir), "doc_id", "text",
        n = 3, threshold = 0.5, bands = 8, maxDocs = 2000),
    Some(MinhashOracleSql.evalSql)
  )

  /** Directional n-gram CONTAINMENT pairs
    * ([[graft.api.TextDedup.containmentPairs]]): |A∩B|/|A| and |A∩B|/|B|
    * over the same single-shuffle inverted index as q_dedup_ngram_jaccard
    * — the asymmetric subset/quotation test Jaccard dilutes when a short
    * doc sits inside a long one. Pairs kept when either direction ≥ 0.6. */
  private val qDedupContainment = Q(
    "q_dedup_containment",
    (s, dir) =>
      graft.api.TextDedup.containmentPairs(Tables.documents(s, dir), "doc_id", "text",
          n = 3, threshold = 0.6, maxShingleDf = 10L)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
          round(col("cont_a"), 4).as("cont_a"), round(col("cont_b"), 4).as("cont_b"))
        .orderBy("doc_a", "doc_b"),
    Some(s"""WITH ${OracleSql.trigramInter()}
            SELECT doc_a, doc_b, round(i * 1.0 / x.n, 4) AS cont_a,
                   round(i * 1.0 / y.n, 4) AS cont_b
            FROM inter JOIN sz x ON x.doc_id = doc_a JOIN sz y ON y.doc_id = doc_b
            WHERE greatest(i * 1.0 / x.n, i * 1.0 / y.n) >= 0.6
            ORDER BY doc_a, doc_b""")
  )

  /** MinHash+LSH near-dup pairs (candidates verified with exact Jaccard —
    * precision 1.0; recall governed by the 8×4 banding curve and
    * property-tested ≥ 0.7 in OperatorPropertiesSpec). Oracle: DuckDB
    * replays the FULL computation — per-shingle XXH64(seed 0..31)
    * re-implemented in pure SQL with the seed as a column (see
    * [[MinhashOracleSql]]), signed minima, band-tuple bucketing with the
    * 256-doc hot-bucket cap, exact-Jaccard verify — so signature AND
    * pairing are hash-matched. */
  private val qDedupMinhash = Q(
    "q_dedup_minhash",
    (s, dir) =>
      TextDedup.minhashPairs(Tables.documents(s, dir), "doc_id", "text",
          n = 3, threshold = 0.5, bands = 8)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
          round(col("jaccard"), 4).as("jaccard"))
        .orderBy("doc_a", "doc_b"),
    Some(MinhashOracleSql.sql)
  )

  /** The PERSISTED standing-corpus band index behind
    * [[qDedupIncremental]] — the production loop the incremental design
    * exists for: the index is built ONCE, written bucketed-by-`bh` via
    * `Writer.writeBucketed` (the co-located layout for the incremental
    * bucket join), and every later run READS it back instead of
    * re-signing the standing corpus (the r8 flag: the inline rebuild
    * dominated the measured cost, which is exactly what incremental
    * dedup exists to avoid).
    *
    * Cache keying: the on-disk location is keyed by a CONTENT
    * fingerprint of the standing corpus (one order-independent hash-sum
    * aggregate — a 1-row stat read, corpus-scan cost, far below the
    * shingle+minhash signing it replaces), so a regenerated fixture
    * can never serve a stale index — it rebuilds under a new key. A
    * fresh session re-registers the existing files as an external
    * bucketed table via DDL (bucket metadata lives in the catalog, not
    * the files); the same session reuses the catalog entry. */
  private def persistedBandIndex(s: org.apache.spark.sql.SparkSession,
      oldDocs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val fp = oldDocs
      .agg(coalesce(sum(xxhash64(col("doc_id"), col("text")).cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO)).cast("string"))
      .head().getString(0).replace("-", "n")
    val table = s"graft_mh_idx_$fp"
    val path = s"/tmp/graft_index_cache/minhash_$fp"
    if (!s.catalog.tableExists(table)) {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(new org.apache.hadoop.fs.Path(path, "_SUCCESS"))) {
        // files already on disk from a previous session — re-attach the
        // bucket spec so the read keeps the co-located layout
        s.sql(s"""CREATE TABLE IF NOT EXISTS $table (id BIGINT, band_id INT, bh BIGINT)
                  USING parquet CLUSTERED BY (bh) INTO 8 BUCKETS LOCATION '$path'""")
      } else {
        graft.api.Writer.writeBucketed(
          TextDedup.minhashBandIndex(oldDocs, "doc_id", "text", n = 3, bands = 8),
          path, table, bucketCols = Seq("bh"), nBuckets = 8, sortCols = Seq("bh"))
      }
    }
    s.table(table)
  }

  /** INCREMENTAL near-dup (TextDedup.minhashPairsIncremental): the
    * arriving batch (doc_id % 7 = 0) detected against the PERSISTED
    * band index of the standing corpus ([[persistedBandIndex]] — built
    * once, bucketed by `bh` on disk, read back on every later run) —
    * candidate generation costs new-batch work, old-vs-old is never
    * revisited, and old text is re-read only for colliding ids. The
    * property test pins the result EXACTLY equal to batch
    * minhashPairs(old ∪ new) restricted to pairs touching a new doc;
    * the oracle replays exactly that — the [[MinhashOracleSql]] XXH64
    * band replay, UNCAPPED (index equi-joins need no hot-bucket guard),
    * candidates restricted to pairs touching a new doc. */
  private val qDedupIncremental = Q(
    "q_dedup_incremental",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val newDocs = docs.filter(col("doc_id") % 7 === 0)
      val oldDocs = docs.filter(col("doc_id") % 7 =!= 0)
      val index = persistedBandIndex(s, oldDocs)
      TextDedup.minhashPairsIncremental(newDocs, index, oldDocs, "doc_id", "text",
          n = 3, threshold = 0.5, bands = 8)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
          round(col("jaccard"), 4).as("jaccard"))
        .orderBy("doc_a", "doc_b")
    },
    Some(MinhashOracleSql.incrementalSql)
  )

  /** SimHash near-dup pairs with hamming ≤ 3 — EXACT output (block-LSH is
    * pigeonhole-complete at this distance), bucketing is purely pruning.
    * Oracle: DuckDB replays the FULL computation from `documents` —
    * per-token XXH64(seed 42) re-implemented in pure SQL (HUGEINT mod
    * 2⁶⁴; see [[SimhashOracleSql]]), bit votes, block-bucket join,
    * hamming verify — so signature AND pairing are hash-matched. */
  private val qDedupSimhash = Q(
    "q_dedup_simhash",
    (s, dir) =>
      // maxBucketDocs = 256 EXPLICITLY (the library default keeps the
      // exact pigeonhole contract; the capped form is this query's
      // declared scale trade, mirrored in SimhashOracleSql)
      TextDedup.simhashPairs(Tables.documents(s, dir), "doc_id", "text",
          maxHamming = 3, blocks = 4, maxBucketDocs = 256)
        .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("hamming"))
        .orderBy("doc_a", "doc_b"),
    Some(SimhashOracleSql.sql)
  )

  /** Dedup clusters: connected components over the exact Jaccard ≥ 0.5
    * pair graph (same pairs as q_dedup_ngram_jaccard), every document
    * labeled with the smallest doc_id reachable from it — the step that
    * picks ONE canonical doc per near-dup group. Uses the large-star/
    * small-star contraction (O(log² n) rounds on ANY graph shape — an
    * adversarial plagiarism CHAIN can't blow the round budget the way it
    * would for diameter-bounded min-label propagation). Oracle = DuckDB
    * recursive reachability closure over the same pair CTE. */
  private val qDedupClusters = Q(
    "q_dedup_clusters",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = TextDedup.jaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.5, maxShingleDf = 10L)
      TextDedup.connectedComponentsStar(pairs, docs, "doc_id")
        .select(col("id").as("doc_id"), col("cluster_id"))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE
                 ${OracleSql.trigramPairs()},
                 ${OracleSql.pairComponents}
            SELECT d.doc_id,
                   coalesce(least(c.mn, d.doc_id), d.doc_id) AS cluster_id
            FROM documents d LEFT JOIN comp c USING (doc_id)
            ORDER BY doc_id""")
  )

  /** The oracle of [[qDecontaminate]] and [[qDecontaminateBloom]]: same
    * answer, different shapes. */
  private val decontaminateSql =
    s"""WITH ${OracleSql.evalFingerprints}
            SELECT d.doc_id FROM documents d
            WHERE d.doc_id % 97 <> 0
              AND ${OracleSql.notInEval("d.text")}
            ORDER BY d.doc_id"""

  /** Eval-set decontamination: drop every training document whose
    * normalized content fingerprint appears in the held-out set — the
    * pass that keeps benchmark answers out of the training corpus. One
    * LEFT ANTI join on the fingerprint unhexed to its 16 RAW BYTES
    * (never the text, half the bytes of the hex string); the eval side
    * is tiny and broadcasts. Eval set here: doc_id % 97 = 0. Oracle
    * uses NOT EXISTS (not NOT IN) so NULL-text rows get anti-join
    * semantics in both engines. */
  private val qDecontaminate = Q(
    "q_decontaminate",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val evalFp = docs.filter(col("doc_id") % 97 === 0)
        .select(unhex(TextDedup.fingerprint(col("text"))).as("fp")).distinct()
      docs.filter(col("doc_id") % 97 =!= 0)
        .withColumn("fp", unhex(TextDedup.fingerprint(col("text"))))
        .join(broadcast(evalFp), Seq("fp"), "left_anti")
        .select(col("doc_id"))
        .orderBy("doc_id")
    },
    Some(decontaminateSql)
  )

  /** Bloom-filter decontamination — same answer as [[qDecontaminate]]
    * (and the same oracle), different 100 TB shape: eval fingerprints
    * fold into broadcast Bloom BITS, bloom-negative training rows skip
    * the verification join entirely, and only the FP-rate-bounded
    * positives reach the exact anti-join. This is the form to use when
    * the eval set outgrows a broadcast hash relation. */
  private val qDecontaminateBloom = Q(
    "q_decontaminate_bloom",
    (s, dir) =>
      TextDedup.decontaminateBloom(Tables.documents(s, dir), "doc_id", "text",
          isEval = col("doc_id") % 97 === 0, expectedEvalItems = 1000L)
        .orderBy("doc_id"),
    Some(decontaminateSql)
  )

  /** Per-source duplication QA (TextDedup.duplicationProfile): exact-dup
    * rate per corpus slice — the one-aggregate check a pipeline runs to
    * decide which sources need the expensive near-dup pass. dup_rate is
    * over NON-NULL texts (an all-null group reports NULL, not 0 — no
    * invented cleanliness). */
  private val qDupProfile = Q(
    "q_dup_profile",
    (s, dir) =>
      TextDedup.duplicationProfile(Tables.documents(s, dir), "text", "source")
        .orderBy(asc_nulls_first("source")),
    Some("""SELECT source, count(*) AS n_docs,
                   count(DISTINCT text) AS n_distinct,
                   round((count(text) - count(DISTINCT text)) * 1.0 / count(text), 4) AS dup_rate
            FROM documents GROUP BY source
            ORDER BY source NULLS FIRST""")
  )

  /** The oracle of [[qDecontaminateNgram]] and
    * [[qDecontaminateNgramBloom]]: any shared eval 4-gram drops the doc. */
  private val decontaminateNgramSql =
    """WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
             gr AS (SELECT DISTINCT doc_id,
                      unnest(list_transform(generate_series(1, len(t) - 3),
                        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS g
                    FROM toks WHERE len(t) >= 4),
             ev AS (SELECT DISTINCT g FROM gr WHERE doc_id % 97 = 0),
             bad AS (SELECT DISTINCT doc_id FROM gr
                     WHERE doc_id % 97 <> 0 AND g IN (SELECT g FROM ev))
          SELECT d.doc_id FROM documents d
          WHERE d.doc_id % 97 <> 0
            AND NOT EXISTS (SELECT 1 FROM bad WHERE bad.doc_id = d.doc_id)
          ORDER BY doc_id"""

  /** N-gram overlap decontamination (TextDedup.decontaminateNgram): drop
    * every training doc sharing ANY word n-gram with the eval set — the
    * published 13-gram method, strictly stronger than whole-document
    * fingerprint matching (a doc QUOTING an eval answer inside novel text
    * fingerprints clean but is contamination). n = 4 here so the
    * synthetic fixture exercises a non-trivial drop set (8 docs at
    * sf0.01); production corpora use 13. Oracle mirrors the gram
    * construction and the any-overlap EXISTS. */
  private val qDecontaminateNgram = Q(
    "q_decontaminate_ngram",
    (s, dir) =>
      TextDedup.decontaminateNgram(Tables.documents(s, dir), "doc_id", "text",
          isEval = col("doc_id") % 97 === 0, n = 4)
        .orderBy("doc_id"),
    Some(decontaminateNgramSql)
  )

  /** Cross-source content overlap (TextDedup.groupOverlap at 3-gram
    * granularity): for every source pair, how many distinct word
    * trigrams appear in both — the QA matrix that catches one crawl
    * re-ingesting another before dedup statistics get blamed on the
    * wrong source. (At gram granularity because the synthetic fixture
    * has no whole-document cross-source dups at sf0.01; on real corpora
    * pass the text or fingerprint column directly.) Same posting-list
    * plan as the jaccard family: one shuffle to per-gram source sets,
    * pairs emitted inside the row, fan-out ≤ |sources|². */
  private val qSourceOverlap = Q(
    "q_source_overlap",
    (s, dir) => {
      // spread (guide §2.5): parallelize the trigram explode off the
      // single-row-group fixture scan (no-op on a parallel scan)
      val grams = graft.Par.spread(
          Tables.documents(s, dir)
            .filter(col("text").isNotNull)
            .select(col("source"), col("text")),
          col("source"), col("text"))
        .select(col("source"), split(col("text"), " ").as("t"))
        .select(col("source"), explode(expr(TextDedup.shingleArraySql("t", 3))).as("g"))
      TextDedup.groupOverlap(grams, "g", "source")
        .orderBy(asc_nulls_first("group_a"), asc_nulls_first("group_b"))
    },
    Some("""WITH toks AS (SELECT source, string_split(text, ' ') AS t FROM documents
                          WHERE text IS NOT NULL AND source IS NOT NULL),
                 gr AS (SELECT DISTINCT source,
                          unnest(list_transform(generate_series(1, len(t) - 2),
                            i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])) AS g
                        FROM toks)
            SELECT a.source AS group_a, b.source AS group_b, count(*) AS n_shared
            FROM gr a JOIN gr b ON a.g = b.g AND a.source < b.source
            GROUP BY 1, 2
            ORDER BY group_a NULLS FIRST, group_b NULLS FIRST""")
  )

  /** C4-style intra-corpus SPAN dedup (Raffel et al., JMLR 2020 §2.2 —
    * "we discard all but one of any three-sentence span occurring more
    * than once in the data set", the step that removes boilerplate
    * repeated ACROSS documents that document-level dedup cannot see):
    * every document splits into non-overlapping 10-token spans (the
    * sentence proxy for the fixture's token streams; the final partial
    * span included so every token belongs to exactly one span), a span
    * occurring anywhere else in the corpus keeps only its FIRST
    * occurrence (min (doc_id, pos) — deterministic), and each document
    * reassembles from its surviving spans in order.
    *
    * Scale shape: the keeper election is groupBy(span).agg(min(struct))
    * — a partial-aggregatable MIN, so a viral boilerplate span combines
    * map-side instead of sorting its full occurrence list through one
    * reducer (the window-rank formulation's skew trap); survivors then
    * equi-join the keeper frame (distinct-span-sized) and one doc_id
    * shuffle rebuilds the text. Spans are keyed by their STRING here so
    * the DuckDB oracle agrees byte-for-byte; at 100 TB key by
    * xxhash64(span) and the shuffle carries 8-byte keys (the
    * fingerprint trade every dedup op documents). */
  private val qDedupSpans = Q(
    "q_dedup_spans",
    (s, dir) =>
      TextDedup.spanDedup(Tables.documents(s, dir), "doc_id", "text", spanTokens = 10)
        .orderBy("doc_id"),
    Some(s"""WITH ${OracleSql.spans10},
                 kept AS (SELECT doc_id, pos, span FROM (
                            SELECT doc_id, pos, span,
                                   row_number() OVER (PARTITION BY span
                                     ORDER BY doc_id, pos) AS rn
                            FROM sp) WHERE rn = 1),
                 reb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                                string_agg(span, ' ' ORDER BY pos) AS text_dedup
                         FROM kept GROUP BY doc_id),
                 tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans
                         FROM sp GROUP BY doc_id)
            SELECT t.doc_id, t.n_spans,
                   COALESCE(r.n_kept, 0) AS n_kept,
                   COALESCE(r.text_dedup, '') AS text_dedup
            FROM tot t LEFT JOIN reb r ON t.doc_id = r.doc_id
            ORDER BY t.doc_id""")
  )

  /** C4-style boilerplate strip: spans occurring in ≥ 3 DISTINCT docs
    * (nav chrome, license footers) removed from EVERY doc — including
    * the first occurrence, the difference from [[qDedupSpans]]'s
    * keep-first election. Census is a partial-aggregatable exact
    * count-distinct over (span, id); the boilerplate frame is the tiny
    * ≥ minDocs tail of the distinct-span frame. */
  private val qBoilerplateStrip = Q(
    "q_boilerplate_strip",
    (s, dir) =>
      TextDedup.boilerplateStrip(Tables.documents(s, dir), "doc_id", "text",
        spanTokens = 10, minDocs = 3)
        .orderBy("doc_id"),
    Some(s"""WITH ${OracleSql.spans10},
                 boiler AS (SELECT span FROM (
                              SELECT span, count(DISTINCT doc_id) AS nd
                              FROM sp GROUP BY span) WHERE nd >= 3),
                 kept AS (SELECT doc_id, pos, span FROM sp
                          WHERE span NOT IN (SELECT span FROM boiler)),
                 reb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
                                string_agg(span, ' ' ORDER BY pos) AS text_clean
                         FROM kept GROUP BY doc_id),
                 tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_spans
                         FROM sp GROUP BY doc_id)
            SELECT t.doc_id, t.n_spans,
                   t.n_spans - COALESCE(r.n_kept, 0) AS n_boiler,
                   COALESCE(r.text_clean, '') AS text_clean
            FROM tot t LEFT JOIN reb r ON t.doc_id = r.doc_id
            ORDER BY t.doc_id""")
  )

  /** URL canonicalization dedup census — the key a crawl pipeline
    * computes BEFORE content dedup. Messy URL variants are constructed
    * DETERMINISTICALLY from fixture rows (the multimodal-family
    * convention: payloads derived from fixture values, never RNG):
    * scheme/host case, `www.`, default vs explicit ports, trailing
    * slash, `utm_*` params, param order, fragments. The kernel
    * ([[graft.api.TextDedup.canonicalUrl]]) is pure per-row Column
    * arithmetic — no shuffle; the census is one groupBy on the
    * canonical string. */
  /** Deterministic messy-URL fixture shared by the URL-keyed queries
    * (the multimodal-family convention: synthetic payloads derived from
    * fixture values, never RNG): scheme/host case, `www.`, default vs
    * explicit ports, trailing slash, `utm_*` params, param order,
    * fragments — every variant [[graft.api.TextDedup.canonicalUrl]]
    * normalizes. */
  private def messyUrls(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.documents(s, dir).select(col("doc_id"), col("text"),
      expr("""concat(
          CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'http' END, '://',
          CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END, source, '.Example.COM',
          CASE WHEN doc_id % 10 = 7 THEN ':8080'
               WHEN doc_id % 10 = 0 THEN ':80' ELSE '' END,
          '/docs/', cast(doc_id % 3 AS STRING),
          CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END,
          CASE WHEN doc_id % 3 = 1
            THEN concat('?z=1&ref=', cast(doc_id % 2 AS STRING), '&utm_source=feed')
            ELSE concat('?ref=', cast(doc_id % 2 AS STRING), '&z=1') END,
          CASE WHEN doc_id % 3 = 0 THEN '#top' ELSE '' END)""").as("url"))

  private val qUrlCanon = Q(
    "q_url_canon",
    (s, dir) => {
      messyUrls(s, dir)
        .select(col("doc_id"), col("url"),
          TextDedup.canonicalUrl(col("url")).as("canon_url"))
        .groupBy("canon_url")
        .agg(count(lit(1)).as("n_urls"),
          countDistinct(col("url")).as("n_raw"),
          min(col("doc_id")).as("first_doc"))
        .orderBy("canon_url")
    },
    Some("""WITH u AS (SELECT doc_id,
              (CASE WHEN doc_id % 2 = 0 THEN 'HTTP' ELSE 'http' END) || '://' ||
              (CASE WHEN doc_id % 3 = 0 THEN 'WWW.' ELSE '' END) || source || '.Example.COM' ||
              (CASE WHEN doc_id % 10 = 7 THEN ':8080'
                    WHEN doc_id % 10 = 0 THEN ':80' ELSE '' END) ||
              '/docs/' || CAST(doc_id % 3 AS VARCHAR) ||
              (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END) ||
              (CASE WHEN doc_id % 3 = 1
                THEN '?z=1&ref=' || CAST(doc_id % 2 AS VARCHAR) || '&utm_source=feed'
                ELSE '?ref=' || CAST(doc_id % 2 AS VARCHAR) || '&z=1' END) ||
              (CASE WHEN doc_id % 3 = 0 THEN '#top' ELSE '' END) AS url
            FROM documents),
           p1 AS (SELECT doc_id, url, split_part(url, '#', 1) AS nf FROM u),
           p2 AS (SELECT doc_id, url,
                    lower(split_part(nf, '://', 1)) AS scheme,
                    split_part(nf, '://', 2) AS rest FROM p1),
           p3 AS (SELECT *, split_part(rest, '/', 1) AS hostport FROM p2),
           p4 AS (SELECT doc_id, url, scheme,
                    regexp_replace(lower(split_part(hostport, ':', 1)), '^www\.', '') AS host,
                    split_part(hostport, ':', 2) AS port,
                    substr(rest, length(hostport) + 1) AS pathq FROM p3),
           p5 AS (SELECT doc_id, url, scheme, host, port,
                    regexp_replace(split_part(pathq, '?', 1), '/+$', '') AS path0,
                    split_part(pathq, '?', 2) AS q FROM p4),
           p6 AS (SELECT doc_id, url, scheme, host, port,
                    CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path,
                    array_to_string(list_sort(list_filter(string_split(q, '&'),
                      p -> p <> '' AND NOT starts_with(p, 'utm_'))), '&') AS qs FROM p5),
           c AS (SELECT doc_id, url,
                   regexp_replace(scheme || '://' || host ||
                     (CASE WHEN port <> '' AND NOT ((scheme = 'http' AND port = '80')
                           OR (scheme = 'https' AND port = '443'))
                       THEN ':' || port ELSE '' END) || path || '?' || qs, '\?$', '') AS canon_url
                 FROM p6)
        SELECT canon_url, CAST(count(*) AS BIGINT) AS n_urls,
               CAST(count(DISTINCT url) AS BIGINT) AS n_raw,
               min(doc_id) AS first_doc
        FROM c GROUP BY canon_url ORDER BY canon_url""")
  )

  /** Per-domain curation census — the input to the domain-level
    * quality/blocklist decisions a crawl pipeline makes (RefinedWeb §3
    * shape): canonical host via the URL kernel, then per domain the doc
    * count, UNIQUE-content count (md5 fingerprint — n_docs − n_unique
    * is the domain's exact-dup burden), word sum, and mean words. The
    * oracle derives the host directly from the construction (source →
    * `source.example.com`) — the semantic spec, not the plan — while
    * the Spark side exercises the full messy-URL → canonicalize →
    * host-extract kernel. */
  private val qDomainStats = Q(
    "q_domain_stats",
    (s, dir) =>
      messyUrls(s, dir)
        .select(
          TextDedup.urlHost(TextDedup.canonicalUrl(col("url"))).as("host"),
          TextDedup.fingerprint(col("text")).as("fp"),
          size(split(col("text"), " ")).cast("long").as("w"))
        .groupBy("host")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("fp")).as("n_unique"),
          sum(col("w")).as("words"))
        .select(col("host"), col("n_docs"), col("n_unique"), col("words"),
          (floor((col("words").cast("double") / col("n_docs")) * 1e4 + 0.5) / 1e4)
            .as("mean_words"))
        .orderBy("host"),
    Some(s"""WITH d AS (SELECT source || '.example.com' AS host,
              ${OracleSql.fingerprint("text")} AS fp,
              len(string_split(text, ' ')) AS w
            FROM documents)
        SELECT host, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT fp) AS BIGINT) AS n_unique,
               CAST(sum(w) AS BIGINT) AS words,
               floor((CAST(sum(w) AS DOUBLE) / count(*)) * 1e4 + 0.5) / 1e4 AS mean_words
        FROM d GROUP BY host ORDER BY host""")
  )

  /** Exact-SUBSTRING dedup (Lee et al., "Deduplicating Training Data
    * Makes Language Models Better", ACL 2022 — ExactSubstr): remove
    * every duplicated token run of length ≥ L at ARBITRARY alignment,
    * keeping only its first occurrence. [[qDedupSpans]]'s fixed
    * non-overlapping windows miss a duplicate that straddles a span
    * boundary; here every SLIDING L-gram votes, so any shared run ≥ L
    * tokens is covered wherever it starts. The paper builds a suffix
    * array; the equivalent distributed formulation: (1) every doc emits
    * its sliding L-grams with positions, (2) each gram elects its first
    * (doc_id, pos) occurrence (partial-aggregatable MIN — no suffix
    * array, no window-rank skew), (3) every NON-first occurrence marks
    * tokens [pos, pos+L) as duplicated — a bounded ×L fan-out of
    * DUP-OCCURRENCE rows only, never the corpus — (4) docs reassemble
    * from uncovered tokens (anti-join on token index). Output: the
    * scrubbed text + token accounting per document. */
  private val qDedupSubstrings = Q(
    "q_dedup_substrings",
    (s, dir) =>
      TextDedup.substringDedup(Tables.documents(s, dir), "doc_id", "text", minRun = 8)
        .orderBy("doc_id"),
    Some("""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t
                          FROM documents WHERE text IS NOT NULL),
                 tokens AS (SELECT doc_id,
                              unnest(list_transform(generate_series(1, len(t)),
                                i -> struct_pack(idx := i - 1, tok := t[i]))) AS s
                            FROM toks),
                 tk AS (SELECT doc_id, s.idx AS idx, s.tok AS tok FROM tokens),
                 grams AS (SELECT doc_id,
                             unnest(list_transform(generate_series(1, len(t) - 7),
                               i -> struct_pack(pos := i - 1,
                                 g := array_to_string(list_slice(t, i, i + 7), ' ')))) AS s
                           FROM toks WHERE len(t) >= 8),
                 gr AS (SELECT doc_id, s.pos AS pos, s.g AS g FROM grams),
                 dup AS (SELECT doc_id, pos FROM (
                           SELECT doc_id, pos,
                                  row_number() OVER (PARTITION BY g
                                    ORDER BY doc_id, pos) AS rn
                           FROM gr) WHERE rn > 1),
                 covered AS (SELECT DISTINCT t.doc_id, t.idx
                             FROM tk t JOIN dup d
                               ON t.doc_id = d.doc_id
                              AND t.idx BETWEEN d.pos AND d.pos + 7),
                 kept AS (SELECT t.doc_id, t.idx, t.tok FROM tk t
                          LEFT JOIN covered c
                            ON t.doc_id = c.doc_id AND t.idx = c.idx
                          WHERE c.idx IS NULL),
                 reb AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok_kept,
                                string_agg(tok, ' ' ORDER BY idx) AS text_dedup
                         FROM kept GROUP BY doc_id),
                 tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok
                         FROM tk GROUP BY doc_id)
            SELECT tot.doc_id, tot.n_tok,
                   COALESCE(reb.n_tok_kept, 0) AS n_tok_kept,
                   COALESCE(reb.text_dedup, '') AS text_dedup
            FROM tot LEFT JOIN reb ON tot.doc_id = reb.doc_id
            ORDER BY tot.doc_id""")
  )

  /** KMV (theta) sketch source overlap — q_source_overlap's SCALE path
    * (graft.api.Sketches.KmvAgg; Beyer et al. SIGMOD'07, the
    * DataSketches theta family): per-source K-Minimum-Values sketches
    * over the 3-gram hash stream, pairwise intersection/Jaccard
    * estimated from the kilobyte summaries. The exact form co-shuffles
    * the full gram stream per source pair; here each source's grams
    * aggregate ONCE (map-side partial, k longs across the wire) and
    * the pairing runs on the GROUP-cardinality sketch frame — nGroups²
    * sketch pairs, corpus-size-independent, the same model-sized-frame
    * class as the 1-row constant broadcasts (documented BNLJ
    * exemption). Sketches are persistable and union-mergeable
    * (merged ≡ sketch-of-union field-exact), so per-shard sketches
    * roll up without rescanning — the q_hll_rollup pattern extended to
    * set INTERSECTION, which HLL cannot answer. Approximate ESTIMATOR,
    * deterministic FUNCTION: the sketch is the k smallest distinct
    * 63-bit xxhash64 values, so [[KmvOracleSql]] replays the whole
    * computation in DuckDB (the XXH64 chain, the minima, the theta-cut
    * arithmetic) and hash-matches; merge exactness, un-full-exactness
    * (≡ the q_source_overlap oracle numbers when k covers the strata),
    * and the estimator error bound remain property-tested
    * (OperatorPropertiesSpec "kmv"). */
  private val qKmvOverlap = Q(
    "q_kmv_overlap",
    (s, dir) => {
      graft.functions.VectorExprs.register(s)
      val k = 256
      val grams = Tables.documents(s, dir)
        .filter(col("text").isNotNull && col("source").isNotNull)
        .select(col("source"), split(col("text"), " ").as("t"))
        .select(col("source"), explode(expr(TextDedup.shingleArraySql("t", 3))).as("g"))
      val sketches = grams
        .select(col("source"), xxhash64(col("g")).as("h"))
        .groupBy("source")
        .agg(graft.api.Sketches.kmvSketch(k)(col("h")).as("sk"))
      val a = sketches.select(col("source").as("group_a"), col("sk").as("ska"))
      val b = sketches.select(col("source").as("group_b"), col("sk").as("skb"))
      // group-sized native pair evaluation (SketchExprs.KmvOverlapExpr); the struct's two field reads
      // are the documented bounded ×2 on a sketch-frame-sized projection
      val ov = graft.api.Sketches.kmvOverlapCols(col("ska"), col("skb"))
      a.crossJoin(b).filter(col("group_a") < col("group_b"))
        .select(col("group_a"), col("group_b"),
          round(ov.getField("est_shared"), 2).as("est_shared"),
          round(ov.getField("jaccard"), 4).as("jaccard"))
        .orderBy("group_a", "group_b")
    },
    Some(KmvOracleSql.sql)
  )

  /** Gram-level Bloom decontamination — q_decontaminate_ngram's exact
    * answer (same oracle), the shape for when even the eval gram HASH
    * set outgrows a broadcast: Bloom bits prefilter, bloom-negative
    * grams never reach the verify join, exact string verify removes the
    * FP-rate-bounded rest. Completes the decontamination family:
    * exact/Bloom at document level × exact/Bloom at gram level. */
  private val qDecontaminateNgramBloom = Q(
    "q_decontaminate_ngram_bloom",
    (s, dir) =>
      TextDedup.decontaminateNgramBloom(Tables.documents(s, dir), "doc_id", "text",
          isEval = col("doc_id") % 97 === 0, n = 4, expectedEvalGrams = 10000L)
        .orderBy("doc_id"),
    Some(decontaminateNgramSql)
  )

  /** Dedup survivors: the kept corpus after near-dup clustering — one
    * canonical document (the cluster-minimum id) per cluster, singletons
    * included. This is the query a pipeline actually materializes as its
    * training corpus; survivors = rows whose id IS their cluster label. */
  private val qDedupSurvivors = Q(
    "q_dedup_survivors",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = TextDedup.jaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.5, maxShingleDf = 10L)
      TextDedup.connectedComponentsStar(pairs, docs, "doc_id")
        .filter(col("id") === col("cluster_id"))
        .select(col("id").as("doc_id"))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE
                 ${OracleSql.trigramPairs()},
                 ${OracleSql.pairComponents}
            SELECT d.doc_id
            FROM documents d LEFT JOIN comp c USING (doc_id)
            WHERE coalesce(least(c.mn, d.doc_id), d.doc_id) = d.doc_id
            ORDER BY d.doc_id""")
  )

  /** Per-eval-doc contamination report
    * (graft.api.TextDedup.contaminationReport): the inverse view of the
    * decontamination family — for EVERY eval doc (same doc_id % 97 = 0
    * split), how many training docs share its normalized fingerprint
    * (0 = clean). Decontamination says what was dropped; this says which
    * benchmark items leaked and how badly. Eval fingerprints broadcast;
    * only contaminated training rows survive the probe join, so the
    * count aggregate is contamination-sized and the corpus never
    * shuffles. Oracle: correlated count per eval doc. */
  private val qContamination = Q(
    "q_contamination",
    (s, dir) =>
      TextDedup.contaminationReport(Tables.documents(s, dir), "doc_id", "text",
          isEval = col("doc_id") % 97 === 0)
        .orderBy("eval_id"),
    Some(s"""WITH ev AS (SELECT doc_id AS eval_id,
                          ${OracleSql.fingerprint("text")} AS fp
                        FROM documents WHERE doc_id % 97 = 0)
            SELECT ev.eval_id,
              CAST((SELECT count(*) FROM documents d
                    WHERE d.doc_id % 97 <> 0
                      AND ${OracleSql.fingerprint("d.text")} = ev.fp)
                   AS BIGINT) AS n_train_dups
            FROM ev ORDER BY ev.eval_id""")
  )

  /** PageRank over the near-dup pair graph (graft.api.Graph.pageRank):
    * 3 damped power iterations over the SAME trigram-Jaccard pairs the
    * cluster family uses — centrality inside duplicate clusters (which
    * copy is the hub vs the satellites), the graph operator family
    * beyond connected components. Ranks are reported scaled by N
    * (mean ≈ 1) and 6dp-floored; per-edge contributions cross every
    * iteration's aggregate as DECIMAL(30,10), so the rank vector is
    * bit-identical on any engine replaying the formula — the oracle
    * unrolls the identical three iterations. */
  private val qPagerank = Q(
    "q_pagerank",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = TextDedup.jaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.5, maxShingleDf = 10L)
      graft.api.Graph.pageRank(pairs, "id_a", "id_b", docs, "doc_id",
          iterations = 3, damping = 0.85)
        .select(col("id").as("doc_id"),
          (floor(col("rank") * col("n_nodes") * 1000000) / 1000000.0).as("rank_n"))
        .orderBy("doc_id")
    },
    Some(s"""WITH ${OracleSql.trigramPairs()},
                 ${OracleSql.pairEdges},
                 deg AS (SELECT u, count(*) AS deg FROM e GROUP BY u),
                 ed AS MATERIALIZED (SELECT e.u, e.v, deg.deg FROM e JOIN deg USING (u)),
                 nn AS (SELECT count(DISTINCT doc_id) AS n FROM documents),
                 r0 AS MATERIALIZED (SELECT doc_id AS id, CAST(1.0 AS DOUBLE) / nn.n AS rank
                        FROM documents, nn),
                 ${OracleSql.pageRankRounds(3)}
            SELECT r3.id AS doc_id,
                   floor(r3.rank * nn.n * 1000000) / 1000000 AS rank_n
            FROM r3 CROSS JOIN nn ORDER BY doc_id""")
  )

  /** Deterministic synchronous label propagation
    * (graft.api.Graph.labelPropagation, 3 rounds) over the SAME
    * trigram-Jaccard near-dup pair graph as q_pagerank: every doc
    * starts labeled with its own id, then repeatedly adopts the most
    * frequent neighbor label (ties → min) — communities denser than
    * connected components (q_dedup_clusters merges anything touching;
    * LPA keeps weakly-bridged clusters apart). Synchronous fixed-round
    * updates make it a pure integer function of the edge set, so the
    * oracle unrolls the identical 3 rounds. Per round: one equi-join of
    * the edge list to the node-sized label frame + one count aggregate
    * + one per-node top-1 window — all keyed by node id, never
    * all-pairs. */
  private val qLabelProp = Q(
    "q_label_prop",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = TextDedup.jaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.5, maxShingleDf = 10L)
      graft.api.Graph.labelPropagation(pairs, "id_a", "id_b",
          docs, "doc_id", rounds = 3)
        .select(col("id").as("doc_id"), col("community"))
        .orderBy("doc_id")
    },
    Some(s"""WITH ${OracleSql.trigramPairs()},
                 ${OracleSql.pairEdges},
                 ${OracleSql.labelPropRounds(3)}
            SELECT CAST(id AS BIGINT) AS doc_id, CAST(lab AS BIGINT) AS community
            FROM l3 ORDER BY doc_id""")
  )

  /** Contamination blast radius ([[graft.api.Graph.bfsHops]]):
    * multi-source BFS over the SAME trigram-Jaccard near-dup graph as
    * q_pagerank/q_label_prop, seeded at every document that has an
    * EXACT duplicate — "how many near-dup links away from a known
    * duplicate is each document?" (hop 0 = is one; unreached docs are
    * clean). Pure integer set algebra, rounds unrolled in the oracle;
    * per round the edge list joins only the shrinking frontier. */
  private val qBfsHops = Q(
    "q_bfs_hops",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = TextDedup.jaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.5, maxShingleDf = 10L)
      val dupTexts = docs.groupBy(col("text")).agg(count(lit(1)).as("c"))
        .filter(col("c") > 1).select("text")
      val seeds = docs.join(dupTexts, Seq("text"), "left_semi").select("doc_id")
      graft.api.Graph.bfsHops(pairs, "id_a", "id_b", seeds, "doc_id",
          maxHops = 3)
        .select(col("id").as("doc_id"), col("hop"))
        .orderBy("doc_id")
    },
    Some(s"""WITH ${OracleSql.trigramPairs()},
                 ${OracleSql.pairEdges},
                 dup AS (SELECT text FROM documents GROUP BY text HAVING count(*) > 1),
                 s0 AS (SELECT DISTINCT d.doc_id AS id FROM documents d
                        JOIN dup ON d.text = dup.text),
                 v0 AS MATERIALIZED (SELECT id, 0 AS hop FROM s0),
                 f1 AS MATERIALIZED (SELECT DISTINCT e.v AS id FROM e JOIN s0 ON e.u = s0.id
                        WHERE e.v NOT IN (SELECT id FROM v0)),
                 v1 AS MATERIALIZED (SELECT * FROM v0 UNION ALL SELECT id, 1 FROM f1),
                 f2 AS MATERIALIZED (SELECT DISTINCT e.v AS id FROM e JOIN f1 ON e.u = f1.id
                        WHERE e.v NOT IN (SELECT id FROM v1)),
                 v2 AS MATERIALIZED (SELECT * FROM v1 UNION ALL SELECT id, 2 FROM f2),
                 f3 AS (SELECT DISTINCT e.v AS id FROM e JOIN f2 ON e.u = f2.id
                        WHERE e.v NOT IN (SELECT id FROM v2)),
                 v3 AS (SELECT * FROM v2 UNION ALL SELECT id, 3 FROM f3)
            SELECT CAST(id AS BIGINT) AS doc_id, CAST(hop AS BIGINT) AS hop
            FROM v3 ORDER BY doc_id""")
  )

  /** Modularity of the q_label_prop communities
    * ([[graft.api.Graph.modularity]]): Q = Σ_c [e_c/m − (d_c/2m)²]
    * over the SAME trigram-Jaccard pair graph — the "are these
    * communities denser than chance?" readout that closes the loop on
    * community detection (detect with q_label_prop, score here).
    * Integer-exact common-denominator numerator, one final division
    * floor-4dp; work ∝ edges. */
  private val qModularity = Q(
    "q_modularity",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      // the pair frame feeds TWO consumers (the LPA rounds and the
      // modularity score) — localCheckpoint so the posting-list pair
      // generation runs once, not once per consumer (guide §2.4 /
      // the r2 re-execution lesson; r13 measured 4.1 → ~2.8 s)
      val pairs = graft.api.Ckpt(TextDedup.jaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.5, maxShingleDf = 10L))
      val comm = graft.api.Graph.labelPropagation(pairs, "id_a", "id_b",
        docs, "doc_id", rounds = 3)
      graft.api.Graph.modularity(pairs, "id_a", "id_b",
        comm, "id", "community")
    },
    Some(s"""WITH ${OracleSql.trigramPairs()},
                 ${OracleSql.pairEdges},
                 ${OracleSql.labelPropRounds(3)},
                 ein AS (SELECT la.lab AS c, count(*) AS ec
                         FROM pairs p
                         JOIN l3 la ON la.id = p.doc_a
                         JOIN l3 lb ON lb.id = p.doc_b
                         WHERE la.lab = lb.lab GROUP BY 1),
                 deg AS (SELECT l.lab AS c, count(*) AS dc
                         FROM e JOIN l3 l ON l.id = e.u GROUP BY 1),
                 mm AS (SELECT count(*) AS m FROM pairs),
                 ncc AS (SELECT count(DISTINCT lab) AS n_communities FROM l3),
                 num AS (SELECT sum(4 * CAST(m AS HUGEINT) * coalesce(ec, 0)
                                    - CAST(dc AS HUGEINT) * dc) AS num
                         FROM deg LEFT JOIN ein USING (c) CROSS JOIN mm)
            SELECT CAST(n_communities AS BIGINT) AS n_communities,
                   CAST(m AS BIGINT) AS n_edges,
                   CASE WHEN m > 0
                        THEN floor(CAST(num AS DOUBLE)
                                   / (4.0 * m * m) * 10000) / 10000
                        ELSE 0.0 END AS modularity
            FROM ncc CROSS JOIN mm CROSS JOIN num""")
  )

  /** Triangle census (graft.api.Graph.triangleStats) over the SAME
    * trigram-Jaccard near-dup pair graph as q_pagerank: one row of exact
    * counts (nodes, edges, wedges, triangles) — transitivity
    * 3·triangles/wedges is the cluster-shape QA separating cliquish
    * mirror clusters from loose chains. Degree-ordered orientation
    * bounds join fan-out by O(√|E|) on any graph; all-integer output,
    * no float hazard. */
  private val qTriangles = Q(
    "q_triangles",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = TextDedup.jaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.5, maxShingleDf = 10L)
      graft.api.Graph.triangleStats(pairs, "id_a", "id_b")
    },
    Some(s"""WITH ${OracleSql.trigramPairs()},
                 deg AS MATERIALIZED (SELECT u, count(*) AS deg FROM
                           (SELECT doc_a AS u FROM pairs
                            UNION ALL SELECT doc_b FROM pairs) GROUP BY u),
                 o AS MATERIALIZED (SELECT CASE WHEN (da.deg, p.doc_a) < (db.deg, p.doc_b)
                                   THEN p.doc_a ELSE p.doc_b END AS a,
                              CASE WHEN (da.deg, p.doc_a) < (db.deg, p.doc_b)
                                   THEN p.doc_b ELSE p.doc_a END AS b
                       FROM pairs p JOIN deg da ON da.u = p.doc_a
                                    JOIN deg db ON db.u = p.doc_b),
                 tri AS (SELECT count(*) AS n_triangles
                         FROM o e1 JOIN o e2 ON e2.a = e1.b
                                   JOIN o e3 ON e3.a = e1.a AND e3.b = e2.b)
            SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_nodes,
                   (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_edges,
                   (SELECT CAST(coalesce(sum((deg * (deg - 1)) // 2), 0) AS BIGINT)
                    FROM deg) AS n_wedges,
                   (SELECT CAST(n_triangles AS BIGINT) FROM tri) AS n_triangles""")
  )

  /** Corpus diff between two snapshots (graft.api.TextDedup.corpusDiff):
    * per source, documents added / removed / changed / unchanged between
    * a corpus and its refreshed crawl — the change-QA report that
    * decides which sources can reuse cached pipeline artifacts. The
    * "new" snapshot here is a deterministic transformation of the
    * fixture (drop doc_id % 7, rewrite % 11, re-add % 13 under shifted
    * ids), replayed identically by the oracle. One full-outer equi-join
    * by id carrying 16-byte fingerprints + one group-sized aggregate. */
  private val qCorpusDiff = Q(
    "q_corpus_diff",
    (s, dir) => {
      val docs = Tables.documents(s, dir).select("doc_id", "text", "source")
      val newc = docs.filter(col("doc_id") % 7 =!= 0)
        .withColumn("text", when(col("doc_id") % 11 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .union(docs.filter(col("doc_id") % 13 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"), col("text"), col("source")))
      TextDedup.corpusDiff(docs, newc, "doc_id", "text", "source")
        .orderBy(asc_nulls_first("source"))
    },
    Some(s"""WITH newc AS (
              SELECT doc_id,
                     CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END AS text,
                     source
              FROM documents WHERE doc_id % 7 <> 0
              UNION ALL
              SELECT doc_id + 1000000, text, source FROM documents WHERE doc_id % 13 = 0),
                 o AS (SELECT doc_id, ${OracleSql.fingerprint("text")} AS ofp,
                         source AS og FROM documents),
                 n AS (SELECT doc_id, ${OracleSql.fingerprint("text")} AS nfp,
                         source AS ng FROM newc),
                 j AS (SELECT coalesce(n.ng, o.og) AS src,
                         (o.doc_id IS NOT NULL) AS in_old,
                         (n.doc_id IS NOT NULL) AS in_new,
                         o.ofp, n.nfp
                       FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
            SELECT src AS source,
              CAST(sum(CASE WHEN NOT in_old THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
              CAST(sum(CASE WHEN NOT in_new THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
              CAST(sum(CASE WHEN in_old AND in_new AND (ofp IS DISTINCT FROM nfp)
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_changed,
              CAST(sum(CASE WHEN in_old AND in_new AND (ofp IS NOT DISTINCT FROM nfp)
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
            FROM j GROUP BY src ORDER BY source NULLS FIRST""")
  )

  /** Blocked Jaro-Winkler fuzzy match over the distinct part-name
    * catalog (record linkage): pairs sharing a first-character block
    * with jw ≥ 0.6, scored by the native `graft_jaro_winkler` expression
    * (semantics pinned to DuckDB's `jaro_winkler_similarity` — the
    * oracle re-derives every score, so the kernel is verified
    * pair-by-pair). Candidates are block-local equi-join pairs
    * ([[graft.api.Fuzzy.jaroWinklerPairs]]); jw truncates at 4dp AFTER
    * the threshold (both engines threshold the raw double — the shared
    * expression tree makes it bit-identical). */
  private val qFuzzyJoin = Q(
    "q_fuzzy_join",
    (s, dir) =>
      graft.api.Fuzzy.jaroWinklerPairs(Tables.part(s, dir), "p_name",
          name => substring(name, 1, 1), threshold = 0.6)
        .select(col("name_a"), col("name_b"),
          (floor(col("jw") * 10000) / 10000).as("jw"))
        .orderBy(asc_nulls_first("name_a"), asc_nulls_first("name_b")),
    Some("""WITH n AS (SELECT DISTINCT p_name FROM part WHERE p_name IS NOT NULL),
                 p AS (SELECT a.p_name AS name_a, b.p_name AS name_b,
                              jaro_winkler_similarity(a.p_name, b.p_name) AS jw
                       FROM n a JOIN n b
                         ON substr(a.p_name, 1, 1) = substr(b.p_name, 1, 1)
                        AND a.p_name < b.p_name)
            SELECT name_a, name_b, floor(jw * 10000) / 10000 AS jw
            FROM p WHERE jw >= 0.6
            ORDER BY name_a NULLS FIRST, name_b NULLS FIRST""")
  )

  /** Degree distribution of the near-dup pair graph (same
    * trigram-Jaccard pairs as q_pagerank/q_triangles): for each degree,
    * how many documents have exactly that many near-duplicates —
    * degree-0 (unique docs) included via the left join against the
    * corpus spine. The graph-shape QA next to the triangle census: a
    * heavy tail here means mirror farms, a mass at 0 means a clean
    * corpus. All-integer output, two hash aggregates past the pair
    * generation, no window. */
  private val qDegrees = Q(
    "q_degrees",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      // the pair frame feeds BOTH union branches of the endpoint stream
      // — localCheckpoint so the posting-list pair generation runs once,
      // not once per branch (guide §2.4, the q_modularity treatment)
      val pairs = graft.api.Ckpt(TextDedup.jaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.5, maxShingleDf = 10L))
      val ends = pairs.select(col("id_a").as("id"))
        .unionAll(pairs.select(col("id_b").as("id")))
      docs.select(col("doc_id").as("id"))
        .join(ends.groupBy("id").agg(count(lit(1)).as("deg")), Seq("id"), "left")
        .select(coalesce(col("deg"), lit(0L)).as("degree"))
        .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
        .orderBy(asc_nulls_first("degree"))
    },
    Some(s"""WITH ${OracleSql.trigramPairs()},
                 e AS (SELECT doc_a AS id FROM pairs
                       UNION ALL SELECT doc_b FROM pairs),
                 d AS (SELECT d0.doc_id, count(e.id) AS degree
                       FROM documents d0 LEFT JOIN e ON e.id = d0.doc_id
                       GROUP BY 1)
            SELECT CAST(degree AS BIGINT) AS degree,
                   CAST(count(*) AS BIGINT) AS n_nodes
            FROM d GROUP BY 1
            ORDER BY degree NULLS FIRST""")
  )

  /** Bipartite Adamic–Adar supplier affinity
    * ([[graft.api.Graph.adamicAdarBipartite]]): top-50 supplier pairs
    * by Σ 1/ln(deg c) over the customers both supply — "suppliers
    * reached through the same RARE customers belong together", the
    * collaborative-filtering wedge scorer (the doc near-dup graph is a
    * perfect matching on this fixture — no wedges — so the graph with
    * real common-neighbor structure is the order stream's bipartite
    * customer–supplier projection). Centers above deg 50 are excluded:
    * negligible 1/ln weight, quadratic wedge fan-out. Floor-4dp before
    * ranking, pair tiebreak — engine-exact top-k membership. */
  private val qAdamicAdar = Q(
    "q_adamic_adar",
    (s, dir) => {
      val edges = Tables.orders(s, dir)
        .join(Tables.lineitem(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey"), col("l_suppkey"))
      graft.api.Graph.adamicAdarBipartite(edges, "o_custkey", "l_suppkey",
        maxCenterDeg = 50L, topK = 50)
    },
    Some("""WITH cs AS (SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS r
                        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
                        WHERE o.o_custkey IS NOT NULL AND l.l_suppkey IS NOT NULL),
                 deg AS (SELECT c, count(*) AS deg FROM cs GROUP BY c),
                 kept AS (SELECT * FROM deg WHERE deg <= 50),
                 ek AS (SELECT cs.c, cs.r, kept.deg FROM cs JOIN kept USING (c)),
                 w AS (SELECT x.deg, x.r AS a, y.r AS b
                       FROM ek x JOIN ek y ON x.c = y.c
                       WHERE x.r < y.r),
                 sc AS (SELECT a, b, count(*) AS n_common,
                          sum(CAST(1.0 / ln(CAST(deg AS DOUBLE)) AS DECIMAL(30,10))) AS s
                        FROM w GROUP BY 1, 2)
            SELECT CAST(a AS BIGINT) AS id_a, CAST(b AS BIGINT) AS id_b,
                   CAST(n_common AS BIGINT) AS n_common,
                   floor(CAST(s AS DOUBLE) * 10000) / 10000 AS aa_score
            FROM sc ORDER BY aa_score DESC, id_a, id_b LIMIT 50""")
  )

  /** Dedup threshold tuning curve: how many near-dup pairs survive at
    * each Jaccard cut from 0.5 to 1.0 — the table an operator reads
    * BEFORE picking the production threshold (the q_dedup_* family all
    * hard-code 0.5; this prices the alternatives in one pass over the
    * same posting-list pair frame). Counts are exact longs; each pair's
    * jaccard is the identical long-ratio double on both engines, so the
    * ≥-cut membership is engine-exact at every edge. One pair-gen pass
    * + ONE 1-row conditional aggregate, unpivoted driver-free with
    * stack. */
  private val qDedupCurve = Q(
    "q_dedup_curve",
    (s, dir) => {
      val pairs = TextDedup.jaccardPairs(Tables.documents(s, dir), "doc_id", "text",
        n = 3, threshold = 0.5, maxShingleDf = 10L)
      def ge(t: Double) =
        coalesce(sum(when(col("jaccard") >= t, 1L).otherwise(0L)), lit(0L))
      pairs.agg(ge(0.5).as("g50"), ge(0.6).as("g60"), ge(0.7).as("g70"),
          ge(0.8).as("g80"), ge(0.9).as("g90"), ge(1.0).as("g100"))
        .selectExpr("""stack(6,
            double(0.5), g50, double(0.6), g60, double(0.7), g70,
            double(0.8), g80, double(0.9), g90, double(1.0), g100)
          AS (threshold, n_pairs)""")
        .orderBy("threshold")
    },
    Some(s"""WITH ${OracleSql.trigramInter()},
                 pj AS (SELECT i * 1.0 / (x.n + y.n - i) AS j
                        FROM inter JOIN sz x ON x.doc_id = doc_a
                                   JOIN sz y ON y.doc_id = doc_b),
                 c AS (SELECT
                         coalesce(sum(CASE WHEN j >= 0.5 THEN 1 ELSE 0 END), 0) AS g50,
                         coalesce(sum(CASE WHEN j >= 0.6 THEN 1 ELSE 0 END), 0) AS g60,
                         coalesce(sum(CASE WHEN j >= 0.7 THEN 1 ELSE 0 END), 0) AS g70,
                         coalesce(sum(CASE WHEN j >= 0.8 THEN 1 ELSE 0 END), 0) AS g80,
                         coalesce(sum(CASE WHEN j >= 0.9 THEN 1 ELSE 0 END), 0) AS g90,
                         coalesce(sum(CASE WHEN j >= 1.0 THEN 1 ELSE 0 END), 0) AS g100
                       FROM pj)
            SELECT CAST(0.5 AS DOUBLE) AS threshold, CAST(g50 AS BIGINT) AS n_pairs FROM c
            UNION ALL SELECT CAST(0.6 AS DOUBLE), CAST(g60 AS BIGINT) FROM c
            UNION ALL SELECT CAST(0.7 AS DOUBLE), CAST(g70 AS BIGINT) FROM c
            UNION ALL SELECT CAST(0.8 AS DOUBLE), CAST(g80 AS BIGINT) FROM c
            UNION ALL SELECT CAST(0.9 AS DOUBLE), CAST(g90 AS BIGINT) FROM c
            UNION ALL SELECT CAST(1.0 AS DOUBLE), CAST(g100 AS BIGINT) FROM c
            ORDER BY threshold""")
  )

  /** Cross-source duplication matrix: the trigram-Jaccard near-dup
    * pairs classified by the (source, source) pair they connect — the
    * "is duplication inter-source syndication or within-source
    * reposting?" readout that decides WHERE dedup effort goes
    * (q_source_overlap counts shared shingles; this counts actual
    * near-dup PAIR verdicts). Diagonal rows (source_a = source_b) are
    * within-source duplication. Two doc-keyed equi-joins attach sources
    * to the pair frame, one |sources|²-bounded aggregate. */
  private val qDedupSources = Q(
    "q_dedup_sources",
    (s, dir) => {
      val docs = Tables.documents(s, dir)
      val src = docs.filter(col("source").isNotNull)
        .select(col("doc_id"), col("source"))
      val pairs = TextDedup.jaccardPairs(docs, "doc_id", "text",
        n = 3, threshold = 0.5, maxShingleDf = 10L)
      pairs
        .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), Seq("id_a"))
        .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), Seq("id_b"))
        .groupBy(least(col("sa"), col("sb")).as("source_a"),
          greatest(col("sa"), col("sb")).as("source_b"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy("source_a", "source_b")
    },
    Some(s"""WITH ${OracleSql.trigramPairs()},
                 ds AS (SELECT doc_id, source FROM documents WHERE source IS NOT NULL)
            SELECT least(da.source, db.source) AS source_a,
                   greatest(da.source, db.source) AS source_b,
                   CAST(count(*) AS BIGINT) AS n_pairs
            FROM pairs JOIN ds da ON da.doc_id = pairs.doc_a
                       JOIN ds db ON db.doc_id = pairs.doc_b
            GROUP BY 1, 2 ORDER BY source_a, source_b""")
  )

  val all: Seq[Q] = Seq(qDedupExact, qNgramJaccard, qDedupEval, qDedupContainment, qDedupMinhash, qDedupIncremental, qDedupSimhash,
    qDedupClusters, qDecontaminate, qDecontaminateBloom, qDecontaminateNgram,
    qDecontaminateNgramBloom, qDedupSurvivors, qDupProfile, qSourceOverlap,
    qKmvOverlap, qDedupSpans, qBoilerplateStrip, qUrlCanon, qDomainStats, qDedupSubstrings, qContamination, qPagerank,
    qLabelProp, qBfsHops, qModularity, qTriangles, qCorpusDiff, qFuzzyJoin,
    qDegrees, qAdamicAdar, qDedupCurve, qDedupSources)
}
