package graft.operators

import graft.{Q, Tables}
import graft.api.Similarity
import org.apache.spark.sql.functions._

/** Similarity-search query surface over the embedding column — thin
  * instantiations of the reusable [[graft.api.Similarity]] operators.
  * Scale analysis in ARCHITECTURE.md: top-k against a broadcast probe is
  * map-side only (no corpus shuffle); the pairwise query is the quadratic
  * exact baseline on the fixed-small corpus; ANN is the scale path
  * (4-row/vector LSH index, multi-probe queries, exact re-rank).
  */
object VectorOps {

  /** Exact cosine top-10 against probe vec_id=0. */
  private val qSimilarityTopK = Q(
    "q_similarity_topk",
    (s, dir) =>
      Similarity.cosineTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
          probeId = 0L, k = 10)
        .select(col("id").as("vec_id"), col("sim")),
    Some("""WITH p AS (SELECT embedding AS pe FROM embeddings WHERE vec_id = 0),
                 sc AS (SELECT vec_id,
                   list_sum(list_transform(list_zip(embedding, pe),
                     x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS dot,
                   sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS na,
                   sqrt(list_sum(list_transform(pe, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nb
                 FROM embeddings, p WHERE vec_id <> 0)
            SELECT vec_id, round(dot / (na * nb), 4) AS sim FROM sc
            ORDER BY sim DESC, vec_id LIMIT 10""")
  )

  /** Exact embedding-cosine near-dup pairs (threshold 0.4). */
  private val qEmbedNearDup = Q(
    "q_embed_neardup",
    (s, dir) =>
      Similarity.nearDupPairs(Tables.embeddings(s, dir), "vec_id", "embedding",
          threshold = 0.4)
        .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"),
          round(col("cos_sim"), 4).as("cos_sim"))
        .orderBy("vec_a", "vec_b"),
    Some("""WITH pr AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   list_sum(list_transform(list_zip(a.embedding, b.embedding),
                     x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS dot,
                   sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS na,
                   sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nb
                 FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
            SELECT vec_a, vec_b, round(dot / (na * nb), 4) AS cos_sim
            FROM pr WHERE dot / (na * nb) >= 0.4 ORDER BY vec_a, vec_b""")
  )

  /** Multi-probe LSH ANN top-10. Approximate in RECALL, deterministic
    * as a FUNCTION: [[AnnOracleSql.lshSql]] replays the planeSign
    * integer arithmetic, the sequential plane dots, the band keys +
    * hamming-1 probe flips, and the exact-cosine re-rank in DuckDB —
    * hash-matched; recall vs the exact baseline stays property-tested. */
  private val qAnnLsh = Q(
    "q_ann_lsh",
    (s, dir) =>
      Similarity.annTopK(Tables.embeddings(s, dir), "vec_id", "embedding",
          probeId = 0L, k = 10, nPlanes = 16, bands = 4, dim = 64)
        .select(col("id").as("vec_id"), col("sim")),
    Some(AnnOracleSql.lshSql)
  )

  /** ANN JOIN: approximate top-5 neighbors for EVERY vector via the LSH
    * band-bucket self-join + exact re-rank — the all-vectors form a
    * 100 TB embedding dedup runs. Approximate in RECALL, deterministic
    * as a FUNCTION: [[AnnOracleSql.joinSql]] replays the occupancy
    * derivation (from the same corpus count), packed band keys,
    * multi-probe XOR, 256-cap guard, and exact re-rank in DuckDB —
    * hash-matched at all three SFs (the derivation differs per SF:
    * w=4 at sf0.01, w=8 at sf0.1); pair recall vs the exact
    * q_embed_neardup pairs stays property-tested ≥ 0.8.
    *
    * OCCUPANCY-AWARE parameters (Similarity.annJoinAuto): sign bits per
    * band derive from corpus size vs target bucket occupancy 32, band
    * count from the banding curve at the EDGE threshold the recall
    * contract actually measures (sim 0.4, recall 0.8 — deriving at a
    * tighter 0.5 was measured 0.78 recall at sf0.1, just under
    * contract; the 0.4-pairs are the hardest and must set the band
    * budget), and hot index buckets are capped at 8× the target
    * occupancy. Measured recall: 0.86+ at sf0.01, ≥0.8 at sf0.1
    * (`graft.tools.AnnRecall` is the evidence runner). At 100× the
    * corpus the derivation moves to finer buckets + more bands instead
    * of letting candidate generation degrade toward quadratic (the r8
    * scale flag); the extra bands at weak thresholds are the published
    * LSH price of recall — the tighter-threshold or IVF paths are the
    * escape hatch when that price is too high. */
  private val qAnnJoin = Q(
    "q_ann_join",
    (s, dir) =>
      Similarity.annJoinAuto(Tables.embeddings(s, dir), "vec_id", "embedding",
          k = 5, dim = 64, targetBucket = 32,
          simThreshold = 0.4, targetRecall = 0.8)
        .select(col("id").as("vec_id"), col("neighbor_id"), col("sim"), col("rank"))
        .orderBy("vec_id", "rank"),
    Some(AnnOracleSql.joinSql)
  )

  /** UNDIRECTED ANN near-dup pairs ≥ 0.4 (Similarity.annPairsAuto) —
    * the rank-free clustering/dedup form of q_ann_join: every
    * exact-verified pair at the edge threshold, no per-probe top-k
    * truncation, each unordered pair verified once. The approximate
    * scale path of the exact q_embed_neardup baseline (precision 1.0
    * by the exact verify; recall measured on contract by
    * graft.tools.AnnRecall at sf0.01 and sf0.1). Oracle:
    * [[AnnOracleSql.pairsSql]] — the joinSql chain, undirected
    * candidates, threshold instead of top-k. */
  private val qAnnPairs = Q(
    "q_ann_pairs",
    (s, dir) =>
      Similarity.annPairsAuto(Tables.embeddings(s, dir), "vec_id", "embedding",
          threshold = 0.4, dim = 64, targetBucket = 32, targetRecall = 0.8)
        .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"), col("sim"))
        .orderBy("vec_a", "vec_b"),
    Some(AnnOracleSql.pairsSql)
  )

  /** IVF JOIN: the coarse-quantizer ANN variant (hash-seeded centers +
    * one Lloyd round, 4-probe cells, exact re-rank) — same output shape
    * as q_ann_join; recall property-tested vs the exact pairs (floor
    * 0.6) and MEASURED by graft.tools.AnnRecall: 0.898 at sf0.01,
    * 0.759 at sf0.1 (the nProbe=4-of-16 pruning ceiling — raise nProbe
    * to buy recall, the published IVF trade). HASH-MATCHED since r11:
    * the decimal-exact Lloyd update ([[graft.functions.VecSumDecAgg]])
    * makes the centroids partition-order-invariant by VALUE, so
    * [[IvfOracleSql]] replays the whole fit-and-join in DuckDB. */
  private val qAnnIvf = Q(
    "q_ann_ivf",
    (s, dir) =>
      Similarity.ivfJoinAuto(Tables.embeddings(s, dir), "vec_id", "embedding",
          k = 5, nProbe = 4, targetCell = 128, iterations = 1)
        .select(col("id").as("vec_id"), col("neighbor_id"), col("sim"), col("rank"))
        .orderBy("vec_id", "rank"),
    Some(IvfOracleSql.ivfSql)
  )

  /** IVF-PQ (IVFADC) ANN JOIN — the composition a production-scale
    * vector store runs (graft.api.Similarity.ivfPqJoin; Jégou et al.,
    * TPAMI 2011 §IV): coarse IVF cells prune the corpus, PQ codes (m=8
    * nibbles/vector — the standing index is 64× smaller than the
    * float64 embeddings) score candidates via the asymmetric-distance
    * lookup table, and only the per-probe ADC shortlist pays the exact
    * cosine re-rank. Vectors are unit-normalized first so ADC's L2
    * ordering IS the cosine ordering (L2² = 2 − 2·cos on unit vectors);
    * the reported sim is exact cosine, so like every graft ANN, the
    * approximation can only LOSE neighbors, never misscore one. Both
    * models (16 IVF centers + 8×16 PQ codebooks) fit on the same
    * deterministic 30% id-hash sample — the fit-on-sample split every
    * graft fit documents for 100 TB. HASH-MATCHED since r11
    * (decimal-exact Lloyd → [[IvfOracleSql.ivfpqSql]] replays unit
    * norms, both sample fits, residual encode, the per-(probe, cell)
    * LUTs, the ordered adc fold + shortlist cut, and the exact
    * re-rank); pair recall vs the exact baseline, ADC-vs-exact
    * shortlist consistency, and the codes-only index shape stay
    * property-tested (OperatorPropertiesSpec "ivf-pq"), and MEASURED by
    * graft.tools.AnnRecall: 0.864 at sf0.01, 0.696 at sf0.1 at the
    * r10-calibrated (nProbe=6, shortlist=8) — the original (4, 4) read
    * 0.729/0.504, under the 0.6 floor at sf0.1, because the 4-bit
    * codebooks rank coarsely and the shortlist truncated too early;
    * widening the shortlist (exact-rerank cost ∝ k·shortlist·nProbe
    * per query, still corpus-fraction-tiny) and probing 6 of 16 cells
    * (ceiling = IVF's own 0.759 at nProbe=4) buys back recall for
    * ~15% more bench time (5.9 s vs 4.5-5.9 band). */
  private val qAnnIvfPq = Q(
    "q_ann_ivfpq",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      graft.functions.VectorExprs.register(s)
      // spread + localCheckpoint the unit-normalized projection ONCE:
      // nine consumers read it (the cell-count scalar, both sample
      // fits' seed/Lloyd passes, the index encode, the probe stream,
      // and two exact-re-rank join-backs) — without the checkpoint each
      // re-runs the scan + normalize subtree (guide §2.4/§5: materialize
      // a many-consumer intermediate; §2.5: the single-row-group scan
      // would also serialize every one of those map sides)
      val base = graft.api.Ckpt(graft.Par.spread(
        emb
          .filter(col("embedding").isNotNull && size(col("embedding")) === 64)
          .select(col("vec_id"), col("embedding").cast("array<double>").as("ed"))
          .withColumn("nrm", sqrt(call_function("vec_dot", col("ed"), col("ed"))))
          .filter(col("nrm") > 0)
          .select(col("vec_id"), transform(col("ed"), x => x / col("nrm")).as("unit")),
        col("vec_id")))
      val fitSample = base.filter(pmod(xxhash64(col("vec_id")), lit(10)) < 3)
      // occupancy-derived cell count from the INDEXED corpus size (the
      // sf1.0 lesson: fixed cells -> linear occupancy -> quadratic probe
      // join); == the historical 16 at every gate SF
      val centers = Similarity.fitIvf(fitSample, "vec_id", "unit",
        nCentroids = Similarity.ivfCellsFor(base.count(), 128), iterations = 1)
      // RESIDUAL codebooks (the full IVFADC): PQ quantizes v − center,
      // so the same 8×16 codebook covers a far tighter ball than raw
      // vectors — better ADC fidelity at identical index bytes
      val books = Similarity.pqFitResidual(fitSample, "vec_id", "unit", centers,
        m = 8, k = 16, dim = 64, iterations = 1)
      Similarity.ivfPqJoin(base, "vec_id", "unit", centers, books,
          k = 5, nProbe = 6, shortlist = 8, dim = 64, residual = true)
        .select(col("id").as("vec_id"), col("neighbor_id"), col("sim"), col("rank"))
        .orderBy("vec_id", "rank")
    },
    Some(IvfOracleSql.ivfpqSql)
  )

  /** Per-label embedding centroids via the element-wise vector-sum
    * aggregate ([[graft.functions.VecSumAgg]] — the IVF Lloyd-update
    * shape as a user-facing query): ONE row per label crosses the
    * shuffle carrying a dim-array buffer (map-side partial aggregation),
    * then the centroid is unrolled to (label, pos, mean) scalars for the
    * oracle compare. The posexplode here is presentation fan-out of
    * nLabels × dim rows — the corpus itself never explodes. */
  private val qEmbedCentroids = Q(
    "q_embed_centroids",
    (s, dir) =>
      Tables.embeddings(s, dir)
        // align with the oracle's avg/count(embedding[i]) null semantics:
        // rows without a vector contribute to neither sum nor n
        .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
        .select(col("label"), col("embedding").cast("array<double>").as("ed"))
        .groupBy("label")
        .agg(graft.functions.VecSumAgg.fn(col("ed")).as("sum"), count(lit(1)).as("n"))
        .select(col("label").cast("long").as("label"), col("n"),
          posexplode(col("sum")).as(Seq("pos", "s")))
        .select(col("label"), (col("pos") + 1).cast("long").as("pos"),
          round(col("s") / col("n"), 4).as("mean"), col("n"))
        .orderBy("label", "pos"),
    Some("""SELECT CAST(label AS BIGINT) AS label, CAST(i AS BIGINT) AS pos,
              round(avg(embedding[i]), 4) AS mean, count(embedding[i]) AS n
            FROM embeddings CROSS JOIN generate_series(1, 64) s(i)
            GROUP BY label, i ORDER BY label, pos""")
  )

  /** Embedding near-dup CLUSTERS: connected components over the exact
    * cosine ≥ 0.4 pair graph (same pairs as q_embed_neardup), every
    * vector labeled with the smallest vec_id reachable from it — the
    * same star-contraction clustering the text near-dup family uses,
    * proving the CC operator is modality-generic. The pair generation is
    * the exempted fixed-size exact baseline; at scale the pairs come
    * from `Similarity.annJoin` instead (approximate → this oracled form
    * pins the clustering semantics). */
  private val qEmbedClusters = Q(
    "q_embed_clusters",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val pairs = Similarity.nearDupPairs(emb, "vec_id", "embedding", threshold = 0.4)
      graft.api.TextDedup.connectedComponentsStar(pairs, emb, "vec_id")
        .select(col("id").as("vec_id"), col("cluster_id"))
        .orderBy("vec_id")
    },
    Some("""WITH RECURSIVE
                 pr AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   list_sum(list_transform(list_zip(a.embedding, b.embedding),
                     x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) AS dot,
                   sqrt(list_sum(list_transform(a.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS na,
                   sqrt(list_sum(list_transform(b.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nb
                 FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id),
                 pairs AS (SELECT vec_a, vec_b FROM pr WHERE dot / (na * nb) >= 0.4),
                 edges AS (SELECT vec_a AS u, vec_b AS v FROM pairs
                           UNION SELECT vec_b, vec_a FROM pairs),
                 reach AS (SELECT u, v FROM edges
                           UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u),
                 comp AS (SELECT u AS vec_id, min(v) AS mn FROM reach GROUP BY u)
            SELECT e.vec_id,
                   coalesce(least(c.mn, e.vec_id), e.vec_id) AS cluster_id
            FROM embeddings e LEFT JOIN comp c USING (vec_id)
            ORDER BY vec_id""")
  )

  /** Embedding near-dup clusters AT SCALE: the same star-contraction
    * clustering as q_embed_clusters, but the pair graph comes from
    * `Similarity.annJoin` (LSH band-bucket equi-join + exact re-rank)
    * instead of the exempted quadratic exact baseline — THE composition
    * a 100 TB embedding dedup actually runs: candidate generation is
    * bucketed (cost ∝ collisions, never n²), the re-rank makes every
    * surviving edge exact-cosine-verified ≥ the threshold (so ANN only
    * loses edges, never invents them: approximate recall, exact
    * precision), and star contraction closes the transitive hull in
    * O(log n) join-free rounds. Approximate → no SQL oracle; property
    * tests pin (a) edge-precision 1.0 vs the exact pair set, (b)
    * cluster-pair recall ≥ 0.8 vs the exact q_embed_clusters labels,
    * (c) the candidate/re-rank plan is equi-join only — no exemption
    * needed, which is the point. */
  private val qEmbedClustersAnn = Q(
    "q_embed_clusters_ann",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // UNDIRECTED pair generation (Similarity.annPairsAuto) — same
      // occupancy-aware derivation as q_ann_join at the 0.4 edge
      // threshold, but no per-probe top-k window (clustering needs the
      // edge SET; k-truncation only loses edges) and each unordered
      // pair verified once — faster AND higher-recall than filtering
      // the annJoin output (the r9 rewrite)
      val pairs = Similarity.annPairsAuto(emb, "vec_id", "embedding",
          threshold = 0.4, dim = 64, targetBucket = 32, targetRecall = 0.8)
        .select(col("id_a"), col("id_b"))
      graft.api.TextDedup.connectedComponentsStar(pairs, emb, "vec_id")
        .select(col("id").as("vec_id"), col("cluster_id"))
        .orderBy("vec_id")
    },
    // AnnOracleSql.clustersSql: the pairsSql chain + the q_dedup_clusters
    // recursive min-label reachability closure
    Some(AnnOracleSql.clustersSql)
  )

  /** SemDeDup (graft.api.Similarity.semDedup — Abbas et al. 2023,
    * arXiv:2303.09540): k-means clusters ARE the dedup blocking — within
    * each fitted cell, vectors whose cosine to a smaller-id cluster-mate
    * exceeds 0.4 are semantic duplicates; the smallest id of every
    * neighborhood survives (the deterministic keep-min variant of the
    * paper's random keeper). One row per vector: cell, keep flag, and
    * the strongest duplicating similarity. Fit + cell count replay the
    * q_ann_ivf machinery (decimal-exact Lloyd, occupancy-derived cells);
    * candidate volume is Σ|cell|² ≈ n·targetCell, never n². */
  private val qEmbedSemdedup = Q(
    "q_embed_semdedup",
    (s, dir) =>
      Similarity.semDedup(Tables.embeddings(s, dir), "vec_id", "embedding",
          simThreshold = 0.4, targetCell = 128, iterations = 1)
        .select(col("id").as("vec_id"), col("cell"), col("keep"), col("dup_sim"))
        .orderBy("vec_id"),
    Some(IvfOracleSql.semdedupSql)
  )

  /** PRODUCT quantization (graft.api.Similarity.pqFit/pqEncode — Jégou
    * et al., TPAMI 2011): 8 subspaces × 16 L2 codewords over the 64-dim
    * embeddings → 8 nibbles per vector (8× smaller than int8 scalar
    * codes), the storage/recall step between scalar quantization and
    * IVF. Fit is model-bounded (hash-seeded + one Lloyd round per
    * subspace, the fitIvf recipe with L2 assignment); encode is pure
    * map-side math against the literal codebook. Output: exact integer
    * code checksum + 6dp-floored reconstruction error. HASH-MATCHED
    * since r11 (decimal-exact Lloyd → [[IvfOracleSql.pqSql]] replays
    * the sample filter, hash-ordered seeds, per-subspace assignment,
    * decimal means, and the ordered error fold); argmin optimality,
    * Lloyd non-increase, determinism stay property-tested. */
  private val qEmbedPq = Q(
    "q_embed_pq",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      // fit on a deterministic 30% id-hash sample, apply to the corpus —
      // the fit-on-sample split every graft fit documents for 100 TB
      val books = Similarity.pqFit(
        emb.filter(pmod(xxhash64(col("vec_id")), lit(10)) < 3), "vec_id", "embedding",
        m = 8, k = 16, dim = 64, iterations = 1)
      Similarity.pqEncode(
          emb.filter(col("embedding").isNotNull && size(col("embedding")) === 64),
          "embedding", books, dim = 64)
        .select(col("vec_id"),
          aggregate(col("codes"), lit(0L), (a, x) => a + x).as("code_sum"),
          (floor(col("pq_sqerr") * 1000000) / 1000000.0).as("pq_sqerr"))
        .orderBy("vec_id")
    },
    Some(IvfOracleSql.pqSql)
  )

  /** Int8 scalar quantization (graft.api.Similarity.quantize): per-vector
    * min/max range → [0,255] codes — the embedding storage-compression
    * step. Output is scalar per vector: the dequantization params, the
    * EXACT integer code checksum (a bit-level cross-engine check on the
    * codes themselves, not just stats), and the worst reconstruction
    * error (≤ qscale/2 by construction; 6dp floor — the derived doubles
    * are bit-identical cross-engine, the floor only fixes print format).
    * Map-side only; the sole exchange is the presentation sort. */
  private val qEmbedQuantize = Q(
    "q_embed_quantize",
    (s, dir) =>
      // align with the oracle's null semantics: rows without a vector
      // are out of scope (same convention as q_embed_centroids)
      Similarity.quantize(
          Tables.embeddings(s, dir)
            .filter(col("embedding").isNotNull && size(col("embedding")) > 0),
          "embedding")
        .select(col("vec_id"),
          (floor(col("qmin") * 1000000) / 1000000.0).as("qmin"),
          (floor(col("qscale") * 1000000) / 1000000.0).as("qscale"),
          aggregate(col("codes"), lit(0L), (a, x) => a + x).as("code_sum"),
          (floor(col("max_abs_err") * 1000000) / 1000000.0).as("max_abs_err"))
        .orderBy("vec_id"),
    Some("""WITH v AS (SELECT vec_id,
                         CASE WHEN len(list_filter(embedding, e -> e IS NULL)) > 0 THEN NULL
                              ELSE list_transform(embedding, e -> CAST(e AS DOUBLE)) END AS v
                       FROM embeddings
                       WHERE embedding IS NOT NULL AND len(embedding) > 0),
                 m AS (SELECT vec_id, v, list_min(v) AS mn,
                         (list_max(v) - list_min(v)) / 255 AS sc FROM v),
                 q AS (SELECT vec_id, mn, sc,
                         CASE WHEN sc > 0
                           THEN CAST(list_sum(list_transform(v, e -> CAST(round((e - mn) / sc) AS BIGINT))) AS BIGINT)
                           WHEN sc = 0 THEN 0 END AS code_sum,
                         CASE WHEN sc > 0
                           THEN list_max(list_transform(v, e -> abs(e - (mn + round((e - mn) / sc) * sc))))
                           WHEN sc = 0 THEN 0.0 END AS max_abs_err
                       FROM m)
            SELECT vec_id, floor(mn * 1000000) / 1000000 AS qmin,
                   floor(sc * 1000000) / 1000000 AS qscale,
                   code_sum,
                   floor(max_abs_err * 1000000) / 1000000 AS max_abs_err
            FROM q ORDER BY vec_id""")
  )

  /** PCA projection of every embedding onto the top-4 principal
    * components ([[graft.api.Pca.fitPower]]): one DECIMAL-exact
    * second-moment aggregation pass (map-side partial, 1-row d²+d+1
    * scaled-long result — the ML-fit exemption), a fixed-budget
    * driver-side power-iteration eigensolve on the 64×64 covariance,
    * then a pure map-side projection over LITERAL component vectors
    * (mean folded into a scalar offset so only the raw vector column
    * is referenced — no HOF re-evaluation). HASH-MATCHED since r12:
    * the exact moments + fixed iteration schedule make the whole fit a
    * closed chain of exactly-rounded IEEE ops, and
    * [[PcaOracleSql.projectSql]] replays moments, recursion,
    * deflation, sign pinning and projections in one recursive CTE
    * (the former Jacobi obstruction was the data-dependent rotation
    * schedule, not PCA itself); eigen-fidelity vs the Jacobi baseline
    * property in PcaSpec. */
  private val qEmbedPca = Q(
    "q_embed_pca",
    (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = graft.api.Pca.fitPower(emb, "embedding", dim = 64, k = 4,
        iters = PcaOracleSql.Iters)
      graft.api.Pca.project(emb, "vec_id", "embedding", model)
        .orderBy("vec_id")
    },
    Some(PcaOracleSql.projectSql)
  )

  /** PCA spectrum summary: top-8 eigenvalues of the embedding
    * covariance with per-component and cumulative variance-explained —
    * the "how many dimensions actually matter" report that sizes OPQ /
    * dimension-pruning decisions. Model-sized output (8 rows) from the
    * same single corpus pass as [[qEmbedPca]]; hash-matched via
    * [[PcaOracleSql.varianceSql]] (the same recursive replay, k=8). */
  private val qPcaVariance = Q(
    "q_pca_variance",
    (s, dir) => {
      val spark = s
      import spark.implicits._
      val model = graft.api.Pca.fitPower(Tables.embeddings(s, dir), "embedding",
        dim = 64, k = 8, iters = PcaOracleSql.Iters)
      val ve = model.varianceExplained
      val cum = ve.scanLeft(0.0)(_ + _).drop(1)
      model.eigenvalues.indices.map { i =>
        (i + 1L, math.floor(model.eigenvalues(i) * 10000) / 10000,
          math.floor(ve(i) * 10000) / 10000,
          math.floor(cum(i) * 10000) / 10000)
      }.toSeq.toDF("component", "eigenvalue", "var_explained", "cum_var_explained")
        .orderBy("component")
    },
    Some(PcaOracleSql.varianceSql)
  )

  /** Leave-one-out 5-NN label evaluation
    * ([[graft.api.Similarity.knnLooConfusion]]): every embedding
    * classified by the majority label of its 5 cosine-nearest others,
    * reported as the confusion matrix — the embedding-quality probe
    * ("do these vectors separate the classes?") run before committing
    * to an index or classifier head. EXACT all-pairs baseline over the
    * fixed-small corpus (the q_embed_neardup exemption class; the
    * scale path feeds the same vote windows from annJoin); similarity
    * rounds to 4dp BEFORE ranking and every tie-break is pinned, so
    * the matrix is engine-exact. */
  private val qKnnEval = Q(
    "q_knn_eval",
    (s, dir) =>
      Similarity.knnLooConfusion(Tables.embeddings(s, dir), "vec_id",
          "embedding", "label", k = 5)
        .select(col("label").cast("bigint").as("label"),
          col("predicted").cast("bigint").as("predicted"), col("n_vecs"))
        .orderBy(asc_nulls_first("label"), asc_nulls_first("predicted")),
    Some(s"""WITH e AS (SELECT vec_id, embedding, label FROM embeddings
                       WHERE vec_id IS NOT NULL AND embedding IS NOT NULL
                         AND label IS NOT NULL),
                 pr AS (SELECT a.vec_id AS ia, a.label AS la,
                          b.vec_id AS ib, b.label AS lb,
                          round(${OracleSql.cos("a.embedding", "b.embedding")}, 4) AS sim
                        FROM e a JOIN e b ON a.vec_id <> b.vec_id),
                 top AS (SELECT ia, la, lb,
                           row_number() OVER (PARTITION BY ia
                             ORDER BY sim DESC, ib ASC) AS rn
                         FROM pr),
                 v AS (SELECT ia, la, lb, count(*) AS c
                       FROM top WHERE rn <= 5 GROUP BY 1, 2, 3),
                 p AS (SELECT ia, la, lb,
                         row_number() OVER (PARTITION BY ia
                           ORDER BY c DESC, lb ASC) AS vr
                       FROM v)
            SELECT CAST(la AS BIGINT) AS label, CAST(lb AS BIGINT) AS predicted,
                   CAST(count(*) AS BIGINT) AS n_vecs
            FROM p WHERE vr = 1 GROUP BY 1, 2
            ORDER BY label NULLS FIRST, predicted NULLS FIRST""")
  )

  /** The SCALE composition of q_knn_eval
    * ([[graft.api.Similarity.knnAnnConfusion]]): the same majority-vote
    * confusion, with neighbor lists from annJoinAuto's bucketed LSH
    * index (occupancy-derived params, hot-bucket cap) instead of the
    * exact quadratic pair frame — what the evaluation actually runs at
    * 100 TB. Approximate only in which neighbors are found (candidates
    * are exact-cosine re-ranked); no SQL oracle by design — accuracy
    * parity vs the exact q_knn_eval is property-tested. */
  private val qKnnEvalAnn = Q(
    "q_knn_eval_ann",
    (s, dir) =>
      Similarity.knnAnnConfusion(Tables.embeddings(s, dir), "vec_id",
          "embedding", "label", k = 5, dim = 64)
        .select(col("label").cast("bigint").as("label"),
          col("predicted").cast("bigint").as("predicted"), col("n_vecs"))
        .orderBy(asc_nulls_first("label"), asc_nulls_first("predicted")),
    // AnnOracleSql.knnSql: the joinSql chain at the knn defaults
    // (simThreshold 0.5), majority vote, confusion matrix
    Some(AnnOracleSql.knnSql)
  )

  /** Label-noise audit ([[graft.api.Similarity.labelNoise]], the
    * confident-learning signal): per label, the 3 members least similar
    * to their own decimal-exact centroid, each with its best OTHER
    * centroid and the `flipped` relabel suggestion. Centroids are
    * VecSumDecAgg scaled-long sums + HALF_UP 6dp means (partition-order-
    * invariant by value — the fitIvf discipline), so the whole audit
    * replays in DuckDB. */
  private val qLabelNoise = Q(
    "q_label_noise",
    (s, dir) =>
      Similarity.labelNoise(Tables.embeddings(s, dir), "vec_id", "embedding",
          "label", kWorst = 3)
        .orderBy(asc_nulls_first("label"), asc_nulls_first("rank")),
    Some(s"""WITH em AS (SELECT CAST(vec_id AS BIGINT) AS id, CAST(label AS BIGINT) AS label, embedding AS e
                        FROM embeddings
                        WHERE embedding IS NOT NULL AND len(embedding) > 0
                          AND label IS NOT NULL),
                 cnts AS (SELECT label, count(*) AS cnt FROM em GROUP BY label),
                 el AS (SELECT label, q.i AS pos,
                          CAST(floor(CAST(e[q.i+1] AS DOUBLE) * 1e10 + 0.5) AS HUGEINT) AS sv
                        FROM em CROSS JOIN (SELECT unnest(range(0, 64)) AS i) q),
                 csum AS (SELECT label, pos, sum(sv) AS s FROM el GROUP BY label, pos),
                 cm AS (SELECT c.label, c.pos,
                          (CASE WHEN c.s >= 0 THEN ((c.s)*2 + 10000*(n.cnt)) // (2*10000*(n.cnt))
                           ELSE -(((-(c.s))*2 + 10000*(n.cnt)) // (2*10000*(n.cnt))) END)::DOUBLE
                            / 1000000.0 AS cval
                        FROM csum c JOIN cnts n USING (label)),
                 cent AS MATERIALIZED (SELECT label AS clabel, list(cval ORDER BY pos) AS c
                        FROM cm GROUP BY label),
                 sc AS (SELECT v.id, v.label, t.clabel,
                          round(${OracleSql.cos("v.e", "t.c")}, 4) AS sim
                        FROM em v CROSS JOIN cent t),
                 own AS (SELECT id, label, sim AS self_sim FROM sc WHERE label = clabel),
                 oth AS (SELECT id, clabel AS best_other_label, sim AS best_other_sim FROM (
                           SELECT id, clabel, sim,
                                  row_number() OVER (PARTITION BY id
                                    ORDER BY sim DESC, clabel) AS r
                           FROM sc WHERE label <> clabel) WHERE r = 1),
                 rk AS (SELECT o.label, o.id, o.self_sim, t.best_other_label, t.best_other_sim,
                          row_number() OVER (PARTITION BY o.label
                            ORDER BY o.self_sim ASC, o.id) AS rank
                        FROM own o JOIN oth t USING (id))
            SELECT label, CAST(rank AS BIGINT) AS rank, id AS vec_id, self_sim,
                   best_other_label, best_other_sim,
                   (best_other_sim > self_sim) AS flipped
            FROM rk WHERE rank <= 3
            ORDER BY label NULLS FIRST, rank NULLS FIRST""")
  )

  /** Greedy k-center coreset ([[graft.api.Similarity.kcenterCoreset]],
    * Gonzalez 1985 farthest-point traversal — the geometric heart of
    * core-set data pruning): seed at the smallest id, then 7× add the
    * vector least similar to everything selected. Each step is one
    * distributed corpus pass (selected set = ≤8 literal vectors)
    * ending in a 1-row argmin collect; the emitted far_sim curve is
    * the coverage radius a pruning run reads to pick its budget.
    * Oracle: [[KcenterOracleSql.coresetSql]] unrolls the 8 steps. */
  private val qCoresetKcenter = Q(
    "q_coreset_kcenter",
    (s, dir) =>
      Similarity.kcenterCoreset(Tables.embeddings(s, dir), "vec_id", "embedding",
          k = 8)
        .orderBy(asc_nulls_first("rank")),
    Some(KcenterOracleSql.coresetSql)
  )

  /** MMR diversity rerank ([[graft.api.Similarity.mmrRerank]],
    * Carbonell & Goldstein SIGIR'98): greedy λ=0.7/μ=0.3 selection of
    * 8 from probe-0's cosine top-20 — relevance traded against
    * redundancy with the already-selected set, the rerank RAG stacks
    * run on every retrieved page. Corpus-sized work (retrieval, pair
    * cosines) is distributed; the greedy fold runs over the
    * kCand+kCand² collected shortlist (corpus-size-independent — the
    * page IS the model). Oracle: [[MmrOracleSql.rerankSql]] unrolls
    * the 8 steps as MATERIALIZED CTE pairs (the BPE precedent). */
  private val qMmrRerank = Q(
    "q_mmr_rerank",
    (s, dir) =>
      Similarity.mmrRerank(Tables.embeddings(s, dir), "vec_id", "embedding",
          probeId = 0L, kCand = 20, k = 8)
        .orderBy(asc_nulls_first("rank")),
    Some(MmrOracleSql.rerankSql)
  )

  /** MATRYOSHKA truncation evaluation
    * ([[graft.api.Similarity.matryoshkaEval]], Kusupati et al. 2022):
    * per probe (vec 0-9), the overlap@10 between the full-64-dim exact
    * cosine top-10 and the prefix-16/32-dim re-rank — the table read
    * before committing to a truncated index width (a 4× dim cut is a
    * 4× scan/memory cut at 100 TB if recall holds). One probe-set
    * broadcast cross computes every sim in a single corpus pass. */
  private val qMatryoshkaEval = Q(
    "q_matryoshka_eval",
    (s, dir) =>
      Similarity.matryoshkaEval(Tables.embeddings(s, dir), "vec_id", "embedding",
          probeIds = (0L to 9L).toSeq, dims = Seq(16, 32), k = 10)
        .orderBy(asc_nulls_first("probe_id"), asc_nulls_first("dim")),
    Some(s"""WITH em AS (SELECT vec_id AS id, embedding AS e FROM embeddings
                        WHERE embedding IS NOT NULL AND len(embedding) > 0),
                 pr AS (SELECT id AS pid, e AS pe FROM em
                        WHERE id IN (0,1,2,3,4,5,6,7,8,9)),
                 dd(dim) AS (VALUES (16), (32)),
                 sc AS (SELECT p.pid, v.id, d.dim,
                          round(${OracleSql.cos("v.e", "p.pe")}, 4) AS sim_full,
                          round(${OracleSql.cos("list_slice(v.e, 1, d.dim)",
                            "list_slice(p.pe, 1, d.dim)")}, 4) AS sim_d
                        FROM em v CROSS JOIN pr p CROSS JOIN dd d
                        WHERE v.id <> p.pid),
                 g AS (SELECT pid, dim, id, row_number() OVER (PARTITION BY pid, dim
                         ORDER BY sim_full DESC, id) AS grank FROM sc),
                 t AS (SELECT pid, dim, id, row_number() OVER (PARTITION BY pid, dim
                         ORDER BY sim_d DESC, id) AS trank FROM sc),
                 gold AS (SELECT pid, dim, id FROM g WHERE grank <= 10),
                 tr AS (SELECT pid, dim, id FROM t WHERE trank <= 10),
                 ov AS (SELECT tr.pid, tr.dim,
                          sum(CASE WHEN gold.id IS NOT NULL THEN 1 ELSE 0 END) AS n_overlap
                        FROM tr LEFT JOIN gold USING (pid, dim, id)
                        GROUP BY 1, 2)
            SELECT CAST(pid AS BIGINT) AS probe_id, CAST(dim AS BIGINT) AS dim,
                   CAST(n_overlap AS BIGINT) AS n_overlap,
                   round(n_overlap / 10.0, 4) AS recall
            FROM ov
            ORDER BY probe_id NULLS FIRST, dim NULLS FIRST""")
  )

  /** HARD-NEGATIVE mining for contrastive training
    * ([[graft.api.Similarity.hardNegatives]]): for every labeled
    * vector, the top-3 cosine-nearest DIFFERENT-label vectors inside
    * the 0.4 ≤ sim < 0.95 hardness window — the floor keeps negatives
    * informative, the ceiling drops near-duplicates (a ≥0.95-cosine
    * cross-label pair is more likely a mislabel/un-deduped copy than a
    * legitimate negative). Candidates ride the routed ANN machinery
    * (LSH bands below the clamp, IVF cells past it); exact-cosine
    * verify before the election makes precision exact given the pool.
    * Approximate in RECALL, deterministic as a FUNCTION —
    * [[AnnOracleSql.hardNegSql]] replays both routed chains plus the
    * label/hardness election. */
  private val qHardNegatives = Q(
    "q_hard_negatives",
    (s, dir) =>
      Similarity.hardNegatives(Tables.embeddings(s, dir), "vec_id", "embedding",
          "label", k = 3)
        .select(col("vec_id"), col("label").cast("bigint").as("label"),
          col("neg_id"), col("neg_label").cast("bigint").as("neg_label"),
          col("sim"), col("rank"))
        .orderBy(asc_nulls_first("vec_id"), asc_nulls_first("rank")),
    Some(AnnOracleSql.hardNegSql)
  )

  /** Embedding L2-norm census per label — the vector-health audit run
    * before any cosine/ANN stage (un-normalized or zero vectors break
    * cosine semantics silently; a label whose norm band differs from
    * the rest signals an encoder version mix). Per row, ONE sequential
    * left-fold of x² in double (Spark's `aggregate` starting at 0.0 ≡
    * DuckDB's `list_reduce` seeded by the first element — the 0.0+x₀²
    * identity keeps the folds bit-equal); per label, min/max are exact
    * double picks and the mean quantizes each norm DECIMAL(30,10)
    * before the order-proof sum. Map-side + one hash aggregate. */
  private val qEmbedNorms = Q(
    "q_embed_norms",
    (s, dir) =>
      Tables.embeddings(s, dir)
        .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
        .select(col("label"),
          sqrt(aggregate(col("embedding"), lit(0.0),
            (a, x) => a + x.cast("double") * x.cast("double"))).as("nrm"))
        .groupBy("label")
        .agg(count(lit(1)).as("n_vecs"),
          (floor(min("nrm") * 10000) / 10000).as("min_norm"),
          (floor(max("nrm") * 10000) / 10000).as("max_norm"),
          (floor(sum(col("nrm").cast("decimal(30,10)")).cast("double")
            / count(lit(1)) * 10000) / 10000).as("mean_norm"))
        .orderBy(asc_nulls_first("label")),
    Some("""WITH v AS (SELECT label,
                         sqrt(list_reduce(list_transform(embedding,
                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                           (a, b) -> a + b)) AS nrm
                       FROM embeddings
                       WHERE embedding IS NOT NULL AND len(embedding) > 0)
            SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
                   floor(min(nrm) * 10000) / 10000 AS min_norm,
                   floor(max(nrm) * 10000) / 10000 AS max_norm,
                   floor(CAST(sum(CAST(nrm AS DECIMAL(30,10))) AS DOUBLE)
                         / count(*) * 10000) / 10000 AS mean_norm
            FROM v GROUP BY label ORDER BY label NULLS FIRST""")
  )

  /** Margin-based BITEXT MINING, exact baseline
    * ([[graft.api.Similarity.bitextMine]] — Artetxe & Schwenk,
    * ACL 2019, the LASER/CCMatrix parallel-corpus miner): the
    * even-label embeddings play the source language, the odd-label the
    * target; every source vector elects its argmax-RATIO-MARGIN target
    * — cos(x,y) / ((m₄(x)+m₄(y))/2), the kNN-average normalization
    * that kills cosine hubness — kept iff the margin clears 1.02.
    * Full A×B cross = the fixed-small exact-evidence class
    * (q_knn_eval); the registered scale path is q_bitext_mine_ann.
    * Deterministic throughout (sequential cosine folds, pinned
    * left-assoc k-term sums, id tiebreaks) → hash-matched via
    * [[BitextOracleSql.exactSql]]. */
  private val qBitextMine = Q(
    "q_bitext_mine",
    (s, dir) => {
      val em = Tables.embeddings(s, dir).filter(col("label").isNotNull)
      Similarity.bitextMine(
          em.filter(pmod(col("label"), lit(2)) === 0),
          em.filter(pmod(col("label"), lit(2)) === 1),
          "vec_id", "embedding",
          k = BitextOracleSql.K, threshold = BitextOracleSql.Threshold)
        .orderBy("a_id")
    },
    Some(BitextOracleSql.exactSql)
  )

  /** Bitext mining AT SCALE ([[graft.api.Similarity.bitextMineBlocked]]):
    * the same margin election over an IVF-CELL BLOCKED candidate pool —
    * fit on A∪B at the occupancy-derived cell count, symmetric top-3
    * probes, candidates = cross-side pairs sharing any probed cell
    * (distinct skinny rows, the ivfPairsWith shape) — candidate volume
    * ≈ n·nProbe²·targetCell, never |A|·|B|. The kNN means run over the
    * same blocked pool (the standard blocked-mining approximation), so
    * the result is a deterministic function of the pool and
    * [[BitextOracleSql.blockedSql]] replays fit, probes, pool, and
    * election — hash-matched; mined-pair agreement vs the exact
    * baseline is property-tested. */
  private val qBitextMineAnn = Q(
    "q_bitext_mine_ann",
    (s, dir) =>
      Similarity.bitextMineBlocked(
          Tables.embeddings(s, dir).filter(col("label").isNotNull),
          "vec_id", "embedding",
          sideCol = pmod(col("label"), lit(2)) === 1,
          k = BitextOracleSql.K, threshold = BitextOracleSql.Threshold,
          targetCell = 128, iterations = 1, nProbe = 3)
        .orderBy("a_id"),
    Some(BitextOracleSql.blockedSql)
  )

  val all: Seq[Q] = Seq(qSimilarityTopK, qEmbedNearDup, qAnnLsh, qAnnJoin, qAnnPairs,
    qAnnIvf, qAnnIvfPq, qEmbedCentroids, qEmbedClusters, qEmbedClustersAnn,
    qEmbedQuantize, qEmbedPq, qEmbedSemdedup, qEmbedPca, qPcaVariance, qKnnEval, qKnnEvalAnn,
    qEmbedNorms, qBitextMine, qBitextMineAnn, qHardNegatives, qMatryoshkaEval,
    qMmrRerank, qCoresetKcenter, qLabelNoise)
}
