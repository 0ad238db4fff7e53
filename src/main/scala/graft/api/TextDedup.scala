package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reusable deduplication operators for text corpora — the parameterized
  * library surface behind the `q_dedup_*` queries. All operators are
  * generic over (idCol: long-ish, textCol: string) and follow the scale
  * rules in ARCHITECTURE.md: no all-pairs joins, deterministic hashing,
  * candidate generation by inverted index or LSH bucket, exact
  * verification of candidates.
  */
object TextDedup {

  /** SQL template producing the word n-gram shingle ARRAY (with
    * within-doc repeats) from a token-array column — THE one definition
    * of shingle construction; every consumer (batch rawShingles,
    * streaming bandRows, and by-mirror the DuckDB oracle CTEs) derives
    * from it. Docs with fewer than n tokens yield an empty array. */
  def shingleArraySql(tokensCol: String, n: Int): String =
    s"""CASE WHEN size($tokensCol) >= $n
           THEN transform(sequence(0, size($tokensCol) - $n),
                  i -> concat_ws(' ', ${(0 until n).map(j => s"$tokensCol[i+$j]").mkString(", ")}))
           ELSE array() END"""

  /** Word n-gram shingles per document, WITH within-doc repeats:
    * (id, shingle). */
  def rawShingles(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    // spread (guide §2.5): tokenize + shingle explode is the map side of
    // every dedup family's first shuffle; on a single-row-group fixture
    // scan it runs as ONE task (no-op when the scan is already parallel).
    // The spread moves compact (id, text) rows BEFORE the explode, so
    // the extra exchange carries documents, never the shingle fan-out.
    graft.Par.spread(
        df.select(col(idCol).as("id"), col(textCol).as("__txt")), col("id"))
      .select(col("id"), split(col("__txt"), " ").as("t"))
      .select(col("id"), explode(expr(shingleArraySql("t", n))).as("shingle"))

  /** Distinct word n-gram shingles per document: (id, shingle). */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    rawShingles(df, idCol, textCol, n).distinct()

  /** Per-document novelty report: of the doc's distinct word n-grams,
    * how many appear NOWHERE else in the corpus (df = 1) — the
    * memorization/novelty probe ("is this document template boilerplate
    * or original text?") that complements dedup: a doc can be
    * pair-unique yet 0% novel because every one of its n-grams lives in
    * other docs. Docs too short for a single n-gram report 0 shingles,
    * ratio 0. Exact longs + one division floor-4dp.
    *
    * Scale shape: the posting-list discipline — one shuffle to the
    * shingle-keyed df frame, one equi-join back, one id-keyed
    * aggregate, one left join to the id universe (all hash-keyed, no
    * pair generation, no broadcast). The shingle frame is
    * localCheckpoint'd: both the df aggregate and the probe join
    * consume it. */
  def noveltyReport(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    val sh = shingles(df, idCol, textCol, n).transform(Ckpt.apply)
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val per = sh.join(dfreq, "shingle")
      .groupBy("id")
      .agg(count(lit(1)).as("n_sh"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_uq"))
    df.select(col(idCol).as("id")).join(per, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_sh"), lit(0L)).as("n_shingles"),
        coalesce(col("n_uq"), lit(0L)).as("n_unique"))
      .withColumn("novelty_ratio",
        when(col("n_shingles") > 0,
          floor(col("n_unique").cast("double") /
            col("n_shingles").cast("double") * 10000) / 10000)
          .otherwise(lit(0.0)))
  }

  /** Exact dedup: one surviving id per distinct text (the smallest).
    * Returns (id). For very large documents pass a fingerprinted column
    * (see [[fingerprint]]) so the shuffle key is 32 bytes, not the text. */
  def exactSurvivors(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(col(textCol)).agg(min(col(idCol)).as("id")).select("id")

  /** MD5 fingerprint of whitespace-normalized lowercase text — the
    * content-address for exact dedup across shards. */
  def fingerprint(textCol: Column): Column =
    md5(lower(regexp_replace(textCol, "\\s+", " ")))

  /** URL canonicalization — the dedup key a web-crawl pipeline computes
    * BEFORE content dedup (the same page is fetched as `HTTP://WWW.x/a/`,
    * `http://x/a?utm_source=feed`, `http://x:80/a#frag`, ...). Rules
    * (the common subset of the crawler folklore — RFC 3986 §6 syntax
    * normalization + the utm-strip convention):
    *   1. drop the fragment;
    *   2. lowercase scheme and host;
    *   3. strip a leading `www.` label;
    *   4. strip the scheme's default port (http:80, https:443);
    *   5. strip trailing slashes from the path (empty path → `/`);
    *   6. drop `utm_*` tracking params, SORT the survivors (param order
    *      never changes the resource).
    * Pure per-row Column arithmetic — no shuffle, no UDF; the canonical
    * string then feeds the standard groupBy census / exact-dedup
    * machinery. The `?`-append-then-strip at the end keeps the computed
    * param HOF referenced exactly once (repo invariant #5). */
  def canonicalUrl(url: Column): Column = {
    val noFrag = split_part(url, lit("#"), lit(1))
    val scheme = lower(split_part(noFrag, lit("://"), lit(1)))
    val rest = split_part(noFrag, lit("://"), lit(2))
    val hostport = split_part(rest, lit("/"), lit(1))
    val pathq = rest.substr(length(hostport) + lit(1), length(rest))
    val host = regexp_replace(lower(split_part(hostport, lit(":"), lit(1))),
      lit("^www\\."), lit(""))
    val port = split_part(hostport, lit(":"), lit(2))
    val keepPort = port =!= "" &&
      !((scheme === "http" && port === "80") || (scheme === "https" && port === "443"))
    val path0 = regexp_replace(split_part(pathq, lit("?"), lit(1)), lit("/+$"), lit(""))
    val path = when(path0 === "", lit("/")).otherwise(path0)
    val qs = array_join(
      array_sort(filter(split(split_part(pathq, lit("?"), lit(2)), "&"),
        p => p =!= "" && !startswith(p, lit("utm_")))), "&")
    regexp_replace(
      concat(scheme, lit("://"), host,
        when(keepPort, concat(lit(":"), port)).otherwise(lit("")),
        path, lit("?"), qs),
      lit("\\?$"), lit(""))
  }

  /** Host (registrable domain string, port stripped) of a
    * [[canonicalUrl]]-normalized URL — the grouping key for per-domain
    * curation censuses. */
  def urlHost(canon: Column): Column =
    split_part(split_part(split_part(canon, lit("://"), lit(2)),
      lit("/"), lit(1)), lit(":"), lit(1))

  /** Exact n-gram Jaccard near-dup pairs via a single-shuffle inverted
    * index. Returns (id_a, id_b, jaccard) for pairs ≥ threshold,
    * id_a < id_b. `maxShingleDf` drops shingles occurring in more than
    * that many docs (stop-shingle skew guard; 0 disables).
    *
    * Plan shape (the 100 TB argument): ONE shuffle groups the exploded
    * (shingle, id) stream by shingle into posting lists (the set
    * aggregate dedups within-doc repeats, so no separate distinct pass
    * exists), and candidate pairs are emitted INSIDE each surviving
    * group with a HOF over the sorted posting list — fan-out bounded by
    * df² ≤ maxShingleDf² per shingle. With the guard ON the aggregation
    * itself is memory-bounded: [[graft.functions.CappedSetAgg]] caps
    * every aggregation buffer at maxShingleDf + 1 ids, so a stop-shingle
    * in 10⁸ documents costs one reducer maxShingleDf + 1 longs — never
    * the full posting list — and is then dropped by the `size(ids)`
    * filter (kept groups are provably untruncated, see the Aggregator's
    * scaladoc). The guarded posting lists are localCheckpoint'd (ids
    * only, no text) because both the pair counter and the per-doc size
    * aggregate consume them; without it the tokenize+group subtree
    * re-executes per consumer (the r2 18.7 s regression). */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5, maxShingleDf: Long = 0L): DataFrame =
    overlapPairs(df, idCol, textCol, n, maxShingleDf)
      .withColumn("jaccard", col("i") / (col("na") + col("nb") - col("i")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))

  /** Directional n-gram CONTAINMENT near-dup pairs over the same
    * inverted index as [[jaccardPairs]]: `cont_a = |A∩B| / |A|` (how
    * much of doc a sits inside doc b) and symmetrically `cont_b`. Keeps
    * pairs with `max(cont_a, cont_b) ≥ threshold` — the asymmetric test
    * Jaccard misses: a short document wholly quoted inside a long one
    * scores containment ≈ 1 while its Jaccard stays below any sane
    * threshold (|A∩B| / |A∪B| is diluted by the long side). This is the
    * subset/quotation detector in a dedup ladder; same single-shuffle
    * posting-list plan and stop-shingle guard as Jaccard. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5, maxShingleDf: Long = 0L): DataFrame =
    overlapPairs(df, idCol, textCol, n, maxShingleDf)
      .withColumn("cont_a", col("i") / col("na"))
      .withColumn("cont_b", col("i") / col("nb"))
      .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)
      .select(col("id_a"), col("id_b"), col("cont_a"), col("cont_b"))

  /** The shared pair-overlap core of [[jaccardPairs]] /
    * [[containmentPairs]]: (id_a, id_b, i = |A∩B|, na = |A|, nb = |B|)
    * for every candidate pair sharing ≥1 surviving shingle, id_a < id_b.
    * Plan as documented on [[jaccardPairs]]. */
  def overlapPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, maxShingleDf: Long = 0L): DataFrame = {
    // normalize ids to non-null longs UP FRONT so both guard branches
    // accept the same inputs (the capped-set aggregate is typed over
    // Long; collect_set would merely drop nulls — same outcome, made
    // explicit and branch-independent here)
    val shRaw = rawShingles(df, idCol, textCol, n)
      .select(col("id").cast("long").as("id"), col("shingle"))
      .filter(col("id").isNotNull)
    val guarded =
      if (maxShingleDf <= 0)
        shRaw.groupBy("shingle").agg(collect_set("id").as("ids"))
      else {
        require(maxShingleDf < Int.MaxValue, "maxShingleDf must fit in an Int")
        shRaw.groupBy("shingle")
          .agg(graft.functions.CappedSetAgg.fn(maxShingleDf.toInt + 1)(col("id")).as("ids"))
          .filter(size(col("ids")) <= maxShingleDf)
      }
    // posting lists only (sorted ids, shingle text dropped) — reused by
    // the pair emission AND the per-doc size count
    val posting = guarded.select(array_sort(col("ids")).as("ids")).transform(Ckpt.apply)
    val sz = posting.select(explode(col("ids")).as("id"))
      .groupBy("id").agg(count(lit(1)).as("nsh"))
    // ordered pairs (ids[i], ids[j]) for i < j within each posting list;
    // ids is a materialized column (not a computed HOF), so the repeated
    // references here are safe (CLAUDE.md invariant 5)
    val inter = posting.filter(size(col("ids")) >= 2)
      .select(explode(expr(
        """flatten(transform(sequence(0, size(ids) - 2), i ->
             transform(slice(ids, i + 2, size(ids) - i - 1),
               x -> struct(ids[i] AS id_a, x AS id_b))))""")).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("i"))
    inter
      .join(sz.select(col("id").as("id_a"), col("nsh").as("na")), "id_a")
      .join(sz.select(col("id").as("id_b"), col("nsh").as("nb")), "id_b")
      .select(col("id_a"), col("id_b"), col("i"), col("na"), col("nb"))
  }

  /** The (id, band_id, bh) MinHash band keys of a per-doc shingle-set
    * frame — the shared LSH bucketing of [[minhashPairs]] and the
    * incremental index path. */
  private def minhashBandKeys(docSh: DataFrame, bands: Int): DataFrame = {
    require(32 % bands == 0, "bands must divide 32")
    val rows = 32 / bands
    docSh.select(col("id"), expr("graft_minhash(shs)").as("sig"))
      .select(col("id"), col("sig"), explode(expr(s"sequence(0, ${bands - 1})")).as("band_id"))
      .select(col("id"), col("band_id"), expr(
        s"""xxhash64(concat_ws(',', cast(band_id AS STRING),
             ${(0 until rows).map(r => s"cast(sig[band_id*$rows+$r] AS STRING)").mkString(", ")}))""").as("bh"))
  }

  private def docShingleSets(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    shingles(df, idCol, textCol, n)
      // normalize ids to non-null longs up front (the overlapPairs
      // convention): the hot-bucket guard's capped-set aggregate is
      // typed over Long, and normalizing HERE keeps the guarded and
      // unguarded branches accepting identical inputs
      .select(col("id").cast("long").as("id"), col("shingle"))
      .filter(col("id").isNotNull)
      .groupBy("id").agg(collect_list("shingle").as("shs"))

  /** Candidate pairs from (id, band_id, bh) LSH band keys via ONE
    * grouped shuffle: buckets aggregate to a sorted id array (the
    * [[overlapPairs]] posting-list shape, replacing the former two-sided
    * band self-join), pairs are emitted INSIDE each bucket row with a
    * HOF, then deduped across bands. `maxBucketDocs > 0` is the
    * HOT-BUCKET guard: [[graft.functions.CappedSetAgg]] caps every
    * aggregation buffer at maxBucketDocs + 1 ids — a degenerate bucket
    * (boilerplate shards, near-empty docs sharing a signature) costs one
    * reducer maxBucketDocs + 1 longs, never the full membership — and
    * the `size ≤ cap` filter then drops it (kept buckets are provably
    * untruncated, so their pair fan-out is bounded by cap² per bucket).
    *
    * Recall under the cap: a true near-dup pair is lost ONLY if every
    * band bucket the pair co-occupies is hot — with b independent bands
    * and per-band collision probability p = sim^(rows), the loss
    * probability is (hot-band fraction)^(number of colliding bands), and
    * a bucket beyond any sane cap (default 256) is boilerplate-grade
    * duplication that exact/fingerprint dedup upstream should have
    * removed anyway — the same recall argument as the jaccard family's
    * `maxShingleDf` stop-shingle guard and the streaming twin's
    * `maxBucketDocs` (StatefulOps.streamingNearDedup). */
  private[graft] def bandBucketCandidates(bandKeys: DataFrame,
      maxBucketDocs: Int): DataFrame = {
    val grouped =
      if (maxBucketDocs <= 0)
        bandKeys.groupBy("band_id", "bh")
          .agg(array_sort(collect_set("id")).as("ids"))
      else
        bandKeys.groupBy("band_id", "bh")
          .agg(graft.functions.CappedSetAgg.fn(maxBucketDocs + 1)(col("id")).as("ids"))
          .filter(size(col("ids")) <= maxBucketDocs)
    // ids is a materialized aggregate column (not a computed HOF), so
    // the repeated references in the pair expression are safe
    // (CLAUDE.md invariant 5); CappedSetAgg returns pre-sorted ids
    grouped.filter(size(col("ids")) >= 2)
      .select(explode(expr(
        """flatten(transform(sequence(0, size(ids) - 2), i ->
             transform(slice(ids, i + 2, size(ids) - i - 1),
               x -> struct(ids[i] AS id_a, x AS id_b))))""")).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()
  }

  /** MinHash+LSH near-dup pairs: 32 deterministic hash functions banded
    * `bands` × (32/bands); candidates sharing a band bucket are verified
    * with EXACT Jaccard over shingle sets (precision 1.0, recall governed
    * by the banding curve). Candidate generation is the single-shuffle
    * bucket-grouped form with the `maxBucketDocs` hot-bucket guard (see
    * [[bandBucketCandidates]]; 0 disables — exact banding-curve recall,
    * but one degenerate bucket then costs bucket-size² at scale).
    * Returns (id_a, id_b, jaccard) ≥ threshold. */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5, bands: Int = 8,
      maxBucketDocs: Int = 256): DataFrame = {
    val spark = df.sparkSession
    graft.functions.VectorExprs.register(spark)
    // (id, shingle-set) feeds the signature path AND both exact-verify
    // joins below — localCheckpoint so the tokenize+distinct subtree
    // runs once, not once per consumer (the r2 regression pattern)
    val docSh = docShingleSets(df, idCol, textCol, n).transform(Ckpt.apply)
    val cand = bandBucketCandidates(minhashBandKeys(docSh, bands), maxBucketDocs)
    cand
      .join(docSh.select(col("id").as("id_a"), col("shs").as("sa")), "id_a")
      .join(docSh.select(col("id").as("id_b"), col("shs").as("sb")), "id_b")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard", col("inter") / (size(col("sa")) + size(col("sb")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** LSH-vs-exact recall census over a BOUNDED deterministic sample —
    * the dedup-evaluation harness behind q_dedup_eval: what share of
    * TRUE near-dup pairs does the minhash banding catch at these
    * parameters? Ground truth is the exact Jaccard ≥ `threshold` pair
    * frame over the same shingle sets the minhash verify uses (so the
    * verified minhash pairs are a subset by construction and the census
    * is pure recall); output is one row — (n_exact, n_caught, n_missed,
    * recall, jacc_caught_mean, jacc_missed_mean), the missed-mass
    * diagnostics showing the banding-curve prediction (misses
    * concentrate near the threshold).
    *
    * SCALE: the exact ground-truth side is inherently quadratic in
    * duplication (Σdf² pair fan-out — the r12 sf1.0 wedge, an opaque
    * AQE broadcast error on the 10×-copy fixture), so the census runs
    * on the `maxDocs` smallest-xxhash64(id) documents — the fitIvf
    * seed idiom: a deterministic, engine-replayable sample, a NO-OP
    * whenever the corpus is within the bound (the gate fixtures:
    * 500 docs), and a bounded evaluation everywhere else — evaluation
    * harnesses sample; they never scan 100 TB (the tools/AnnRecall
    * pattern, now enforced by construction instead of declared in a
    * comment). `maxDocs <= 0` disables the bound explicitly. */
  def lshRecallCensus(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5, bands: Int = 8,
      maxDocs: Int = 2000): DataFrame = {
    val docs =
      if (maxDocs <= 0) df
      else df.orderBy(xxhash64(col(idCol)), col(idCol)).limit(maxDocs)
    val ex = jaccardPairs(docs, idCol, textCol, n, threshold, maxShingleDf = 0L)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("j"))
    val mh = minhashPairs(docs, idCol, textCol, n, threshold, bands)
      .select(col("id_a"), col("id_b"), lit(1L).as("hit"))
    val caught = col("hit").isNotNull
    ex.join(mh, Seq("id_a", "id_b"), "left")
      .agg(count(lit(1)).as("n_exact"),
        sum(when(caught, 1L).otherwise(0L)).as("n_caught"),
        sum(when(caught, 0L).otherwise(1L)).as("n_missed"),
        sum(when(caught, col("j")).otherwise(lit(0.0)).cast("decimal(30,10)")).as("sc"),
        sum(when(caught, lit(0.0)).otherwise(col("j")).cast("decimal(30,10)")).as("sm"))
      .select(col("n_exact"), col("n_caught"), col("n_missed"),
        when(col("n_exact") > 0,
          floor(col("n_caught").cast("double") / col("n_exact") * 1e4) / 1e4)
          .otherwise(lit(0.0)).as("recall"),
        when(col("n_caught") > 0,
          floor(col("sc").cast("double") / col("n_caught") * 1e4) / 1e4)
          .otherwise(lit(0.0)).as("jacc_caught_mean"),
        when(col("n_missed") > 0,
          floor(col("sm").cast("double") / col("n_missed") * 1e4) / 1e4)
          .otherwise(lit(0.0)).as("jacc_missed_mean"))
  }

  /** The persistable MinHash band INDEX of a corpus: (id, band_id, bh),
    * `bands` rows per document, 24 bytes each — write it out once and
    * incremental ingests bucket-join against it instead of re-pairing
    * the corpus ([[minhashPairsIncremental]]). Same hash family and
    * banding as [[minhashPairs]], so index-based candidates are
    * IDENTICAL to what the batch operator would generate. */
  def minhashBandIndex(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, bands: Int = 8): DataFrame = {
    graft.functions.VectorExprs.register(df.sparkSession)
    minhashBandKeys(docShingleSets(df, idCol, textCol, n), bands)
  }

  /** INCREMENTAL near-dup detection — the arriving-batch form of
    * [[minhashPairs]], the pattern that makes continuous corpus growth
    * affordable: when 1% arrives, candidate generation must cost
    * new-batch work, never corpus² work. New docs band-key themselves
    * and equi-join the PERSISTED [[minhashBandIndex]] (new-vs-old) plus
    * a self-join within the batch (new-vs-new); old-vs-old pairs are
    * never revisited. Exact-Jaccard verification (precision 1.0, like
    * the batch operator) re-reads text ONLY for the old docs that
    * actually collided — a candidate-sized semi-join against `oldDf`,
    * not an old-corpus scan. Because hash family, banding, and verify
    * are shared with [[minhashPairs]], the result is EXACTLY the batch
    * operator's pairs over (old ∪ new) restricted to pairs touching a
    * new doc (property-tested; exact whenever no band bucket exceeds
    * the batch path's `maxBucketDocs` guard — the incremental bucket
    * joins are index-equi-joins and need no cap, since their cost is
    * new-batch × occupancy, never corpus²). Returns (id_a, id_b,
    * jaccard) ≥ `threshold`, id_a < id_b; ids must be unique across
    * old ∪ new. */
  def minhashPairsIncremental(newDf: DataFrame, index: DataFrame,
      oldDf: DataFrame, idCol: String, textCol: String, n: Int = 3,
      threshold: Double = 0.5, bands: Int = 8): DataFrame = {
    graft.functions.VectorExprs.register(newDf.sparkSession)
    // new-side shingle sets feed the signature path and the verify —
    // checkpoint once, batch-sized
    val newSh = docShingleSets(newDf, idCol, textCol, n).transform(Ckpt.apply)
    val newKeys = minhashBandKeys(newSh, bands)
    val candOld = newKeys.as("a")
      .join(index.as("b"),
        col("a.band_id") === col("b.band_id") && col("a.bh") === col("b.bh") &&
          col("a.id") =!= col("b.id"))
      .select(col("a.id").as("new_id"), col("b.id").as("old_id"))
      .distinct()
    val candNew = newKeys.as("a")
      .join(newKeys.as("b"),
        col("a.band_id") === col("b.band_id") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // old text is touched only for colliding ids (candidate-sized)
    val collidedOld = candOld.select(col("old_id").as("__hit")).distinct()
    val oldSh = docShingleSets(
      oldDf.join(collidedOld, col(idCol) === col("__hit"), "left_semi"),
      idCol, textCol, n)
    val shs = newSh.unionByName(oldSh)
    candOld
      .select(least(col("new_id"), col("old_id")).as("id_a"),
        greatest(col("new_id"), col("old_id")).as("id_b"))
      .unionByName(candNew)
      .distinct()
      .join(shs.select(col("id").as("id_a"), col("shs").as("sa")), "id_a")
      .join(shs.select(col("id").as("id_b"), col("shs").as("sb")), "id_b")
      .withColumn("inter", size(array_intersect(col("sa"), col("sb"))))
      .withColumn("jaccard", col("inter") / (size(col("sa")) + size(col("sb")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Bloom-filter eval-set decontamination — the scale path for when the
    * held-out set is too large to broadcast as a join hash relation.
    * The eval fingerprints are folded into ONE Bloom filter
    * (`expectedEvalItems`/`fpp`-sized BITS — a model, like an ML fit;
    * the `stat.bloomFilter` aggregation materializes only those bits on
    * the driver, never data). Every training row then probes the
    * broadcast bits through Spark's native `might_contain` expression
    * (codegen'd, no UDF): bloom-NEGATIVE rows are definitely clean and
    * bypass the verification join entirely, so the anti-join — broadcast
    * here, shuffle at real scale — only carries the FP-rate-bounded
    * positives. Returns the same (id) rows as the plain anti-join form
    * (Bloom false positives are removed by the exact verify; false
    * negatives don't exist), so the same oracle applies.
    *
    * The two union branches each scan the training side once (2× map-side
    * scan+md5, both with pushdown) — deliberately NOT checkpointed: at
    * scale, caching a corpus-sized frame costs more than a second columnar
    * scan, and the win this operator buys is that bloom-negatives never
    * enter the anti-join EXCHANGE (the expensive part when the eval side
    * is shuffle-joined). This differs from the r2 lesson subtrees, which
    * re-executed expensive AGGREGATIONS, not plain scans.
    *
    * `isEval` marks held-out rows inside `df` (train = everything else). */
  def decontaminateBloom(df: DataFrame, idCol: String, textCol: String,
      isEval: Column, expectedEvalItems: Long = 100000L,
      fpp: Double = 0.01): DataFrame = {
    val fpExpr = unhex(fingerprint(col(textCol)))
    val evalFp = df.filter(isEval).select(fpExpr.as("fp")).distinct()
    val bloom = evalFp.select(xxhash64(col("fp")).as("h"))
      .stat.bloomFilter("h", expectedEvalItems, fpp)
    val bytes = {
      val b = new java.io.ByteArrayOutputStream()
      bloom.writeTo(b)
      b.toByteArray
    }
    graft.functions.VectorExprs.register(df.sparkSession)
    val train = df.filter(!isEval).withColumn("fp", fpExpr)
    val mightHit = call_function("graft_might_contain", lit(bytes), xxhash64(col("fp")))
    train.filter(!mightHit).select(col(idCol))
      .union(train.filter(mightHit)
        .join(broadcast(evalFp), Seq("fp"), "left_anti")
        .select(col(idCol)))
  }

  /** Per-group duplication QA profile: how much exact duplication each
    * slice of the corpus carries — the number a pipeline operator checks
    * BEFORE deciding whether a source needs the (much more expensive)
    * near-dup pass. One hash aggregate: (group, n_docs, n_distinct
    * non-null texts, dup_rate over non-null docs; NULL rate for all-null
    * groups). For multi-MB documents pass a fingerprint column as
    * `textCol` so the distinct-count shuffle carries 32 bytes, not
    * text. */
  def duplicationProfile(df: DataFrame, textCol: String, byCol: String): DataFrame =
    df.groupBy(col(byCol))
      .agg(count(lit(1)).as("n_docs"),
        count(col(textCol)).as("__n_text"),
        countDistinct(col(textCol)).as("n_distinct"))
      .withColumn("dup_rate",
        // ANSI mode throws on /0 — an all-null group must report NULL,
        // not crash (and not 0: that would invent cleanliness)
        when(col("__n_text") > 0,
          round((col("__n_text") - col("n_distinct")) / col("__n_text"), 4)))
      .drop("__n_text")

  /** Per-EVAL-document contamination report — the inverse view of
    * [[decontaminateBloom]]'s family: instead of dropping training docs,
    * report for EVERY eval doc how many training docs share its
    * normalized fingerprint (0 = clean). Decontamination says what was
    * removed; this says which benchmark items were leaked and how badly
    * — the number an eval-integrity review actually reads.
    *
    * Plan: eval fingerprints broadcast (eval sets are small by
    * construction); training rows inner-join the broadcast — only
    * contaminated rows survive, so the per-fingerprint count aggregate
    * is contamination-sized; the final left join attaching counts back
    * to eval ids is eval × contamination, both tiny. The corpus itself
    * crosses no shuffle. */
  def contaminationReport(df: DataFrame, idCol: String,
      textCol: String, isEval: Column): DataFrame = {
    val fp = unhex(fingerprint(col(textCol)))
    val ev = df.filter(isEval)
      .select(col(idCol).as("eval_id"), fp.as("__fp"))
    val hits = df.filter(!isEval)
      .select(fp.as("__fp"))
      .join(broadcast(ev.select("__fp").distinct()), "__fp")
      .groupBy("__fp").agg(count(lit(1)).as("n_train_dups"))
    ev.join(broadcast(hits), Seq("__fp"), "left")
      .select(col("eval_id"),
        coalesce(col("n_train_dups"), lit(0L)).as("n_train_dups"))
  }

  /** Corpus DIFF between two snapshots (crawls, dumps, versions): per
    * group, how many documents were added (id only in new), removed (id
    * only in old), changed (same id, different normalized fingerprint —
    * null-safe, so a text that became NULL or vice versa counts as
    * changed), and unchanged — the change-QA report a pipeline reads
    * before reprocessing a refreshed source (an unchanged slice can
    * reuse cached artifacts; a churned one can't).
    *
    * Plan: one equi-join by id (full outer — both sides keyed and
    * shuffled once, or broadcast when a side is small), fingerprints
    * computed map-side so the join carries 16 bytes + the group, then
    * one group-sized aggregate. Group attribution: a changed/unchanged
    * doc reports under its NEW group (a doc that switched sources is a
    * change in its new home); removed docs report under their old one. */
  def corpusDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
      textCol: String, byCol: String): DataFrame = {
    val o = oldDf.select(col(idCol).as("__id"),
      fingerprint(col(textCol)).as("__ofp"), col(byCol).as("__og"),
      lit(1).as("__in_old"))
    val n = newDf.select(col(idCol).as("__id"),
      fingerprint(col(textCol)).as("__nfp"), col(byCol).as("__ng"),
      lit(1).as("__in_new"))
    o.join(n, Seq("__id"), "full")
      .groupBy(coalesce(col("__ng"), col("__og")).as(byCol))
      .agg(
        sum(when(col("__in_old").isNull, 1L).otherwise(0L)).as("n_added"),
        sum(when(col("__in_new").isNull, 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("__in_old").isNotNull && col("__in_new").isNotNull
          && !(col("__ofp") <=> col("__nfp")), 1L).otherwise(0L)).as("n_changed"),
        sum(when(col("__ofp") <=> col("__nfp")
          && col("__in_old").isNotNull && col("__in_new").isNotNull, 1L)
          .otherwise(0L)).as("n_unchanged"))
  }

  /** Cross-group duplicate OVERLAP matrix: for every pair of groups
    * (sources, dumps, snapshots), how many distinct texts appear in
    * BOTH — the QA view that catches one crawl re-ingesting another
    * (mirrored sites, syndicated articles) before dedup statistics get
    * blamed on the wrong source. Returns (group_a, group_b, n_shared),
    * group_a < group_b, only pairs with overlap.
    *
    * Plan: the same posting-list shape as [[jaccardPairs]] but keyed by
    * the text (fingerprint it first for multi-MB docs): one shuffle
    * groups distinct (text, group) to the per-text group set, pairs are
    * emitted INSIDE the group-set row (fan-out ≤ |groups|² per text —
    * groups are few by construction), and one count aggregate over the
    * emitted pairs. Never a self-join of the corpus. */
  def groupOverlap(df: DataFrame, textCol: String, byCol: String): DataFrame = {
    val perText = df.filter(col(textCol).isNotNull && col(byCol).isNotNull)
      .select(col(textCol).as("__t"), col(byCol).as("__g")).distinct()
      .groupBy("__t").agg(collect_set("__g").as("gs"))
    // the 1-element transform binds s = array_sort(gs) ONCE per row —
    // referencing a computed array_sort alias from the pair expression
    // would let CollapseProject inline (re-evaluate) it per reference
    // (CLAUDE.md invariant 5)
    perText.filter(size(col("gs")) >= 2)
      .select(explode(expr(
        """flatten(transform(array(array_sort(gs)), s ->
             flatten(transform(sequence(0, size(s) - 2), i ->
               transform(slice(s, i + 2, size(s) - i - 1),
                 x -> struct(s[i] AS a, x AS b))))))""")).as("p"))
      .groupBy(col("p.a").as("group_a"), col("p.b").as("group_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** N-gram OVERLAP decontamination — the published n-gram method (13-gram
    * in the GPT-3/PaLM writeups): drop every training document that shares
    * ANY word n-gram with the held-out set. Strictly stronger than the
    * whole-document fingerprint forms ([[decontaminateBloom]] /
    * the exact anti-join): a training doc that embeds an eval answer
    * VERBATIM inside otherwise-novel text has a distinct fingerprint but
    * is still contamination.
    *
    * Plan shape (the 100 TB argument): the eval side collapses to one
    * distinct-gram frame (eval-sized, broadcast). The training grams are
    * a map-side explode that meets it in TWO broadcast phases — an
    * 8-byte xxhash64 prefilter (the broadcast the executors actually
    * probe per gram; swap for Bloom bits when even the hash set outgrows
    * a broadcast), then an exact string verify of prefilter survivors
    * only, so a hash collision can never drop a clean document. The
    * anti-join's right side is just the contaminated ids — sized by the
    * contamination rate, broadcast by AQE in the common clean case.
    * Docs shorter than n tokens have no grams and are always kept.
    * Returns the kept training rows' (idCol). */
  def decontaminateNgram(df: DataFrame, idCol: String, textCol: String,
      isEval: Column, n: Int = 13): DataFrame = {
    val evalG = rawShingles(df.filter(isEval), idCol, textCol, n)
      .select("shingle").distinct()
    val evalH = evalG.select(xxhash64(col("shingle")).as("gh"))
    val trainG = rawShingles(df.filter(!isEval), idCol, textCol, n)
    val contaminated = trainG
      .join(broadcast(evalH), xxhash64(col("shingle")) === col("gh"), "left_semi")
      .join(broadcast(evalG), Seq("shingle"), "left_semi")
      .select(col("id").as("__cid")).distinct()
    df.filter(!isEval)
      .join(contaminated, col(idCol) === col("__cid"), "left_anti")
      .select(col(idCol))
  }

  /** [[decontaminateNgram]] with the hash prefilter folded into broadcast
    * Bloom BITS — the shape for when even the eval GRAM hash set
    * outgrows a broadcast (eval grams ≈ eval tokens, which dwarfs eval
    * doc count). Same answer, same oracle: bloom-negative training grams
    * are definitely clean and never reach the verify join; bloom false
    * positives are removed by the exact string verify (which carries
    * only the FP-rate-bounded survivors), and false negatives don't
    * exist. The Bloom aggregation materializes only the
    * `expectedEvalGrams`/`fpp`-sized BITS on the driver — a model, like
    * [[decontaminateBloom]]'s. */
  def decontaminateNgramBloom(df: DataFrame, idCol: String, textCol: String,
      isEval: Column, n: Int = 13, expectedEvalGrams: Long = 1000000L,
      fpp: Double = 0.01): DataFrame = {
    val evalG = rawShingles(df.filter(isEval), idCol, textCol, n)
      .select("shingle").distinct()
    val bloom = evalG.select(xxhash64(col("shingle")).as("h"))
      .stat.bloomFilter("h", expectedEvalGrams, fpp)
    val bytes = {
      val b = new java.io.ByteArrayOutputStream()
      bloom.writeTo(b)
      b.toByteArray
    }
    graft.functions.VectorExprs.register(df.sparkSession)
    // the exact verify deliberately carries NO broadcast hint: this
    // operator exists for the regime where the eval gram set outgrows a
    // broadcast, so forcing the (larger) string relation onto the driver
    // would defeat the premise. The left side is only the
    // FP-rate-bounded prefilter survivors; AQE broadcasts the eval side
    // when it happens to be small, shuffles when it isn't.
    val contaminated = rawShingles(df.filter(!isEval), idCol, textCol, n)
      .filter(call_function("graft_might_contain", lit(bytes),
        xxhash64(col("shingle"))))
      .join(evalG, Seq("shingle"), "left_semi")
      .select(col("id").as("__cid")).distinct()
    df.filter(!isEval)
      .join(contaminated, col(idCol) === col("__cid"), "left_anti")
      .select(col(idCol))
  }

  /** One large-star step (see [[connectedComponentsStar]]): every node
    * connects its LARGER neighbors to its minimum neighbor (or itself).
    * Exposed at package level so PlanAuditSpec can pin the per-round
    * physical plan — this is the scale-critical inner loop. */
  private[graft] def largeStarStep(e: DataFrame, nParts: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("u")
    // nParts pins BOTH per-step exchanges to a scale-adaptive width
    // (guide §2.1 — the caller derives it from the live edge count via
    // Par.adaptiveParts): the explicit repartitions SATISFY the window's
    // and the dedup aggregate's required distributions, so the plan
    // carries exactly 2 hash exchanges (PlanAuditSpec's pin), at the
    // derived width instead of spark.sql.shuffle.partitions.
    e.union(e.select(col("v").as("u"), col("u").as("v")))
      .repartition(nParts, col("u"))
      .withColumn("m", least(min(col("v")).over(w), col("u")))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .repartition(nParts, col("u"), col("v"))
      .distinct()
  }

  /** One small-star step (see [[connectedComponentsStar]]): with edges
    * oriented big→small, every node connects its smaller neighbors (and
    * itself) to their minimum. */
  private[graft] def smallStarStep(e: DataFrame, nParts: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("u")
    // nParts: same scale-adaptive exchange-width pinning as
    // [[largeStarStep]] — 2 hash exchanges
    e.select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .repartition(nParts, col("u"))
      .withColumn("m", min(col("v")).over(w))
      .select(explode(array(
        struct(col("v").as("u"), col("m").as("v")),
        struct(col("u").as("u"), col("m").as("v")))).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
      .filter(col("u") =!= col("v"))
      .repartition(nParts, col("u"), col("v"))
      .distinct()
  }

  /** Connected components over a near-dup pair graph — the step that
    * turns pairwise matches into DEDUP CLUSTERS (one canonical document
    * per group) — by contraction: large-star/small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond"). Min-label
    * propagation would need diameter-many rounds, so an adversarial
    * CHAIN of near-dups (plagiarism chains produce exactly this) would
    * blow past any round cap; star contraction halves tree heights every
    * iteration and converges in O(log² n) rounds on any graph shape.
    *
    * Per iteration (each step is one hash shuffle on node id — a window
    * min over partitionBy(u), no orderBy — plus a distinct):
    *   - large-star: every node connects its LARGER neighbors to its
    *     minimum neighbor (or itself if smaller);
    *   - small-star: with edges oriented big→small, every node connects
    *     its smaller neighbors (and itself) to their minimum.
    * Both steps preserve connectivity and never grow the edge count
    * past the input; at the fixpoint every surviving edge points a node
    * directly at its component minimum. Convergence is detected with a
    * deterministic (count, hash-sum) checksum — a scalar read, not a
    * data collect — and per-round localCheckpoint truncates lineage so
    * the plan stays bounded.
    *
    * Returns (id, cluster_id) for every id in `allIds`, cluster_id =
    * the component minimum (singletons map to themselves). */
  def connectedComponentsStar(pairs: DataFrame, allIds: DataFrame,
      idCol: String, maxRounds: Int = 30): DataFrame = {
    val labels = starLabels(pairs, maxRounds)
    allIds.select(col(idCol).as("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster_id"), col("id")).as("cluster_id"))
  }

  /** The star-contraction core: (id, cluster_id) for every NON-ROOT node
    * of the pair graph (cluster_id = component minimum < id, by the
    * big→small orientation). Roots and singletons are absent — callers
    * that need them mapped to themselves join against their id universe
    * ([[connectedComponentsStar]]); callers that only need the DROP set
    * ([[nearDupSurvivors]]) use this directly, consuming `pairs` exactly
    * once. */
  private[api] def starLabels(pairs: DataFrame, maxRounds: Int = 30): DataFrame = {
    // big→small orientation makes the checksum canonical across rounds.
    // The INITIAL edge frame is an EAGER checkpoint (r14, VERDICT r13
    // #1): round 1's largeStarStep references it twice in one job
    // (`e.union(e.swap)`) — under a lazy mark those two branches can
    // race the cache fill and re-execute the pair-generation subtree
    // (for q_embed_clusters that subtree is the full n² theta-join).
    // Per-round ls/ss stay LAZY: each round's checksum aggregate is the
    // single sequential first consumer that materializes them, fusing
    // the eager form's dedicated job; drops are ordered AFTER the
    // checksum that consumes the previous round's blocks.
    var edges = pairs
      .select(greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .transform(Ckpt.apply)
    // hash-sum in decimal(38,0): a long sum of xxhash64 values overflows
    // (ANSI mode throws); decimal headroom covers any edge count
    def checksum(e: DataFrame): (Long, BigDecimal) = {
      val r = e.agg(count(lit(1)),
        coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
          lit(java.math.BigDecimal.ZERO))).head()
      (r.getLong(0), BigDecimal(r.getDecimal(1)))
    }
    var prev = checksum(edges)
    var round = 0
    var converged = prev._1 == 0L
    // converged = BOTH steps are at their fixpoint (stars are fixpoints
    // of each step individually — checking only the composition could
    // accept a 2-cycle that passes through an intermediate change).
    // maxRounds bounds the CONTRACTING rounds; detecting the fixpoint
    // costs one extra all-no-op iteration, hence the + 1.
    while (!converged && round < maxRounds + 1) {
      // per-round shuffle width derived from the LIVE edge count (the
      // checksum already carries it — guide §2.1 scale-adaptive sizing,
      // never the conf constant): a test-scale graph contracts on one
      // task per stage, a 100 TB pair graph on proportionally many
      val n = graft.Par.adaptiveParts(prev._1)
      val ls = largeStarStep(edges, n).transform(Ckpt.lzy)
      val cls = checksum(ls) // materializes ls (reads edges' blocks)
      Ckpt.drop(edges) // ls is materialized; last round's blocks are dead
      val ss = smallStarStep(ls, graft.Par.adaptiveParts(cls._1))
        .transform(Ckpt.lzy)
      val css = checksum(ss) // materializes ss (reads ls's blocks)
      Ckpt.drop(ls)
      converged = cls == prev && css == cls
      edges = ss
      prev = css
      round += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar did not converge in $maxRounds rounds — " +
          "pathological input (star contraction is O(log² n); raise maxRounds)")
    // at the fixpoint each non-root node carries exactly one edge to its
    // component min (groupBy-min is belt and braces, not a second pass
    // semantic); roots and singletons never appear as u
    edges.repartition(graft.Par.adaptiveParts(prev._1), col("u"))
      .groupBy("u").agg(min(col("v")).as("cluster_id"))
      .withColumnRenamed("u", "id")
  }

  /** Near-dup SURVIVORS with full rows: cluster the exact n-gram Jaccard
    * pair graph ([[jaccardPairs]] → [[connectedComponentsStar]]) and keep
    * one canonical document per cluster — the row whose id IS the cluster
    * minimum — plus every singleton. This is the corpus a pipeline's
    * near-dedup stage materializes (the q_dedup_survivors shape, but
    * returning `df`'s full rows, not bare ids).
    *
    * Shuffle bill on top of the pair generation's single posting-list
    * shuffle: the O(log² n) star-contraction rounds run over the PAIR
    * GRAPH only (near-dup members, not the corpus), and the final
    * anti-join's right side is just the NON-canonical member ids — a
    * frame sized by how much near-duplication the corpus actually has,
    * which AQE broadcasts in the common mostly-unique case. */
  def nearDupSurvivors(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5, maxShingleDf: Long = 0L): DataFrame = {
    val pairs = jaccardPairs(df, idCol, textCol, n, threshold, maxShingleDf)
    // the DROP set is exactly the star contraction's non-root labels
    // (every labeled node has cluster_id < id) — no corpus-sized allIds
    // join materializing singleton (id, id) rows just to discard them,
    // and `pairs` is consumed exactly once. `df` is consumed twice (pair
    // generation + this anti-join); callers whose input subtree is
    // expensive should localCheckpoint it first, as Pipeline.prepare
    // does.
    val drop = starLabels(pairs).select(col("id").as("__drop_id"))
    df.join(drop, col(idCol) === col("__drop_id"), "left_anti")
  }

  /** SimHash near-dup pairs within `maxHamming` (≤ 64/blocks − 1 for the
    * pigeonhole completeness guarantee; default 4 blocks → complete for
    * distance ≤ 3). Returns (id_a, id_b, hamming).
    *
    * Candidate generation is the same single-shuffle bucket-grouped
    * form as [[minhashPairs]] ([[bandBucketCandidates]] over
    * (id, block_index, block_value) keys) with the same `maxBucketDocs`
    * hot-bucket guard: a boilerplate page whose signature block is
    * shared by millions of documents costs one capped reducer buffer and
    * is dropped, never Σ|bucket|² pair fan-out. The LIBRARY default is
    * 0 — the cap OFF, exact pigeonhole completeness (the documented
    * contract of this operator since r5): losing pairs is an opt-in
    * scale trade the caller makes explicitly (q_dedup_simhash passes
    * 256 — the 8× occupancy guard that took sf1.0 from 47.9 to 4.5 s),
    * never a silent default flip. With a cap, kept buckets are provably
    * untruncated, so within them the pigeonhole guarantee is intact; a
    * dropped bucket can lose a pair only if EVERY block the pair agrees
    * on is boilerplate-hot (the minhash-family recall argument). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, blocks: Int = 4,
      maxBucketDocs: Int = 0): DataFrame = {
    require(64 % blocks == 0, "blocks must divide 64")
    val w = 64 / blocks
    val mask = (1L << w) - 1
    val spark = df.sparkSession
    graft.functions.VectorExprs.register(spark)
    // (id, simhash) feeds the block keys AND the two hamming-verify
    // joins — localCheckpoint so the tokenize+hash subtree runs once
    // (the minhashPairs docSh pattern); the frame is 16 bytes/doc
    val sig = graft.Par
      .spread(df.select(col(idCol).as("id"), col(textCol).as("__txt")), col("id"))
      // spread BEFORE the hash fold (guide §2.5): tokenize + 64-bit
      // simhash over every token is the expensive map side, serialized
      // to one task by the single-row-group fixture scan
      .select(col("id"),
        expr(s"graft_simhash(array_distinct(split(__txt, ' ')))").as("simhash"))
      .transform(Ckpt.apply)
    val bandKeys = sig
      .select(col("id"), explode(expr(s"sequence(0, ${blocks - 1})")).as("band_id"),
        col("simhash"))
      .select(col("id"), col("band_id"),
        expr(s"shiftright(simhash, band_id*$w) & $mask").as("bh"))
    val cand = bandBucketCandidates(bandKeys, maxBucketDocs)
    cand
      .join(sig.select(col("id").as("id_a"), col("simhash").as("ha")), "id_a")
      .join(sig.select(col("id").as("id_b"), col("simhash").as("hb")), "id_b")
      .select(col("id_a"), col("id_b"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** C4-style intra-corpus SPAN dedup (Raffel et al., JMLR 2020 §2.2):
    * documents split into NON-overlapping `spanTokens`-token spans (the
    * final partial span included — every token belongs to exactly one
    * span); a span occurring anywhere else in the corpus keeps only its
    * first (id, pos) occurrence, and each document reassembles from its
    * surviving spans in order. Returns (idCol, n_spans, n_kept,
    * text_dedup) — a fully-scrubbed doc keeps its row with empty text.
    *
    * Keeper election is groupBy(span).agg(min(struct)) — a
    * partial-aggregatable MIN, so a viral boilerplate span combines
    * map-side instead of sorting its occurrence list through one
    * reducer (the window-rank skew trap); survivors equi-join the
    * distinct-span-sized keeper frame; one id shuffle rebuilds text.
    * Spans key by their STRING for cross-engine exactness; at 100 TB
    * key by xxhash64(span) for 8-byte shuffle keys. */
  def spanDedup(docs: DataFrame, idCol: String, textCol: String,
      spanTokens: Int = 10): DataFrame = {
    require(spanTokens > 0, s"spanTokens must be positive, got $spanTokens")
    val w = spanTokens
    // spread (guide §2.5): the span/gram explode is the heavy map side,
    // serialized to one task by the single-row-group fixture scan
    val toks = graft.Par.spread(
      docs.filter(col(textCol).isNotNull)
        .select(col(idCol).as("id"), split(col(textCol), " ").as("t")),
      col("id"))
    val spans = toks.select(col("id"),
      posexplode(expr(
        s"""transform(sequence(0, cast(ceil(size(t) / ${w}.0) AS INT) - 1),
            i -> array_join(slice(t, i * $w + 1, $w), ' '))""")).as(Seq("pos", "span")))
    val keepers = spans.groupBy("span")
      .agg(min(struct(col("id"), col("pos"))).as("k"))
    val kept = spans.join(keepers, "span")
      .filter(col("id") === col("k.id") && col("pos") === col("k.pos"))
      .select("id", "pos", "span")
    val rebuilt = kept.groupBy("id").agg(
      count(lit(1)).as("n_kept"),
      array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("span")))),
          x => x.getField("span")), " ").as("text_dedup"))
    val totals = spans.groupBy("id").agg(count(lit(1)).as("n_spans"))
    totals.join(rebuilt, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_spans"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }

  /** C4-style BOILERPLATE strip (Raffel et al., JMLR 2020 §2.2 — the
    * "three-sentence" rule): a span occurring in at least `minDocs`
    * DISTINCT documents is boilerplate (navigation chrome, license
    * footers, cookie banners) and is removed from EVERY document —
    * including its first occurrence, which is what distinguishes this
    * from [[spanDedup]]'s keep-first election. Spanization is identical
    * to spanDedup (non-overlapping `spanTokens`-token windows, final
    * partial span included). Returns (idCol, n_spans, n_boiler,
    * text_clean) — a fully-boilerplate doc keeps its row with empty
    * text.
    *
    * Scale shape: the census is groupBy(span).agg(count_distinct(id)) —
    * Catalyst expands exact count-distinct into a two-phase aggregate
    * over (span, id) pairs, so a viral footer combines map-side instead
    * of routing its full occurrence list through one reducer; the
    * boilerplate frame is DISTINCT-SPAN-sized (further filtered to the
    * ≥ minDocs tail, typically tiny), spans anti-join it, and one id
    * shuffle rebuilds text. Spans key by STRING for cross-engine
    * exactness; at 100 TB key by xxhash64(span) (8-byte shuffle keys)
    * and swap the exact census for approx_count_distinct — the ≥ minDocs
    * cut tolerates HLL error at any realistic threshold. */
  def boilerplateStrip(docs: DataFrame, idCol: String, textCol: String,
      spanTokens: Int = 10, minDocs: Int = 3): DataFrame = {
    require(spanTokens > 0, s"spanTokens must be positive, got $spanTokens")
    require(minDocs > 1, s"minDocs must be > 1, got $minDocs")
    val w = spanTokens
    // spread (guide §2.5): the span/gram explode is the heavy map side,
    // serialized to one task by the single-row-group fixture scan
    val toks = graft.Par.spread(
      docs.filter(col(textCol).isNotNull)
        .select(col(idCol).as("id"), split(col(textCol), " ").as("t")),
      col("id"))
    val spans = toks.select(col("id"),
      posexplode(expr(
        s"""transform(sequence(0, cast(ceil(size(t) / ${w}.0) AS INT) - 1),
            i -> array_join(slice(t, i * $w + 1, $w), ' '))""")).as(Seq("pos", "span")))
    val boiler = spans.groupBy("span")
      .agg(countDistinct(col("id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select("span")
    val kept = spans.join(boiler, Seq("span"), "left_anti")
    val rebuilt = kept.groupBy("id").agg(
      count(lit(1)).as("n_kept"),
      array_join(
        transform(array_sort(collect_list(struct(col("pos"), col("span")))),
          x => x.getField("span")), " ").as("text_clean"))
    val totals = spans.groupBy("id").agg(count(lit(1)).as("n_spans"))
    totals.join(rebuilt, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_spans"),
        (col("n_spans") - coalesce(col("n_kept"), lit(0L))).as("n_boiler"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** Exact-SUBSTRING dedup (Lee et al., ACL 2022 — ExactSubstr): remove
    * every duplicated token run of length ≥ `minRun` at ARBITRARY
    * alignment, keeping its first occurrence — the duplicate that
    * straddles a [[spanDedup]] boundary is caught here. The paper's
    * suffix array reformulated distributed: sliding `minRun`-grams each
    * elect their first (id, pos) via partial-aggregatable MIN; every
    * NON-first occurrence marks tokens [pos, pos+minRun) duplicated (a
    * bounded ×minRun fan-out of DUP-OCCURRENCE rows, never the corpus);
    * documents reassemble from uncovered tokens via an anti-join on
    * (id, token index). Returns (idCol, n_tok, n_tok_kept,
    * text_dedup). */
  def substringDedup(docs: DataFrame, idCol: String, textCol: String,
      minRun: Int = 8): DataFrame = {
    require(minRun > 1, s"minRun must be > 1, got $minRun")
    val L = minRun
    // spread (guide §2.5): the span/gram explode is the heavy map side,
    // serialized to one task by the single-row-group fixture scan
    val toks = graft.Par.spread(
      docs.filter(col(textCol).isNotNull)
        .select(col(idCol).as("id"), split(col(textCol), " ").as("t")),
      col("id"))
    val tokens = toks.select(col("id"), posexplode(col("t")).as(Seq("idx", "tok")))
    val grams = toks
      .filter(size(col("t")) >= L)
      .select(col("id"),
        posexplode(expr(
          s"""transform(sequence(0, size(t) - $L),
              i -> array_join(slice(t, i + 1, $L), ' '))""")).as(Seq("pos", "g")))
    val keepers = grams.groupBy("g")
      .agg(min(struct(col("id"), col("pos"))).as("k"))
    val covered = grams.join(keepers, "g")
      .filter(col("id") =!= col("k.id") || col("pos") =!= col("k.pos"))
      .select(col("id"), explode(sequence(col("pos"), col("pos") + L - 1)).as("idx"))
      .distinct()
    val kept = tokens.join(covered, Seq("id", "idx"), "left_anti")
    val rebuilt = kept.groupBy("id").agg(
      count(lit(1)).as("n_tok_kept"),
      array_join(
        transform(array_sort(collect_list(struct(col("idx"), col("tok")))),
          x => x.getField("tok")), " ").as("text_dedup"))
    val totals = tokens.groupBy("id").agg(count(lit(1)).as("n_tok"))
    totals.join(rebuilt, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_tok"),
        coalesce(col("n_tok_kept"), lit(0L)).as("n_tok_kept"),
        coalesce(col("text_dedup"), lit("")).as("text_dedup"))
  }
}
