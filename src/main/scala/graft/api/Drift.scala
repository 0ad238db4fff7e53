package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution-drift detection between corpus slices — the data-quality
  * gate a training pipeline runs when a new crawl / source / time window
  * lands: "does this slice's distribution still look like the corpus I
  * validated?" (absent in reference). Three classical tests, each
  * expressed as shuffle-minimal Spark plans:
  *
  *   - [[ks]]: exact two-sample Kolmogorov–Smirnov distance (continuous
  *     values; the strictest test, needs the full ECDF),
  *   - [[psi]]: population-stability index over reference quantile bins
  *     (the monitoring-dashboard staple; bounded state per group),
  *   - [[chiSquare]]: Pearson χ² independence over a categorical
  *     contingency table (language × source, label × shard, …).
  *
  * Scale design (100 TB): none of these materialize raw data. KS reduces
  * the corpus to its DISTINCT-value count frame, then runs a two-level
  * distributed prefix scan: quantile-balanced bucket assignment (the
  * [[Profiler.quantileBins]] cut-array pattern), a `Window.partitionBy
  * (bucket)` running sum inside each bucket, and a bucket-count-sized
  * prefix-offset array broadcast back — no global single-partition
  * window anywhere (CLAUDE.md invariant 3). PSI and χ² reduce to
  * bin/cell count frames (≤ groups × bins rows) before any join; the
  * only broadcasts are 1-row corpus constants and margin frames.
  */
object Drift {

  /** OCCUPANCY-DERIVED bucket count for the two-level distributed
    * prefix scans ([[ks]]/[[mannWhitney]], and [[Profiler.spearman]]'s
    * rank scan): with nDistinct values and b buckets, each
    * `Window.partitionBy(bucket)` partition carries ≈ nDistinct/b rows,
    * so a FIXED b quietly becomes "1/b of the corpus through one window
    * partition" as data grows — the same class of occupancy blindness
    * the r8 ANN flag named. Derive b = ceil(nDistinct /
    * `targetRowsPerBucket`), clamped to [64, 4096] (the cut array and
    * bucket-totals broadcast stay ≤ 4096 entries — still
    * corpus-size-independent; past 4096 × 256Ki ≈ 1B distinct values,
    * raise the target deliberately). The nDistinct read is one scalar
    * count of the already-built distinct frame — the
    * stat-read class CLAUDE.md invariant 3 documents. */
  private[graft] def scanBuckets(nDistinct: Long,
      targetRowsPerBucket: Long = 262144L): Int = {
    // size-driven bucket count for large frames (the per-window row
    // bound), PARALLELISM-driven for mid-size ones — but never the old
    // constant 64 floor (guide §2.1: derive widths from the input): a
    // 50-distinct-value column gets 2 buckets, not 64 near-empty ones
    // with their full cut-array machinery. The statistic is invariant
    // to the bucket count by construction (boundaries only partition
    // the prefix scan), so only cost changes. Floor of 2 keeps the
    // approx-percentile cut array non-empty on every path.
    val forSize = (nDistinct + targetRowsPerBucket - 1) / targetRowsPerBucket
    val forParallelism = math.min(64L, (nDistinct + 4095) / 4096)
    math.min(4096L, math.max(2L, math.max(forSize, forParallelism))).toInt
  }

  /** The front half of the [[ks]] / [[emd]] / [[mannWhitney]] prefix
    * scans: the distinct-value count frame `(x, ca, cb)` of the `labelA`
    * and `labelB` rows (checkpointed — two consumers), `buckets - 1`
    * approx-percentile cuts over its DISTINCT values (0 = derive the
    * bucket count from the frame size, [[scanBuckets]]), and each value's
    * bucket: the checkpointed frame `(x, ca, cb, bucket)`.
    *
    * The cuts only PARTITION the prefix scan, so neither their positions
    * nor their count can move any of the three statistics; approx cuts
    * because exact `percentile` buffers the whole distinct-value frame
    * on one task (the single-task sort the Spearman rewrite measured at
    * 10 s → 2 s). */
  private def bucketedCounts(df: DataFrame, valueCol: String, labelCol: String,
      labelA: String, labelB: String, buckets: Int): DataFrame = {
    require(buckets == 0 || buckets >= 2,
      s"buckets must be ≥2 (or 0 = occupancy-derived), got $buckets")
    val counts = df
      .filter(col(labelCol).isin(labelA, labelB) && col(valueCol).isNotNull)
      .groupBy(col(valueCol).cast("double").as("x"))
      .agg(
        sum(when(col(labelCol) === labelA, 1L).otherwise(0L)).as("ca"),
        sum(when(col(labelCol) === labelB, 1L).otherwise(0L)).as("cb"))
      .transform(Ckpt.apply)
    val b = if (buckets > 0) buckets else scanBuckets(counts.count())
    val fracs = (1 until b).map(i => i.toDouble / b)
    val cuts = counts.agg(
      expr(s"approx_percentile(x, array(${fracs.mkString(", ")}), 1000)").as("cuts"))
    // strict `>` against each cut: ties land in the lower bucket —
    // irrelevant to the statistics, but keeps the assignment deterministic
    counts.crossJoin(broadcast(cuts))
      .select(col("x"), col("ca"), col("cb"),
        (expr("aggregate(cuts, 0, (a, c) -> a + CASE WHEN x > c THEN 1 ELSE 0 END)")
          + 1).cast("long").as("bucket"))
      .transform(Ckpt.apply)
  }

  /** The cumulative count at a row: its in-bucket window sum `within`
    * plus the `total` field of every lower bucket's entry in the
    * bucket-totals broadcast `bt`. */
  private def belowBucket(within: String, total: String): Column =
    col(within) +
      expr(s"aggregate(filter(bt, e -> e.bucket < bucket), 0L, (a, e) -> a + e.$total)")

  /** Exact two-sample Kolmogorov–Smirnov distance between the
    * `valueCol` distributions of `labelA` and `labelB` rows:
    * `D = max_x |F_A(x) − F_B(x)|` evaluated at every observed value
    * (where the ECDF difference attains its extrema). Returns one row
    * `(ks, n_a, n_b)`; `ks` is exact (counts stay longs until the final
    * per-value division) and bucket boundaries cannot affect it — they
    * only partition the prefix scan.
    *
    * Plan: groupBy(value) count frame (distinct-value-sized,
    * localCheckpoint'd — two consumers) → approx-percentile cut array
    * over the DISTINCT values (balances buckets even when the raw
    * distribution is skewed: each bucket holds ≈ |distinct|/buckets
    * rows regardless of value mass) → per-bucket windowed running sums
    * + a sorted bucket-totals array (buckets-sized, corpus-size-
    * independent) broadcast for the cross-bucket offsets → max-abs
    * aggregate. The two 1-row broadcasts are the declared invariant-3
    * corpus-constant exemption.
    */
  def ks(df: DataFrame, valueCol: String, labelCol: String,
      labelA: String, labelB: String, buckets: Int = 0): DataFrame = {
    val bucketed = bucketedCounts(df, valueCol, labelCol, labelA, labelB, buckets)
    val w = Window.partitionBy("bucket").orderBy("x")
    val within = bucketed.select(col("bucket"),
      sum("ca").over(w).as("wa"), sum("cb").over(w).as("wb"))
    val bt = bucketed.groupBy("bucket")
      .agg(sum("ca").as("sa"), sum("cb").as("sb"))
      .agg(sort_array(collect_list(struct(col("bucket"), col("sa"), col("sb"))))
        .as("bt"))
    within.crossJoin(broadcast(bt))
      .select(
        belowBucket("wa", "sa").as("cum_a"),
        belowBucket("wb", "sb").as("cum_b"),
        expr("aggregate(bt, 0L, (a, e) -> a + e.sa)").as("na"),
        expr("aggregate(bt, 0L, (a, e) -> a + e.sb)").as("nb"))
      .agg(
        max(abs(col("cum_a") / col("na") - col("cum_b") / col("nb"))).as("ks"),
        max("na").as("n_a"), max("nb").as("n_b"))
  }

  /** 1-D earth-mover's distance (Wasserstein-1) between the `labelA`
    * and `labelB` value distributions — the MAGNITUDE companion to
    * [[ks]]'s max-gap test: KS says the distributions differ, W₁ says
    * by HOW MUCH in value units (the cost of moving one empirical
    * distribution onto the other). Closed form in 1-D:
    * `W₁ = ∫ |F_A(x) − F_B(x)| dx = Σᵢ |F_A(xᵢ) − F_B(xᵢ)| · (xᵢ₊₁ − xᵢ)`
    * over the sorted distinct values. Returns one row
    * `(emd floor-4dp, n_a, n_b)`.
    *
    * The prefix scan rides the [[ks]] machinery verbatim (distinct-value
    * frame, approx-percentile bucket cuts — partition-only, they cannot
    * move the integral — per-bucket windows, bucket-totals offset
    * broadcast); the one extension is the NEXT-VALUE gap: within-bucket
    * `lead(x)`, stitched across bucket boundaries with each bucket's
    * min(x) carried in the same broadcast (bt is bucket-count-sized and
    * sorted, so the first entry above the current bucket IS the next
    * gap endpoint; the global max value contributes no term — both
    * ECDFs are 1 there). The many-term double sum accumulates in
    * DECIMAL(30,10) (invariant 1: float agg order + engine round
    * divergence), floored to 4dp. */
  def emd(df: DataFrame, valueCol: String, labelCol: String,
      labelA: String, labelB: String, buckets: Int = 0): DataFrame = {
    val bucketed = bucketedCounts(df, valueCol, labelCol, labelA, labelB, buckets)
    val w = Window.partitionBy("bucket").orderBy("x")
    val within = bucketed.select(col("bucket"), col("x"),
      sum("ca").over(w).as("wa"), sum("cb").over(w).as("wb"),
      lead("x", 1).over(w).as("nx_in"))
    val bt = bucketed.groupBy("bucket")
      .agg(sum("ca").as("sa"), sum("cb").as("sb"), min("x").as("mnx"))
      .agg(sort_array(collect_list(struct(col("bucket"), col("sa"), col("sb"),
        col("mnx")))).as("bt"))
    within.crossJoin(broadcast(bt))
      .select(col("x"),
        belowBucket("wa", "sa").as("cum_a"),
        belowBucket("wb", "sb").as("cum_b"),
        // bt is sorted by bucket: the first entry past this bucket holds
        // the next value across the boundary; null at the global max
        coalesce(col("nx_in"),
          expr("try_element_at(filter(bt, e -> e.bucket > bucket), 1).mnx")).as("nx"),
        expr("aggregate(bt, 0L, (a, e) -> a + e.sa)").as("na"),
        expr("aggregate(bt, 0L, (a, e) -> a + e.sb)").as("nb"))
      .filter(col("nx").isNotNull)
      .select(
        (abs(col("cum_a") / col("na") - col("cum_b") / col("nb"))
          * (col("nx") - col("x"))).cast("decimal(30,10)").as("term"),
        col("na"), col("nb"))
      .agg(
        (floor(sum(col("term")).cast("double") * 1e4) / 1e4).as("emd"),
        max("na").as("n_a"), max("nb").as("n_b"))
  }

  /** Mann–Whitney U (Wilcoxon rank-sum) two-sample test between the
    * `labelA` and `labelB` value distributions — the NONPARAMETRIC
    * location-shift companion to [[ks]]'s shape test: KS asks "are the
    * distributions different anywhere?", U asks "does one
    * systematically dominate?". Tie-corrected normal approximation, no
    * continuity correction. Returns one row `(u, z, n_a, n_b)`; `u` is
    * the exact U₁ statistic (A as the first sample, ties counted half),
    * `z` floor-4dp.
    *
    * INTEGER-exact core: everything up to the final z expression is
    * exact — the per-value frame carries (ca, cb), the doubled
    * statistic `2U₁ = Σ_v ca·(2·cumB(v) − cb)` stays an integer
    * (DECIMAL(38,0); the ½-tie term never leaves ℤ when doubled), and
    * the tie correction `Σ(k³−k)` likewise. The prefix `cumB` rides the
    * [[ks]] machinery verbatim: distinct-value frame, approx-percentile
    * bucket cuts, per-bucket windows, bucket-totals offset broadcast —
    * no global single-partition window. */
  def mannWhitney(df: DataFrame, valueCol: String, labelCol: String,
      labelA: String, labelB: String, buckets: Int = 0): DataFrame = {
    val bucketed = bucketedCounts(df, valueCol, labelCol, labelA, labelB, buckets)
    val w = Window.partitionBy("bucket").orderBy("x")
    val within = bucketed.select(col("bucket"), col("ca"), col("cb"),
      sum("cb").over(w).as("wb"))
    val bt = bucketed.groupBy("bucket").agg(sum("cb").as("sb"))
      .agg(sort_array(collect_list(struct(col("bucket"), col("sb")))).as("bt"))
    val m = within.crossJoin(broadcast(bt))
      .select(col("ca"), col("cb"),
        belowBucket("wb", "sb").as("cumb"))
      .agg(
        sum("ca").as("na"), sum("cb").as("nb"),
        // decimal BEFORE the products: per-value factors are counts
        // (corpus-sized in the worst case), so long×long could wrap
        sum(col("ca").cast("decimal(38,0)")
          * (lit(2) * col("cumb") - col("cb")).cast("decimal(38,0)")).as("u2"),
        sum((col("ca") + col("cb")).cast("decimal(38,0)")
          * (col("ca") + col("cb")).cast("decimal(38,0)")
          * (col("ca") + col("cb")).cast("decimal(38,0)")
          - (col("ca") + col("cb")).cast("decimal(38,0)")).as("ties"))
    val naD = col("na").cast("double")
    val nbD = col("nb").cast("double")
    val nD = naD + nbD
    val num = col("u2").cast("double") - naD * nbD
    val den = lit(2.0) * sqrt(naD * nbD / lit(12.0)
      * ((nD + lit(1.0)) - col("ties").cast("double") / (nD * (nD - lit(1.0)))))
    m.select(
      (col("u2").cast("double") / 2).as("u"),
      when(den > 0, floor(num / den * 10000) / 10000).otherwise(lit(0.0)).as("z"),
      col("na").cast("bigint").as("n_a"), col("nb").cast("bigint").as("n_b"))
  }

  /** Population-stability index of every non-reference group of
    * `groupCol` against the `refGroup` slice, over `nBins` exact
    * quantile bins of the REFERENCE distribution (the convention: bins
    * are fixed by the validated corpus, drift is measured against them).
    * `PSI = Σ_bins (p_cur − p_ref) · ln(p_cur / p_ref)` with additive
    * `alpha` smoothing (`p = (cnt + α) / (n + α·nBins)`) so empty bins
    * stay finite on BOTH sides — the same formula the oracle runs.
    * Returns one row per non-reference group `(g, psi, n)`. Rule of
    * thumb: ≥ 0.2 = significant shift.
    *
    * Plan: 1-row reference cut-array broadcast ([[Profiler.quantileBins]]
    * parity with DuckDB `quantile_cont`) → map-side bucket rank → a
    * (group × bin) cell aggregate — the ONLY shuffle that sees data —
    * localCheckpoint'd (groups×bins-sized; consumed by the reference
    * and current branches) → explicit-zero spine → nBins-row broadcast
    * equi-join of the reference bins → per-group 10-term sum. */
  def psi(df: DataFrame, valueCol: String, groupCol: String, refGroup: String,
      nBins: Int = 10, alpha: Double = 0.5): DataFrame = {
    require(nBins >= 2, s"nBins must be ≥2, got $nBins")
    require(alpha > 0, s"alpha must be positive (keeps empty bins finite), got $alpha")
    val vals = df.filter(col(valueCol).isNotNull && col(groupCol).isNotNull)
      .select(col(groupCol).cast("string").as("g"),
        col(valueCol).cast("double").as("x"))
    val fracs = (1 until nBins).map(i => i.toDouble / nBins)
    val cuts = vals.filter(col("g") === refGroup)
      .agg(expr(s"percentile(x, array(${fracs.mkString(", ")}))").as("cuts"))
    val cell = vals.crossJoin(broadcast(cuts))
      .select(col("g"),
        (expr("aggregate(cuts, 0, (a, c) -> a + CASE WHEN x > c THEN 1 ELSE 0 END)")
          + 1).cast("long").as("bucket"))
      .groupBy("g", "bucket").agg(count(lit(1)).as("cnt"))
    val spine = cell.groupBy("g").agg(sum("cnt").as("n"))
      .select(col("g"), col("n"),
        explode(expr(s"sequence(1L, ${nBins}L)")).as("bucket"))
    val full = spine.join(cell, Seq("g", "bucket"), "left")
      .select(col("g"), col("bucket"), col("n"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
      .transform(Ckpt.apply)
    val ref = full.filter(col("g") === refGroup)
      .select(col("bucket"), col("cnt").as("rcnt"), col("n").as("rn"))
    full.filter(col("g") =!= refGroup)
      .join(broadcast(ref), Seq("bucket"))
      .select(col("g"), col("n"),
        ((col("cnt") + alpha) / (col("n") + alpha * nBins)).as("pc"),
        ((col("rcnt") + alpha) / (col("rn") + alpha * nBins)).as("pr"))
      .groupBy("g")
      .agg(sum((col("pc") - col("pr")) * log(col("pc") / col("pr"))).as("psi"),
        max("n").as("n"))
  }

  /** Fitted PSI reference: the quantile cut array and per-bin counts of
    * a validated corpus slice — the model a MONITOR scores new data
    * against (batch: [[psi]] recomputes the reference inline; streaming:
    * [[graft.streaming.DriftStream.psiStream]] takes this fitted model
    * because an unbounded stream cannot re-derive its reference). */
  final case class PsiReference(cuts: Array[Double], binCounts: Array[Long], n: Long) {
    def nBins: Int = binCounts.length
  }

  /** Fit a [[PsiReference]] on a validated reference frame: exact
    * `percentile` cuts (strict-`>` bucket assignment, ties to the lower
    * bin — the [[psi]] convention) and the reference's own bin counts.
    * The collect is MODEL-sized ((nBins−1) cuts + nBins counts, like
    * `Similarity.fitIvf`'s centroids), never data-sized. */
  def fitPsiReference(df: DataFrame, valueCol: String, nBins: Int = 10): PsiReference = {
    require(nBins >= 2, s"nBins must be ≥2, got $nBins")
    val vals = df.filter(col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("x"))
    val fracs = (1 until nBins).map(i => i.toDouble / nBins)
    val cuts = vals
      .agg(expr(s"percentile(x, array(${fracs.mkString(", ")}))").as("cuts"))
      .head().getSeq[Double](0).toArray
    // a degenerate fit (±Inf/NaN values in the reference column) must
    // fail HERE, not as an invalid literal in some later consumer's
    // plan (r8 ADVICE — DriftStream.bucketize guards the same way)
    require(cuts.forall(java.lang.Double.isFinite),
      s"non-finite reference cuts from $valueCol: ${cuts.mkString(", ")}")
    val counts = vals
      .select((expr(s"aggregate(array(${cuts.mkString(", ")}), 0, " +
        "(a, c) -> a + CASE WHEN x > c THEN 1 ELSE 0 END)") + 1)
        .cast("long").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val binCounts = (1 to nBins).map(b => counts.getOrElse(b.toLong, 0L)).toArray
    PsiReference(cuts, binCounts, binCounts.sum)
  }

  /** Fitted TOKEN reference for the streaming JS drift monitor
    * ([[graft.streaming.DriftStream.jsTokenStream]]): the top-k
    * vocabulary with counts, the OOV remainder mass, and the token
    * total. k+1 buckets (index 0 = OOV) is the whole model — kilobytes
    * regardless of corpus size, the same "fit once on the validated
    * corpus, ship as literals" contract as [[PsiReference]]. */
  final case class TokenReference(tokens: Array[String], counts: Array[Long],
      oov: Long, n: Long) {
    def k: Int = tokens.length
  }

  /** Fit a [[TokenReference]]: standard single-space tokenization, count
    * aggregate, top-k by (count desc, token asc — deterministic ties).
    * Driver traffic is ONE scalar (the token total) + k rows (the
    * model) — the ML-fit exemption class, never corpus-sized. */
  def fitTokenReference(df: DataFrame, textCol: String,
      topK: Int = 20): TokenReference = {
    require(topK >= 1, s"topK must be ≥1, got $topK")
    val toks = df.filter(col(textCol).isNotNull)
      .select(explode(split(col(textCol), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    val totalRow = counts.agg(sum("c").as("n")).head()
    val total = if (totalRow.isNullAt(0)) 0L else totalRow.getLong(0)
    require(total > 0, s"empty reference corpus for $textCol")
    val top = counts.orderBy(desc("c"), asc("tok")).limit(topK)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    TokenReference(top.map(_._1), top.map(_._2),
      total - top.map(_._2).sum, total)
  }

  /** Pearson χ² independence statistic over the `rowCol` × `colCol`
    * contingency table: `χ² = Σ_cells (O − E)² / E` with
    * `E = n_r · n_c / n`, absent cells contributing their full expected
    * mass (`O = 0` term = `E`). Returns one row
    * `(chi2, dof, n)` with `dof = (R−1)(C−1)`. Both columns must be
    * LOW-CARDINALITY categoricals (languages, sources, labels) — the
    * spine is R×C cells, corpus-size-independent, so the margin cross
    * is the declared invariant-3 GROUP-cardinality exemption, never
    * quadratic in data.
    *
    * Plan: one (r, c) count aggregate sees the data (localCheckpoint'd —
    * margins, total, and the spine join all consume it); everything
    * after is cell-frame arithmetic. Counts stay longs until the E
    * division. */
  def chiSquare(df: DataFrame, rowCol: String, colCol: String): DataFrame = {
    val cells = df.filter(col(rowCol).isNotNull && col(colCol).isNotNull)
      .groupBy(col(rowCol).cast("string").as("r"),
        col(colCol).cast("string").as("c"))
      .agg(count(lit(1)).as("o"))
      .transform(Ckpt.apply)
    val rm = cells.groupBy("r").agg(sum("o").as("nr"))
    val cm = cells.groupBy("c").agg(sum("o").as("nc"))
    val tot = cells.agg(sum("o").as("n"))
    rm.crossJoin(cm).crossJoin(broadcast(tot))
      .join(cells, Seq("r", "c"), "left")
      .select(col("r"), col("c"), col("n"),
        (col("nr").cast("double") * col("nc") / col("n")).as("e"),
        coalesce(col("o"), lit(0L)).cast("double").as("o"))
      .agg(
        sum((col("o") - col("e")) * (col("o") - col("e")) / col("e")).as("chi2"),
        ((countDistinct(col("r")) - 1) * (countDistinct(col("c")) - 1))
          .cast("long").as("dof"),
        max("n").as("n"))
  }
}
