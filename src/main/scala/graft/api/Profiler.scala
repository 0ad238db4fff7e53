package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dataset profiling — the corpus-QA pass a pipeline runs before and
  * after every preparation stage (ingest sanity, post-filter drift,
  * dedup effect measurement). One wide aggregate computes every metric
  * in a single pass over the data (count / null-count are plain
  * map-side-combining aggregates; the exact distinct counts expand to
  * one Expand pass — still one scan), then the wide row is unpivoted
  * driver-free with `stack` into (column, metric, value) long form —
  * the data is never re-read.
  */
object Profiler {

  /** Per-column profile: (col_name, n_rows, n_nulls, n_distinct),
    * all BIGINT (engine-portable — no float formatting in the output).
    * `cols` defaults to every column of `df`. Internal aliases are
    * index-based and the emitted name is a quoted literal, so arbitrary
    * column names (spaces, dots, quotes) are safe.
    *
    * `approxDistinct = true` swaps `count_distinct` for
    * `approx_count_distinct` (HLL++, default 5% rsd): exact multi-column
    * distincts plan an Expand pass — the input re-emitted once PER
    * PROFILED COLUMN through the aggregate — so at 100 TB × a wide
    * table the cheap first-pass profile wants the sketch, which keeps
    * the plan a single plain map-side-combining aggregate (no Expand,
    * plan-pinned in PlanAuditSpec). Exact mode stays the default and
    * the oracled form. */
  def profile(df: DataFrame, cols: Seq[String] = Nil,
      approxDistinct: Boolean = false): DataFrame = {
    val names = if (cols.nonEmpty) cols else df.columns.toSeq
    require(names.nonEmpty, "profile() needs at least one column")
    // one shared row count + per-column (nulls, distinct); aliases are
    // positional so column names never leak into identifiers
    val aggs = count(lit(1)).as("__rows") +: names.zipWithIndex.flatMap { case (c, i) =>
      Seq(
        count(when(col(c).isNull, 1)).as(s"__nulls_$i"),
        (if (approxDistinct) approx_count_distinct(col(c))
         else count_distinct(col(c))).as(s"__dist_$i"))
    }
    val wide = df.agg(aggs.head, aggs.tail: _*)
    // stack takes a FLAT expression list (n rows × 4 values per row);
    // the name becomes a SQL string literal with quotes doubled
    val stacked = names.zipWithIndex.map { case (c, i) =>
      s"'${c.replace("'", "''")}', __rows, __nulls_$i, __dist_$i"
    }.mkString(", ")
    wide.select(expr(
      s"stack(${names.size}, $stacked) AS (col_name, n_rows, n_nulls, n_distinct)"))
  }

  /** Shannon ENTROPY (nats) of categorical columns — the distribution-
    * concentration QA metric next to [[profile]]'s distinct counts: a
    * `source` column with 5 values at H ≈ ln 5 is balanced, the same 5
    * values at H ≈ 0.1 means one source dominates the corpus (the thing
    * a temperature-mix is about to "fix" blindly). NULLs are excluded
    * from the distribution (they're [[profile]]'s n_nulls, not a
    * category). Returns one row per column:
    * (col_name, n_distinct, entropy, norm_entropy) — norm = H / ln k,
    * the 0..1 balance score, NULL for single-valued columns.
    *
    * Plan: per column, one (value) hash aggregate (vocab-sized) whose
    * count frame is re-aggregated to a single row — the data is scanned
    * once per column, nothing corpus-sized crosses a second shuffle; the
    * per-column rows union. Float discipline: H = ln N − (Σ c·ln c)/N;
    * each c·ln c term is ln of an INTEGRAL double (the unigramNll ln
    * parity) cast to DECIMAL(30,10) before the sum, derived doubles
    * floor to 4dp — engine-exact cross-checkable. */
  def entropy(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "entropy() needs at least one column")
    val perCol = cols.map { c =>
      val counts = df.select(col(c).as("__v")).filter(col("__v").isNotNull)
        .groupBy("__v").agg(count(lit(1)).as("__c"))
      counts.agg(
        count(lit(1)).as("__k"),
        sum(col("__c")).as("__n"),
        sum((log(col("__c").cast("double")) * col("__c").cast("double"))
          .cast("decimal(30,10)")).as("__s"))
        .select(
          lit(c).as("col_name"),
          col("__k").as("n_distinct"),
          (floor((log(col("__n").cast("double"))
            - col("__s").cast("double") / col("__n").cast("double")) * 1e4) / 1e4)
            .as("entropy"))
    }
    perCol.reduce(_ unionAll _)
      .withColumn("norm_entropy",
        when(col("n_distinct") > 1,
          floor(col("entropy") / log(col("n_distinct").cast("double")) * 1e4) / 1e4))
  }

  /** Exact equi-width HISTOGRAM of a numeric column: `nBuckets` buckets
    * over the corpus [min, max], EXPLICIT zero rows for empty buckets
    * (the distribution QA view — length/price/score histograms; a plain
    * groupBy hides gaps exactly like an unsampled resample does).
    * Returns (bucket 1..n, lo, hi, cnt) with 4dp bucket bounds.
    *
    * Plan: the [min, max] range is a 1-row broadcast (the sanctioned
    * corpus-constant pattern, same as resampleGapFill's spine); the data
    * crosses ONE map-side bucket projection + one (bucket) hash
    * aggregate of at most nBuckets rows. Bucketing is the explicit
    * `floor((x − lo) / width) + 1` formula — engine-portable (DuckDB
    * has no width_bucket), top value clamped into bucket n. A
    * degenerate all-equal column (lo = hi) lands everything in bucket
    * 1 rather than dividing by zero. */
  def histogram(df: DataFrame, valueCol: String, nBuckets: Int): DataFrame = {
    require(nBuckets > 0, s"nBuckets must be positive, got $nBuckets")
    val vals = df.select(col(valueCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
    val range = vals.agg(min("__v").as("__lo"), max("__v").as("__hi"))
    val bucketed = vals.crossJoin(broadcast(range))
      .select(when(col("__hi") === col("__lo"), lit(1L))
        .otherwise(least(
          floor((col("__v") - col("__lo")) /
            ((col("__hi") - col("__lo")) / nBuckets)).cast("long") + 1L,
          lit(nBuckets.toLong))).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))
    val spine = range.select(
      explode(expr(s"sequence(1L, ${nBuckets}L)")).as("bucket"),
      col("__lo"), col("__hi"))
    spine.join(bucketed, Seq("bucket"), "left")
      .select(col("bucket"),
        round(col("__lo") + (col("bucket") - 1) * (col("__hi") - col("__lo")) / nBuckets, 4).as("lo"),
        round(col("__lo") + col("bucket") * (col("__hi") - col("__lo")) / nBuckets, 4).as("hi"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
  }

  /** EQUAL-FREQUENCY (quantile) binning of a numeric column — the
    * feature-engineering complement to [[histogram]]'s equal-width
    * buckets: bucket b holds the values between the (b−1)/n and b/n
    * exact interpolated percentiles, so a skewed column (prices, doc
    * lengths) still fills every bucket ≈ evenly; heavy TIES at a cut
    * value all land in the lower bucket (strict `>` against each cut),
    * which is what makes the assignment deterministic and can leave a
    * tie-swallowed bucket legitimately empty — hence explicit zero rows
    * like histogram's. Returns (bucket 1..n, lo = the bucket's lower
    * cut, NULL for bucket 1, cnt).
    *
    * Plan: the n−1 cut points are ONE exact-percentile aggregate (a
    * 1-row array broadcast — the corpus-constant pattern); the data
    * crosses one map-side `aggregate(cuts, …)` rank projection + a
    * ≤ nBuckets hash aggregate. Cuts ≡ DuckDB quantile_cont (the
    * q_agg_percentile interpolation parity). */
  def quantileBins(df: DataFrame, valueCol: String, nBuckets: Int): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be ≥2, got $nBuckets")
    val vals = df.select(col(valueCol).cast("double").as("x"))
      .filter(col("x").isNotNull)
    val fracs = (1 until nBuckets).map(i => i.toDouble / nBuckets)
    val cuts = vals.agg(expr(s"percentile(x, array(${fracs.mkString(", ")}))").as("cuts"))
    val counts = vals.crossJoin(broadcast(cuts))
      .select((expr("aggregate(cuts, 0, (a, c) -> a + CASE WHEN x > c THEN 1 ELSE 0 END)")
        + 1).cast("long").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))
    val spine = cuts.select(
      explode(expr(s"sequence(1L, ${nBuckets}L)")).as("bucket"), col("cuts"))
    spine.join(counts, Seq("bucket"), "left")
      .select(col("bucket"),
        when(col("bucket") > 1,
          round(element_at(col("cuts"), (col("bucket") - 1).cast("int")), 4)).as("lo"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
  }

  /** WINSORIZATION: clamp a numeric column into its [loFrac, hiFrac]
    * exact interpolated percentile range — the outlier-trimming pass
    * (event values, doc lengths, quality scores) that tames tails
    * WITHOUT dropping rows. Adds `value_w` (the clamped double) and
    * `clipped_low`/`clipped_high` (1/0 bigint flags). NULL values stay
    * NULL in all three (clamping can't invent data).
    *
    * Plan: the two cut points are ONE exact-percentile aggregate
    * broadcast as a 1-row frame (the corpus-constant pattern shared
    * with [[quantileBins]]); the clamp itself is a pure map-side
    * least/greatest — the output is bit-exact either the original
    * double or a cut (percentile ≡ quantile_cont interpolation parity),
    * no arithmetic touches the value. */
  def winsorize(df: DataFrame, valueCol: String,
      loFrac: Double = 0.01, hiFrac: Double = 0.99): DataFrame = {
    require(loFrac >= 0 && hiFrac <= 1 && loFrac < hiFrac,
      s"need 0 ≤ loFrac < hiFrac ≤ 1, got ($loFrac, $hiFrac)")
    val cuts = df.select(col(valueCol).cast("double").as("__x"))
      .filter(col("__x").isNotNull)
      .agg(expr(s"percentile(__x, array($loFrac, $hiFrac))").as("__cuts"))
    val v = col(valueCol).cast("double")
    df.crossJoin(broadcast(cuts))
      // least/greatest SKIP nulls (both engines) — unguarded, a NULL
      // value would fabricate the low cut; the when-gate keeps NULL→NULL
      .withColumn("value_w",
        when(v.isNotNull,
          least(greatest(v, col("__cuts").getItem(0)), col("__cuts").getItem(1))))
      .withColumn("clipped_low", (v < col("__cuts").getItem(0)).cast("long"))
      .withColumn("clipped_high", (v > col("__cuts").getItem(1)).cast("long"))
      .drop("__cuts")
  }

  /** MAD-based robust outliers: rows whose |x − median| exceeds
    * k · 1.4826 · MAD (MAD = median absolute deviation; 1.4826 makes it
    * a consistent σ estimator under normality) — the robust complement
    * to z-scores: a z-score's mean/σ are themselves dragged by the
    * outliers being hunted, the median/MAD pair is 50%-breakdown-proof.
    * Returns the flagged rows plus `abs_dev` (the |x − median|, for
    * ranking). NULL values are never flagged.
    *
    * Plan: two fit passes (median, then MAD — each ONE exact-percentile
    * aggregate broadcast as a 1-row frame, the corpus-constant pattern)
    * + one map-side flag pass: 3 scans total, zero shuffles beyond the
    * two 1-row aggregates. At 100 TB swap the exact percentiles for
    * `approx_percentile` to make each fit one-pass-cheap. Float
    * discipline: both cuts are interpolated percentiles (quantile_cont
    * parity); |x − med| and the k·1.4826·mad threshold are single
    * correctly-rounded IEEE expressions, so the flag set is
    * engine-exact. */
  def madOutliers(df: DataFrame, valueCol: String, k: Double = 3.0): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val v = col(valueCol).cast("double")
    val med = df.filter(v.isNotNull)
      .select(v.as("__x"))
      .agg(expr("percentile(__x, 0.5)").as("__med"))
    val mad = df.filter(v.isNotNull).crossJoin(broadcast(med))
      .select(abs(v - col("__med")).as("__ad"))
      .agg(expr("percentile(__ad, 0.5)").as("__mad"))
    df.filter(v.isNotNull)
      .crossJoin(broadcast(med)).crossJoin(broadcast(mad))
      .withColumn("abs_dev", abs(v - col("__med")))
      .filter(col("abs_dev") > lit(k) * lit(1.4826) * col("__mad"))
      .drop("__med", "__mad")
  }

  /** Per-group Tukey-fence (IQR) outlier census: exact interpolated
    * Q1/Q3 per group, fences at k·IQR, and the count of rows beyond
    * each fence — the distribution-QA complement to the global
    * median/MAD pass ([[madOutliers]]): per-key fences catch a key
    * whose whole distribution shifted, which one global fence hides.
    *
    * The group cut frame joins back by KEY EQUI-JOIN (group-count-sized
    * build side — no broadcast-range exemption needed), and fences
    * derive from the UNROUNDED percentiles so the comparisons are the
    * same doubles on any engine replaying `quantile_cont`; only the
    * reported cut columns round 4dp. One percentile aggregate + one
    * counting aggregate; nothing after the first shuffle is
    * corpus-sized except the flag scan itself. */
  def iqrOutliers(df: DataFrame, groupCol: String, valueCol: String,
      k: Double = 1.5): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val v = col(valueCol)
    val cuts = df.filter(v.isNotNull && col(groupCol).isNotNull)
      .groupBy(col(groupCol).as("g2"))
      .agg(expr(s"percentile($valueCol, 0.25)").as("q1"),
        expr(s"percentile($valueCol, 0.75)").as("q3"))
    df.filter(v.isNotNull && col(groupCol).isNotNull)
      .join(cuts, col(groupCol) === col("g2"))
      .select(col(groupCol).as("g"), v.as("x"), col("q1"), col("q3"),
        (col("q1") - lit(k) * (col("q3") - col("q1"))).as("lo"),
        (col("q3") + lit(k) * (col("q3") - col("q1"))).as("hi"))
      .groupBy("g").agg(
        count(lit(1)).as("n_rows"),
        round(max("q1"), 4).as("q1"),
        round(max("q3"), 4).as("q3"),
        sum(when(col("x") < col("lo"), 1L).otherwise(0L)).as("n_low"),
        sum(when(col("x") > col("hi"), 1L).otherwise(0L)).as("n_high"))
  }

  /** Tie-corrected Spearman rank correlation between two numeric
    * columns — the ROBUST monotone-association companion to Pearson
    * (q_correlation): outliers and nonlinearity that wreck Pearson
    * leave rank correlation intact. Computed as Pearson over average
    * ranks with ranks DOUBLED so they stay integers under ties
    * (avg-rank of a tie group = prev + (k+1)/2 → doubled:
    * 2·cum − k + 1, an exact integer; Pearson is affine-invariant so
    * the doubling cancels).
    *
    * The global rank is the ECDF problem: each column reduces to its
    * distinct-value count frame, ranks come from the `Drift.ks`-style
    * bucketed prefix scan (APPROX-percentile cuts over the distinct
    * values — boundaries only partition the scan, they cannot move a
    * rank — per-bucket windows, bucket-totals offset broadcast — no
    * global single-partition window), and rows join their ranks back by
    * value equi-joins. All five Pearson moments accumulate as DECIMAL(38,0)
    * integers; one fixed double expression, floor-4dp. Returns one row
    * `(n_rows, spearman)`. */
  def spearman(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    // spread (guide §2.5) so the checkpoint materialization and every
    // downstream map side run at cluster parallelism, not the
    // single-row-group scan's one task
    val rows = graft.Par.spread(
      df.filter(col(xCol).isNotNull && col(yCol).isNotNull)
        .select(col(xCol).cast("double").as("x"), col(yCol).cast("double").as("y")),
      col("x"), col("y"))
      .transform(Ckpt.apply) // consumed by both rank builds and the join
    def rankFrame(c: String): DataFrame = {
      // LAZY (r14, guide §1.2): the first consumer is a single
      // sequential action — the bucket-derivation count below — so the
      // lazy mark fuses the eager form's dedicated job into it
      val counts = rows.groupBy(col(c).as("v")).agg(count(lit(1)).as("k"))
        .transform(Ckpt.lzy)
      // bound per-window rows at any scale (Drift.scanBuckets);
      // bucket boundaries cannot move ranks or the statistic
      val b = Drift.scanBuckets(counts.count())
      val fracs = (1 until b).map(i => i.toDouble / b)
      // APPROX cuts on purpose: bucket boundaries only partition the
      // prefix scan — they cannot move the ranks or the statistic — so
      // the cheap mergeable sketch replaces an exact-percentile sort
      // that buffers the whole distinct-value frame on one task (a
      // near-unique column like a price makes that frame row-count-
      // sized; measured 10 s → ~2 s on 600k distinct values)
      val cuts = counts.agg(
        expr(s"approx_percentile(v, array(${fracs.mkString(", ")}), 1000)")
          .as("cuts"))
      val bucketed = counts.crossJoin(broadcast(cuts))
        .select(col("v"), col("k"),
          (expr("aggregate(cuts, 0, (a, c) -> a + CASE WHEN v > c THEN 1 ELSE 0 END)")
            + 1).cast("long").as("bucket"))
        .transform(Ckpt.apply)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("bucket").orderBy("v")
      val within = bucketed.select(col("v"), col("k"), col("bucket"),
        sum("k").over(w).as("wk"))
      val bt = bucketed.groupBy("bucket").agg(sum("k").as("sk"))
        .agg(sort_array(collect_list(struct(col("bucket"), col("sk")))).as("bt"))
      within.crossJoin(broadcast(bt))
        .select(col("v"),
          (lit(2) * (col("wk") + expr(
            "aggregate(filter(bt, e -> e.bucket < bucket), 0L, (a, e) -> a + e.sk)"))
            - col("k") + 1).as("r2"))
    }
    val rx = rankFrame("x").select(col("v").as("vx"), col("r2").as("rx"))
    val ry = rankFrame("y").select(col("v").as("vy"), col("r2").as("ry"))
    // center by the EXACT integer mean of doubled ranks (n+1): Σa = 0
    // kills the n·Σab − ΣaΣb cross terms, so every remaining moment is
    // bounded by n³ — the double casts stay in (or near) the exact
    // integer range instead of the n·moment ~ n⁴ products that would
    // cross engines' large-integer→double rounding differences
    val tot = rows.agg(count(lit(1)).as("nn"))
    val ranked = rows.join(rx, col("x") === col("vx"))
      .join(ry, col("y") === col("vy"))
      .crossJoin(broadcast(tot))
      .select(col("nn"),
        (col("rx") - (col("nn") + 1)).cast("decimal(38,0)").as("a"),
        (col("ry") - (col("nn") + 1)).cast("decimal(38,0)").as("b"))
    val m = ranked.agg(count(lit(1)).as("n"),
      sum(col("a") * col("b")).as("sab"),
      sum(col("a") * col("a")).as("saa"),
      sum(col("b") * col("b")).as("sbb"))
    val da = col("saa").cast("double")
    val db = col("sbb").cast("double")
    m.select(col("n").cast("bigint").as("n_rows"),
      when(da > 0 && db > 0,
        floor(col("sab").cast("double") / sqrt(da * db) * 10000) / 10000)
        .otherwise(lit(0.0)).as("spearman"))
  }

  /** Per-group Gini coefficient + top-decile share of a non-negative
    * integer measure — the inequality audit ("is one source's token
    * mass concentrated in a few giant documents?") that decides whether
    * a corpus slice needs length capping before training.
    *
    * Gini via the rank formula G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n over
    * the ascending sort; ties carry a key tiebreak so the rank is a
    * total order, and equal values make Σ i·xᵢ tie-order-invariant, so
    * the statistic is deterministic. Everything accumulates as exact
    * DECIMAL(38,0) integer moments (the measure is integral); the two
    * output doubles each derive in one fixed expression, floored 4dp.
    * `top_share` is the fraction of the total measure held by the top
    * ⌈n/10⌉ rows.
    *
    * Scale: the rank window partitions BY GROUP (hash-distributed; a
    * group's frame must fit a partition — lengths-per-source here, the
    * same contract as every keyed window in this codebase), then one
    * hash aggregate per group. No global window, no broadcast. */
  def gini(df: DataFrame, groupCol: String, valueCol: String,
      idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(asc(valueCol), asc(idCol))
    val ranked = df
      .filter(col(valueCol).isNotNull && col(valueCol) >= 0)
      .select(col(groupCol).as("g"),
        col(valueCol).cast("decimal(38,0)").as("x"),
        row_number().over(w).cast("decimal(38,0)").as("rn"),
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(groupCol)).as("n"))
    val m = ranked.groupBy("g").agg(
      max(col("n")).as("n_rows"),
      sum(col("x")).as("sx"),
      sum(col("rn") * col("x")).as("srx"),
      sum(when(col("rn") > col("n") - ceil(col("n") / lit(10.0)),
        col("x")).otherwise(lit(0)).cast("decimal(38,0)")).as("stop"))
    val n = col("n_rows").cast("double")
    m.select(col("g"), col("n_rows"), col("sx").cast("bigint").as("total"),
      when(col("sx") > 0,
        floor((lit(2.0) * col("srx").cast("double")
          / (n * col("sx").cast("double"))
          - (n + lit(1.0)) / n) * 10000) / 10000)
        .otherwise(lit(0.0)).as("gini"),
      when(col("sx") > 0,
        floor(col("stop").cast("double") / col("sx").cast("double") * 10000) / 10000)
        .otherwise(lit(0.0)).as("top_share"))
  }

  /** Per-group Lorenz curve of a non-negative integer measure: rows
    * ranked ascending (key tiebreak → total order), cut into `bins`
    * equal-count quantile bins, and each bin reported with its share of
    * the group total and the cumulative share up to it — the
    * curve BEHIND [[gini]]'s single coefficient ("the top decile holds
    * 38% of the tokens" is this table's last row). The standard corpus
    * question it answers: how concentrated is token mass across
    * documents within each source, bin by bin.
    *
    * Exactness: bin assignment is pure integer math
    * ((rn−1)·bins div n); every mass sum is DECIMAL(38,0) on the
    * integral measure; the two shares are each one double division,
    * floor-4dp. Tie order inside equal values cannot move any bin
    * boundary's SUM (equal values are interchangeable across the
    * boundary), so the curve is deterministic.
    *
    * Scale: the [[gini]] shape — one group-partitioned rank window,
    * one (group, bin) hash aggregate, then bin-cardinality windows
    * (`bins` rows per group) for the cumulative sums. No global window,
    * no broadcast. */
  def lorenz(df: DataFrame, groupCol: String, valueCol: String,
      idCol: String, bins: Int = 10): DataFrame = {
    require(bins >= 2, s"bins must be ≥2, got $bins")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCol).orderBy(asc(valueCol), asc(idCol))
    val ranked = df
      .filter(col(valueCol).isNotNull && col(valueCol) >= 0)
      .select(col(groupCol).as("g"),
        col(valueCol).cast("decimal(38,0)").as("x"),
        row_number().over(w).as("rn"),
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(groupCol)).as("n"))
      .withColumn("bin", expr(s"((rn - 1) * $bins) div n + 1"))
    val perBin = ranked.groupBy("g", "bin")
      .agg(count(lit(1)).as("n_rows"), sum(col("x")).as("bx"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy("g").orderBy(asc("bin"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val wTot = org.apache.spark.sql.expressions.Window.partitionBy("g")
    perBin
      .withColumn("cx", sum(col("bx")).over(wCum))
      .withColumn("tx", sum(col("bx")).over(wTot))
      .select(col("g"), col("bin").cast("bigint").as("bin"), col("n_rows"),
        col("bx").cast("bigint").as("bin_total"),
        when(col("tx") > 0,
          floor(col("bx").cast("double") / col("tx").cast("double") * 10000) / 10000)
          .otherwise(lit(0.0)).as("bin_share"),
        when(col("tx") > 0,
          floor(col("cx").cast("double") / col("tx").cast("double") * 10000) / 10000)
          .otherwise(lit(0.0)).as("cum_share"))
  }

  /** Mutual information between two CATEGORICAL columns — the
    * feature-dependence audit ("does `source` predict `lang`?") behind
    * feature selection, leakage checks, and stratification design.
    * Returns ONE row: n, MI (nats), the two marginal entropies, and
    * normalized MI = MI / √(H(A)·H(B)) (0 = independent, 1 = one
    * determines the other). Rows with a null on either side are
    * excluded.
    *
    * Scale shape: the corpus collapses FIRST to its R×C cell-count
    * frame (one map-side-combining aggregate); margins derive from the
    * cells, the total crosses back as the sanctioned 1-row broadcast,
    * and every sum after that is cell- or margin-cardinality. The
    * [[graft.api.Drift]] chi² contingency pattern, reported as an
    * information statistic.
    *
    * Exactness: each cell term is c·ln((c·n)/(r_a·c_b)) — the log of an
    * exact-integer ratio (both products cast once to double), one ln per
    * cell, quantized DECIMAL(30,10) before the order-proof sum; the
    * entropy sums are r·ln(r) terms under the same treatment. The final
    * statistics are fixed double expressions over those agreed sums,
    * floor-4dp. */
  def mutualInfo(df: DataFrame, colA: String, colB: String): DataFrame = {
    val cells = Ckpt(
      df.filter(col(colA).isNotNull && col(colB).isNotNull)
        .groupBy(col(colA).as("a"), col(colB).as("b"))
        .agg(count(lit(1)).as("c")))
    val ra = cells.groupBy("a").agg(sum("c").as("r"))
    val cb = cells.groupBy("b").agg(sum("c").as("s"))
    val tot = cells.agg(sum("c").as("n"))
    // c·n and r·s as DECIMAL(38,0) products: exact beyond the long range
    // (n² at 10¹⁰ rows overflows int64), cast ONCE to double for the ln
    val miSum = cells.join(ra, "a").join(cb, "b").crossJoin(broadcast(tot))
      .select((col("c").cast("double") *
        log((col("c").cast("decimal(38,0)") * col("n")).cast("double") /
          (col("r").cast("decimal(38,0)") * col("s")).cast("double")))
        .cast("decimal(30,10)").as("t"))
      .agg(sum("t").as("mi_sum"))
    val haSum = ra.select((col("r").cast("double") *
        log(col("r").cast("double"))).cast("decimal(30,10)").as("t"))
      .agg(sum("t").as("ha_sum"))
    val hbSum = cb.select((col("s").cast("double") *
        log(col("s").cast("double"))).cast("decimal(30,10)").as("t"))
      .agg(sum("t").as("hb_sum"))
    tot.crossJoin(miSum).crossJoin(haSum).crossJoin(hbSum)
      .select(col("n").cast("bigint").as("n"),
        floor(col("mi_sum").cast("double") / col("n") * 10000).as("__mi"),
        (log(col("n").cast("double"))
          - col("ha_sum").cast("double") / col("n")).as("__ha"),
        (log(col("n").cast("double"))
          - col("hb_sum").cast("double") / col("n")).as("__hb"))
      .select(col("n"),
        (col("__mi") / 10000).as("mi"),
        (floor(col("__ha") * 10000) / 10000).as("h_a"),
        (floor(col("__hb") * 10000) / 10000).as("h_b"),
        when(col("__ha") > 0 && col("__hb") > 0,
          floor(col("__mi") / 10000 / sqrt(col("__ha") * col("__hb")) * 10000)
            / 10000)
          .otherwise(lit(0.0)).as("nmi"))
  }
}
