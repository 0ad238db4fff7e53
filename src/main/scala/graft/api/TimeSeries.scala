package graft.api

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Reusable event-time operators — the library surface behind the
  * `q_window_*` / `q_session_window` / `q_join_range` queries. Works on
  * both batch and streaming frames (the window forms lower to the same
  * plans; sessionization in streaming uses the state store).
  */
object TimeSeries {

  /** SQL for exact `Math.floorDiv(c, w)` over longs — THE one shared
    * bucketing idiom (`resampleGapFill`, `intervalJoinAgg`, the
    * retention query): Spark's `div` truncates toward zero, so a
    * negative remainder means the result must be corrected by −1 or
    * pre-1970 timestamps land in the wrong bucket. `c` is a COLUMN NAME
    * (backtick-quoted here, so dotted/spaced names are safe — not an
    * arbitrary expression); `w` must be positive. */
  def floorDivSql(c: String, w: Long): String = {
    require(w > 0, s"floorDivSql width must be positive, got $w")
    val q = s"`${c.replace("`", "``")}`"
    s"($q div $w - (CASE WHEN $q % $w < 0 THEN 1 ELSE 0 END))"
  }

  /** Epoch-aligned tumbling window aggregation. `aggs` are applied per
    * window; output carries win_start_ms. */
  def tumbling(df: DataFrame, tsCol: String, width: String,
      aggs: Seq[Column]): DataFrame =
    df.groupBy(window(col(tsCol), width))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("win_start_ms", unix_millis(col("window.start")))
      .drop("window")

  /** Sliding windows (width, slide). */
  def sliding(df: DataFrame, tsCol: String, width: String, slide: String,
      aggs: Seq[Column]): DataFrame =
    df.groupBy(window(col(tsCol), width, slide))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("win_start_ms", unix_millis(col("window.start")))
      .drop("window")

  /** Per-key session windows with a fixed gap. Streaming-ready as-is:
    * on a `withWatermark`ed input in append mode, Spark's session store
    * merges same-key events into the open session ACROSS micro-batches
    * and emits each session exactly once when the watermark passes its
    * end (last event + gap); rows behind the watermark are dropped and
    * can never re-open a closed session. Streamed sessions equal this
    * same function run in batch over the non-late rows —
    * StreamingSemanticsSpec "streaming sessionize" pins merge, close,
    * late-drop, and batch parity. */
  def sessionize(df: DataFrame, tsCol: String, keyCol: String, gap: String,
      aggs: Seq[Column]): DataFrame =
    df.groupBy(session_window(col(tsCol), gap), col(keyCol))
      .agg(aggs.head, aggs.tail: _*)
      .withColumn("session_start_ms", unix_millis(col("session_window.start")))
      .drop("session_window")

  /** PER-ROW session assignment — the lag/cumulative-break formulation
    * of [[sessionize]]'s `session_window` (break iff the time since the
    * previous same-key event is >= `gap`; identical membership, since a
    * session's exclusive end is last_ts + gap on both forms) — exposed
    * per row so a downstream `row_number <= k` can BOUND any later
    * per-session aggregation buffer before it builds (the hot-key
    * guard: a bot emitting sub-gap events forever is one session, and a
    * post-hoc slice over an unbounded collect_list still buffers every
    * event first). One hash exchange on `keyCol`; the lag, running break
    * sum, and within-session row_number all reuse that partitioning
    * (HashPartitioning(key) satisfies the (key, session_id) clustering),
    * as does a follow-up groupBy(key, session_id). `tieCols` extend the
    * timestamp ordering to a total order so assignment and numbering are
    * deterministic. Adds `session_id` (running break count, dense within
    * each key, 1-based) and `sn` (1-based row position within its
    * session under the same total order). `gap` is in `tsCol` units. */
  def sessionIds(df: DataFrame, tsCol: String, keyCol: String, gap: Long,
      tieCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(gap > 0, s"gap must be positive, got $gap")
    val order = col(tsCol).asc +: tieCols.map(col(_).asc)
    val wKey = Window.partitionBy(keyCol).orderBy(order: _*)
    val wRun = wKey.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("__prev", lag(col(tsCol), 1).over(wKey))
      .withColumn("__brk",
        when(col("__prev").isNull || col(tsCol) - col("__prev") >= gap, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("__brk")).over(wRun))
      .drop("__prev", "__brk")
      .withColumn("sn",
        row_number().over(Window.partitionBy(col(keyCol), col("session_id")).orderBy(order: _*)))
  }

  /** As-of join: for each left row, the most recent right-side timestamp
    * at-or-before it within the same key. Implemented with the
    * union-window formulation — tag both sides, union, running max of the
    * right timestamp over (key, ts) — which costs ONE shuffle by key and
    * no join at all (the classic scalable as-of plan; a naive approach is
    * a per-row correlated scan). Ties: a right row at exactly the left
    * timestamp counts as "at or before". `toleranceMs` (pandas
    * merge_asof's `tolerance`) bounds staleness: a match older than
    * `leftTs − toleranceMs` reports NULL instead — applied as a post-
    * window projection, so the plan is unchanged. Returns (leftIdCol,
    * asof_ts_ms: nullable). */
  def asofJoin(left: DataFrame, leftIdCol: String, leftTsMsCol: String, leftKeyCol: String,
      right: DataFrame, rightTsMsCol: String, rightKeyCol: String,
      toleranceMs: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val l = left.select(col(leftKeyCol).as("__k"), col(leftTsMsCol).as("__ts"),
      col(leftIdCol).as("__lid"), lit(1).as("__is_left"),
      lit(null).cast("long").as("__rts"))
    val r = right.select(col(rightKeyCol).as("__k"), col(rightTsMsCol).as("__ts"),
      lit(null).cast("long").as("__lid"), lit(0).as("__is_left"),
      col(rightTsMsCol).cast("long").as("__rts"))
    // right rows sort before left rows at equal ts (__is_left asc) so an
    // exactly-simultaneous right event is visible to the left row
    val w = Window.partitionBy("__k").orderBy(asc("__ts"), asc("__is_left"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bounded = toleranceMs match {
      case Some(tol) =>
        require(tol >= 0, s"toleranceMs must be non-negative, got $tol")
        // staleness = __ts - __asof, non-negative by construction (the
        // match is at-or-before). Compare THAT against tol: the naive
        // `__asof >= __ts - tol` underflows Long for huge tolerances ×
        // negative (pre-1970) timestamps, and ANSI mode turns that into
        // a runtime ArithmeticException
        when(col("__ts") - col("__asof") <= tol, col("__asof"))
      case None => col("__asof")
    }
    l.unionByName(r)
      .withColumn("__asof", max("__rts").over(w))
      .filter(col("__is_left") === 1)
      .select(col("__lid").as(leftIdCol), bounded.as("asof_ts_ms"))
  }

  /** FORWARD as-of join: for each left row, the EARLIEST right-side
    * timestamp at-or-after it within the same key — the mirror of
    * [[asofJoin]] (pandas merge_asof `direction='forward'`): "the next
    * error after each purchase", the time-to-next-event attribution
    * shape. Same union-window plan, one shuffle, no join: the running
    * MIN of the right timestamp over the current-to-end frame, with
    * left rows ordered BEFORE right rows at equal ts so an
    * exactly-simultaneous right event is visible ("at or after"
    * includes ties). `toleranceMs` bounds futurity: a match further
    * than `leftTs + toleranceMs` reports NULL. Returns (leftIdCol,
    * asof_ts_ms: nullable). */
  def asofJoinForward(left: DataFrame, leftIdCol: String, leftTsMsCol: String,
      leftKeyCol: String, right: DataFrame, rightTsMsCol: String,
      rightKeyCol: String, toleranceMs: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val l = left.select(col(leftKeyCol).as("__k"), col(leftTsMsCol).as("__ts"),
      col(leftIdCol).as("__lid"), lit(1).as("__is_left"),
      lit(null).cast("long").as("__rts"))
    val r = right.select(col(rightKeyCol).as("__k"), col(rightTsMsCol).as("__ts"),
      lit(null).cast("long").as("__lid"), lit(0).as("__is_left"),
      col(rightTsMsCol).cast("long").as("__rts"))
    // left rows sort before right rows at equal ts (__is_left DESC:
    // 1 before 0) so the tied right event falls inside the forward frame
    val w = Window.partitionBy("__k").orderBy(asc("__ts"), desc("__is_left"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val bounded = toleranceMs match {
      case Some(tol) =>
        require(tol >= 0, s"toleranceMs must be non-negative, got $tol")
        // futurity = __asof - __ts, non-negative by construction; the
        // subtraction form avoids the Long overflow of `__ts + tol`
        // (same hazard as the backward tolerance, mirrored)
        when(col("__asof") - col("__ts") <= tol, col("__asof"))
      case None => col("__asof")
    }
    l.unionByName(r)
      .withColumn("__asof", min("__rts").over(w))
      .filter(col("__is_left") === 1)
      .select(col("__lid").as(leftIdCol), bounded.as("asof_ts_ms"))
  }

  /** NEAREST as-of join: for each left row, the closest right-side
    * timestamp in EITHER direction within `toleranceMs` (pandas
    * merge_asof `direction='nearest'`) — ties break BACKWARD (the
    * at-or-before match wins an exact tie, matching the convention that
    * past evidence beats future evidence at equal distance). Returns
    * (leftIdCol, asof_ts_ms: nullable, direction: 'b'/'f'/NULL,
    * lag_ms: signed asof − leftTs).
    *
    * Plan: the [[asofJoin]] and [[asofJoinForward]] union-window passes
    * (each one exchange, no join against the right side), then two
    * id-keyed equi-joins to pick the winner per left row — 3 shuffles
    * total, still never a time-range theta-join. */
  def asofJoinNearest(left: DataFrame, leftIdCol: String, leftTsMsCol: String,
      leftKeyCol: String, right: DataFrame, rightTsMsCol: String,
      rightKeyCol: String, toleranceMs: Option[Long] = None): DataFrame = {
    val b = asofJoin(left, leftIdCol, leftTsMsCol, leftKeyCol,
        right, rightTsMsCol, rightKeyCol, toleranceMs)
      .withColumnRenamed("asof_ts_ms", "__b")
    val f = asofJoinForward(left, leftIdCol, leftTsMsCol, leftKeyCol,
        right, rightTsMsCol, rightKeyCol, toleranceMs)
      .withColumnRenamed("asof_ts_ms", "__f")
    val picked = left
      .select(col(leftIdCol), col(leftTsMsCol).cast("long").as("__ts"))
      .join(b, Seq(leftIdCol))
      .join(f, Seq(leftIdCol))
      .withColumn("asof_ts_ms",
        when(col("__b").isNull, col("__f"))
          .when(col("__f").isNull, col("__b"))
          // both distances are non-negative by construction; tie → backward
          .when(col("__ts") - col("__b") <= col("__f") - col("__ts"), col("__b"))
          .otherwise(col("__f")))
    picked.select(col(leftIdCol),
      col("asof_ts_ms"),
      when(col("asof_ts_ms").isNull, lit(null).cast("string"))
        .when(col("asof_ts_ms") <= col("__ts"), lit("b"))
        .otherwise(lit("f")).as("direction"),
      (col("asof_ts_ms") - col("__ts")).as("lag_ms"))
  }

  /** The quantized series the seasonal and correlation operators run
    * on: rows with a non-null value whose key passes `keep`, summed per
    * (key, `widthMs` bucket) as DECIMAL(30,10) and floored to the exact
    * integer `x = floor(sum · 1e4)` — `(g, bucket, x)`. */
  private def quantizedSeries(df: DataFrame, keyCol: String, tsMsCol: String,
      valueCol: String, widthMs: Long, keep: Column): DataFrame =
    df.filter(col(valueCol).isNotNull && keep)
      .groupBy(col(keyCol).as("g"), expr(floorDivSql(tsMsCol, widthMs)).as("bucket"))
      .agg(sum(col(valueCol).cast("decimal(30,10)")).as("sd"))
      .select(col("g"), col("bucket"),
        floor(col("sd").cast("double") * 10000).cast("decimal(38,0)").as("x"))

  /** Classical seasonal decomposition of each key's bucketed series
    * (period `period` buckets): trend = centered moving average over
    * ±period/2 buckets (full windows only — a RANGE frame, so gaps
    * disqualify honestly instead of silently shrinking the window),
    * seasonal index = mean detrended value per phase (bucket mod
    * period) — the decomposition behind "is Monday actually bigger or
    * is the series just growing?". Returns one row per (key, phase):
    * observation count and the seasonal index in value units.
    *
    * Exactness (the q_autocorr discipline): bucket sums quantize to
    * exact scaled ints; the detrended value is kept INTEGER by scaling —
    * detr = w·x − Σ_w x (never x − avg, which would go double too
    * early) — and summed exactly; ONE final double division unscales,
    * floor-4dp. Phase is pure integer math.
    *
    * Scale: one (key, bucket) map-side-combining aggregate (bucket
    * frame ∝ time range × keys, corpus-size-independent), one
    * key-partitioned range window over it, one (key, phase) aggregate. */
  def seasonalDecompose(df: DataFrame, keyCol: String, tsMsCol: String,
      valueCol: String, widthMs: Long, period: Int): DataFrame = {
    require(widthMs > 0, s"widthMs must be positive, got $widthMs")
    require(period >= 2, s"period must be ≥2, got $period")
    require(period % 2 == 0, s"period must be even (centered MA), got $period")
    import org.apache.spark.sql.expressions.Window
    val half = period / 2
    val win = period + 1 // centered: ±half inclusive
    val series = quantizedSeries(df, keyCol, tsMsCol, valueCol, widthMs,
      col(keyCol).isNotNull)
    val w = Window.partitionBy("g").orderBy(col("bucket").asc)
      .rangeBetween(-half, half)
    val detrended = series
      .withColumn("wsum", sum(col("x")).over(w))
      .withColumn("wn", count(lit(1)).over(w))
      .filter(col("wn") === win)
      .withColumn("detr", lit(win).cast("decimal(38,0)") * col("x") - col("wsum"))
    detrended
      .groupBy(col("g"), (col("bucket") % period).cast("bigint").as("phase"))
      .agg(count(lit(1)).as("n_obs"), sum(col("detr")).as("sdetr"))
      .select(col("g"), col("phase"), col("n_obs"),
        (floor(col("sdetr").cast("double") /
          (lit(win.toDouble) * col("n_obs").cast("double"))) / 10000).as("seasonal"))
  }

  /** Trailing-window EWMA smoothing per key — the exponential smoothing
    * primitive (pandas `ewm(adjust=True)` over a bounded trailing
    * window): each row's smoothed value is
    * Σ w_j·x_j / Σ w_j over its trailing `windowRows` rows (current
    * included), w_j = (1−α)^age. One hash exchange (the key window) +
    * a bounded `windowRows` collect per row + one fold — no self-join
    * banding (which would be the BNLJ trap), no sequential recurrence.
    *
    * Cross-engine float discipline: pick a DYADIC α (0.5, 0.25, 0.75 —
    * default 0.5) and every weight (1−α)^age is EXACT in binary, so
    * each term x·w is ONE correctly-rounded IEEE multiply identical on
    * any engine; terms then cross the sum as DECIMAL(30,10) (the
    * q_resample_agg pattern — accumulation-order-proof), the weight
    * total uses the closed form (1−(1−α)^m)/α (exact-input IEEE ops),
    * and the final ratio is one division. NULL values must be filtered
    * upstream (a NULL would silently shrink the window: collect_list
    * skips it but the frame still spans physical rows). Adds `ewma`
    * (unrounded double — callers floor for presentation) and `win_m`
    * (rows actually in the window, < windowRows during warmup). */
  def ewma(df: DataFrame, keyCol: String, tsMsCol: String, idCol: String,
      valueCol: String, windowRows: Int, alpha: Double = 0.5): DataFrame = {
    require(windowRows >= 1, s"windowRows must be ≥1, got $windowRows")
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCol)
      .orderBy(col(tsMsCol).asc_nulls_first, col(idCol).asc_nulls_first)
      .rowsBetween(-(windowRows - 1), Window.currentRow)
    val beta = 1.0 - alpha
    val zero = lit(0).cast("decimal(30,10)")
    val staged = df.withColumn("__vals", collect_list(col(valueCol).cast("double")).over(w))
    val m = size(col("__vals"))
    // oldest-first list: age of element j (0-based) is m−1−j
    val num = aggregate(
      transform(col("__vals"), (v, j) =>
        (v * pow(lit(beta), (m - 1 - j).cast("double"))).cast("decimal(30,10)")),
      zero, (acc, t) => (acc + t).cast("decimal(30,10)"))
    val den = (lit(1.0) - pow(lit(beta), m.cast("double"))) / alpha
    staged
      .withColumn("win_m", m.cast("long"))
      .withColumn("ewma", num.cast("double") / den)
      .drop("__vals")
  }

  /** Brown double exponential smoothing over each key's trailing
    * `windowRows`-row window: S′ = EWMA(x), S″ = EWMA(S′), then
    * level = 2S′ − S″, trend = α/(1−α)·(S′ − S″), one-step forecast =
    * level + trend — the constant-trend forecaster one notch past
    * [[ewma]]'s smoother. Staying WINDOWED (vs the textbook infinite
    * recurrence) keeps the plan two identical keyed window passes — no
    * iteration, no state, bounded per-row work — and the truncation
    * error is the same β^windowRows tail [[ewma]] already accepts.
    *
    * Float discipline (the [[ewma]] contract, applied twice): dyadic α
    * makes every weight an exact binary double; each stage's weighted
    * terms cross the window sum as DECIMAL(30,10); the normalizer
    * (1 − β^m)/α is dyadic-exact for dyadic α. Stage 2 re-weights stage
    * 1's output through the identical cast path, so an oracle replaying
    * the two banded scans reproduces the doubles bit-for-bit;
    * level/trend/forecast are fixed expressions of the two stage
    * outputs. Scale: two hash exchanges on the key (Catalyst reuses the
    * sort), window frames bounded at `windowRows`. */
  def holtBrown(df: DataFrame, keyCol: String, tsMsCol: String, idCol: String,
      valueCol: String, windowRows: Int, alpha: Double = 0.5): DataFrame = {
    val s1 = ewma(df, keyCol, tsMsCol, idCol, valueCol, windowRows, alpha)
      .withColumnRenamed("ewma", "s_prime")
      .drop("win_m")
    val s2 = ewma(s1, keyCol, tsMsCol, idCol, "s_prime", windowRows, alpha)
      .withColumnRenamed("ewma", "s_dprime")
      .withColumnRenamed("win_m", "win_m2")
    s2.withColumn("level", lit(2.0) * col("s_prime") - col("s_dprime"))
      .withColumn("trend",
        lit(alpha / (1.0 - alpha)) * (col("s_prime") - col("s_dprime")))
      .withColumn("forecast", col("level") + col("trend"))
      .drop("win_m2")
  }

  /** Fixed-width resampling with GAP FILL: per key, per-bucket aggregates
    * over the corpus-wide [min, max] bucket range, with EXPLICIT filler
    * rows for empty buckets — the step that turns a sparse event stream
    * into the dense regular series rate computation / charting / anomaly
    * windows need (a plain groupBy silently omits empty buckets).
    *
    * `aggs` are the per-bucket aggregate columns (each MUST be aliased);
    * `fills` supplies, position-for-position, the value a GAP bucket
    * reports for that aggregate — counts and sums zero-fill
    * (`lit(0L)`/`lit(0.0)`), while an average over no events is honestly
    * `lit(null)` (a zero average would invent data). Defaults preserve
    * the original counting form: (keyCol, bucket_start_ms, cnt).
    *
    * The bucket spine is keys × sequence(b0, b1) built from a 1-row
    * min/max broadcast (the sanctioned corpus-constant pattern) — spine
    * size = range/width × |keys|, independent of row count; the data
    * itself is aggregated once by (key, bucket), and Catalyst prunes the
    * untouched columns out of the range/keys branches' scans. Bucketing
    * uses true floor division (see [[intervalJoinCount]]) so pre-1970
    * timestamps land in the right bucket. */
  def resampleGapFill(df: DataFrame, tsMsCol: String, keyCol: String,
      widthMs: Long,
      aggs: Seq[Column] = Seq(count(lit(1)).as("cnt")),
      fills: Seq[Column] = Seq(lit(0L))): DataFrame = {
    require(widthMs > 0, s"widthMs must be positive, got $widthMs")
    require(aggs.nonEmpty && aggs.length == fills.length,
      s"aggs (${aggs.length}) and fills (${fills.length}) must pair up 1:1")
    def floorDiv(c: String): String = floorDivSql(c, widthMs)
    // aggs may reference arbitrary input columns, so keep the full row
    // here; the narrow branches below prune to (__k) / (__b) at the scan
    val pts = df.withColumn("__k", col(keyCol)).withColumn("__b", expr(floorDiv(tsMsCol)))
    val aggd = pts.groupBy("__k", "__b").agg(aggs.head, aggs.tail: _*)
    val aggNames = aggd.columns.drop(2)
    val range = pts.agg(min("__b").as("__b0"), max("__b").as("__b1"))
    val spine = pts.select("__k").distinct()
      .crossJoin(broadcast(range))
      .select(col("__k"), explode(expr("sequence(__b0, __b1)")).as("__b"))
    spine.join(aggd, Seq("__k", "__b"), "left")
      .select(col("__k").as(keyCol) +:
        (col("__b") * widthMs).as("bucket_start_ms") +:
        aggNames.zip(fills).map { case (n, f) =>
          coalesce(col(s"`$n`"), f).as(n)
        }: _*)
  }

  /** Scale-correct interval join: count/collect right-side events whose
    * `rightTsMs` falls in [leftTsMs, leftTsMs + windowMs). Implemented as
    * a bucketed equi-join (each left window spans ≤2 buckets of width
    * windowMs, each right point sits in 1) + exact residual filter —
    * never a BroadcastNestedLoopJoin (ARCHITECTURE.md). Returns the left
    * frame's `leftIdCol` with `match_cnt` (0 for unmatched).
    *
    * `leftIdCol` must be unique per left row — duplicate ids have their
    * counts merged by the final aggregate. Bucketing uses true FLOOR
    * division (integer `div` truncates toward zero, which mis-buckets
    * negative pre-1970 timestamps and silently drops their matches). */
  def intervalJoinCount(left: DataFrame, leftIdCol: String, leftTsMsCol: String,
      right: DataFrame, rightTsMsCol: String, windowMs: Long): DataFrame =
    intervalJoinAgg(left, leftIdCol, leftTsMsCol, right, rightTsMsCol, windowMs,
      aggs = Seq(count(lit(1)).as("match_cnt")), fills = Seq(lit(0L)))

  /** [[intervalJoinCount]] with PARAMETERIZED aggregates (the same
    * `aggs`/`fills` contract as [[resampleGapFill]]): any per-left-row
    * aggregate over the right rows landing in [leftTs, leftTs +
    * windowMs) — sums of severities, averages, maxima — not just the
    * count. `fills` supplies what an EMPTY window reports per aggregate
    * (counts 0, sums/avgs honestly NULL — matching what a correlated
    * SQL aggregate over zero rows returns). Same bucketed equi-join
    * plan; the right frame keeps its columns so aggs can reference
    * them. */
  def intervalJoinAgg(left: DataFrame, leftIdCol: String, leftTsMsCol: String,
      right: DataFrame, rightTsMsCol: String, windowMs: Long,
      aggs: Seq[Column], fills: Seq[Column]): DataFrame = {
    require(windowMs > 0, s"windowMs must be positive, got $windowMs")
    require(aggs.nonEmpty && aggs.length == fills.length,
      s"aggs (${aggs.length}) and fills (${fills.length}) must pair up 1:1")
    def floorDiv(c: String): String = floorDivSql(c, windowMs)
    val l = left.select(col(leftIdCol).as("__lid"), col(leftTsMsCol).as("__lts"))
    // the right frame keeps its columns so aggs can reference them
    // (Catalyst's column pruning drops the unused ones from the join),
    // but OUR internal names must not survive on it — a right frame
    // produced by another graft operator could otherwise silently
    // collide with __lid/__lts/__bucket/__rts. Select-with-alias (not
    // drop-then-withColumn) so even a timestamp column NAMED one of the
    // internals is handled: it becomes __rts and nothing else survives.
    // The timestamp is available to aggs as `__rts`.
    val internal = Set("__lid", "__lts", "__bucket", "__rts")
    val keep = right.columns.filter(c => c != rightTsMsCol && !internal(c))
    val r = right.select(right.col(rightTsMsCol).cast("long").as("__rts") +:
      keep.toSeq.map(right.col): _*)
    val lB = l.withColumn("__bucket",
      explode(array(expr(floorDiv("__lts")), expr(floorDiv("__lts")) + 1)))
    val rB = r.withColumn("__bucket", expr(floorDiv("__rts")))
    val aggd = lB.join(rB, "__bucket")
      .filter(col("__rts") >= col("__lts") && col("__rts") < col("__lts") + windowMs)
      .groupBy("__lid").agg(aggs.head, aggs.tail: _*)
    val aggNames = aggd.columns.drop(1)
    l.join(aggd, Seq("__lid"), "left")
      .select(col("__lid").as(leftIdCol) +:
        aggNames.zip(fills).map { case (n, f) =>
          coalesce(col(s"`$n`"), f).as(n)
        }: _*)
  }

  /** Rolling z-score anomaly detection: per key, score each point
    * against the mean/stddev of its own trailing `windowRows`-row
    * window (current row included, ordered by (ts, id) so ties are
    * deterministic) and keep only FULL windows — warmup rows where the
    * baseline is noise are not scored. Adds `win_n` and `z`.
    *
    * NULL values: `win_n` counts NON-NULL values while the trailing
    * frame spans `windowRows` PHYSICAL rows, so the full-window filter
    * drops every window that CONTAINS a NULL value — a NULL excludes
    * itself and the `windowRows − 1` windows that look back over it,
    * not just its own row (stricter than plain warmup trimming;
    * deliberate — a window with a hole has a weaker baseline than its
    * neighbors, and scoring it would mix window sizes in one series).
    *
    * One hash exchange (the key window) and pure window arithmetic — the
    * same shape as any per-key analytic at 100 TB. The trailing-frame
    * moments are computed as CUMULATIVE-sum differences (cum − lag(cum,
    * windowRows)) rather than bounded-frame sums: a bounded ROWS frame
    * makes the engine re-aggregate all `windowRows` rows per output row
    * (O(n·w) — measured 20× the cumulative form on the decimal sums),
    * while the unbounded-preceding frame updates incrementally and the
    * DECIMAL(30,10) subtraction is exact, so the rewrite returns
    * bit-identical moments at O(n). Cross-engine float discipline: value
    * and value·value (one IEEE op each) accumulate as DECIMAL(30,10) —
    * accumulation-order-proof — and mean/variance/z derive in double
    * through one fixed expression tree, so any engine replaying the
    * formula gets the same bits. Sample variance (n−1); a constant
    * window (var ≤ 0) scores z = 0 rather than NaN. */
  def rollingZscore(df: DataFrame, keyCol: String, tsMsCol: String,
      idCol: String, valueCol: String, windowRows: Int): DataFrame = {
    require(windowRows >= 2, s"windowRows must be ≥2, got $windowRows")
    import org.apache.spark.sql.expressions.Window
    val ord = Window.partitionBy(keyCol)
      .orderBy(col(tsMsCol).asc_nulls_first, col(idCol).asc_nulls_first)
    val cum = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val x = col(valueCol).cast("double")
    // pass 1: cumulative decimal moments (incremental frames); pass 2:
    // lag the cumulative COLUMNS (window functions can't nest) — same
    // partitioning/ordering, so Catalyst plans both Window nodes over
    // ONE exchange + sort
    val zero = lit(0).cast("decimal(30,10)")
    def trail(cumCol: String): Column =
      col(cumCol) - coalesce(lag(col(cumCol), windowRows).over(ord), zero)
    val staged = df
      .withColumn("__cn", sum(when(x.isNotNull, lit(1L)).otherwise(lit(0L))
        .cast("decimal(30,10)")).over(cum))
      .withColumn("__c1", sum(x.cast("decimal(30,10)")).over(cum))
      .withColumn("__c2", sum((x * x).cast("decimal(30,10)")).over(cum))
    val n = trail("__cn").cast("long")
    val s1 = trail("__c1").cast("double")
    val s2 = trail("__c2").cast("double")
    val mean = s1 / n
    val variance = (s2 - n * mean * mean) / (n - 1)
    staged
      .withColumn("win_n", n)
      .withColumn("z",
        when(variance > 0, (x - mean) / sqrt(variance)).otherwise(lit(0.0)))
      .filter(col("win_n") === windowRows)
      .drop("__cn", "__c1", "__c2")
  }

  /** Per-key CUSUM changepoint scan (Page 1954): for each key's
    * time-ordered series, the cumulative deviation from the key mean
    * `S_i = Σ_{j≤i}(x_j − x̄)` peaks at the most likely single
    * changepoint; the row of max |S_i| (ties → earliest) is reported
    * with the normalized statistic `max|S_i| / n`.
    *
    * INTEGER-exact core (the q_correlation discipline): instead of
    * dividing by n early, the scan uses the common-denominator form
    * `S'_i = n·cum_i − i·T` (so S_i = S'_i/n) over 4dp-QUANTIZED
    * cumulative sums: `cum` accumulates as DECIMAL(30,10) (order-proof),
    * quantizes via `floor(double(cum)·1e4)` (the proven cross-engine
    * cast), and S' is then pure BIGINT arithmetic — the argmax compares
    * exact integers, so the changepoint row is engine-exact; the one
    * float division happens after selection. Magnitude bound:
    * |S'| ≤ n·|cum|·1e4 must fit a long — holds for keyed series (the
    * per-key contract all window ops here share); a key with ~10⁹ rows
    * of ~10³ values would need the DECIMAL variant.
    *
    * Scale: all three window frames share ONE hash partitioning on the
    * key (one exchange, in-partition sorts); no global window, no join.
    * Output: key, `n`, `cp_idx` (1-based position), `cp_ts_ms`,
    * `cusum_stat`. */
  def cusum(df: DataFrame, keyCol: String, tsMsCol: String, idCol: String,
      valueCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(keyCol)
      .orderBy(col(tsMsCol).asc_nulls_first, col(idCol).asc_nulls_first)
    val cumF = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fullF = Window.partitionBy(keyCol)
    val x = col(valueCol).cast("decimal(30,10)")
    df.filter(col(valueCol).isNotNull && col(keyCol).isNotNull)
      .withColumn("__i", row_number().over(w).cast("long"))
      .withColumn("__q", floor(sum(x).over(cumF).cast("double") * 10000))
      .withColumn("__n", count(lit(1)).over(fullF))
      .withColumn("__qt", floor(sum(x).over(fullF).cast("double") * 10000))
      .withColumn("__a",
        abs(col("__n") * col("__q") - col("__i") * col("__qt")))
      .withColumn("__rn", row_number().over(Window.partitionBy(keyCol)
        .orderBy(col("__a").desc, col("__i").asc)))
      .filter(col("__rn") === 1)
      .select(col(keyCol), col("__n").as("n"), col("__i").as("cp_idx"),
        col(tsMsCol).cast("long").as("cp_ts_ms"),
        (floor(col("__a").cast("double") / (col("__n") * lit(10000.0)) * 10000)
          / 10000).as("cusum_stat"))
  }

  /** Cohort retention matrix: users grouped by their FIRST-activity
    * bucket (the cohort), each cohort tracked across subsequent buckets
    * — the (cohort × offset) triangle behind every retention dashboard.
    * One row per (cohort_bucket, week_offset) with active-user count,
    * cohort size, and the retention rate. Offset 0 is the cohort size
    * by construction, so rates are self-normalizing.
    *
    * Scale shape: the corpus collapses FIRST to its distinct
    * (user, bucket) frame (one map-side-combining aggregate); the
    * cohort assignment is a user-keyed min + equi-join back (both
    * partitioned by user); the matrix aggregate is
    * (cohort × offset)-cardinality — time-range², corpus-size-
    * independent — and the size join is cohort-cardinality. One
    * long/long division per output row, floor-4dp. */
  def cohortRetention(df: DataFrame, userCol: String, tsMsCol: String,
      widthMs: Long): DataFrame = {
    require(widthMs > 0, s"widthMs must be positive, got $widthMs")
    val ub = Ckpt(df
      .filter(col(userCol).isNotNull && col(tsMsCol).isNotNull)
      .select(col(userCol).as("u"),
        expr(floorDivSql(tsMsCol, widthMs)).as("b"))
      .distinct())
    val cohort = ub.groupBy("u").agg(min("b").as("c0"))
    val matrix = ub.join(cohort, "u")
      .groupBy(col("c0").as("cohort_bucket"), (col("b") - col("c0")).as("week_offset"))
      .agg(count(lit(1)).as("n_active")) // (u, b) already distinct
    val sizes = matrix.filter(col("week_offset") === 0)
      .select(col("cohort_bucket"), col("n_active").as("n_cohort"))
    matrix.join(sizes, "cohort_bucket")
      .select(col("cohort_bucket"), col("week_offset"), col("n_active"),
        col("n_cohort"),
        (floor(col("n_active").cast("double") / col("n_cohort") * 10000) / 10000)
          .as("retention"))
  }

  /** Kaplan–Meier survival curve over a (duration, event) subject frame
    * (event 1 = observed, 0 = right-censored): one row per distinct
    * duration with the at-risk count, deaths, censors, and the product-
    * limit estimate S(t) = Π_{u ≤ t} (1 − d_u/n_u) — time-to-conversion
    * / retention survival, the right way to read "how long until
    * purchase" when most subjects never convert (dropping censored
    * users biases every naive lag average).
    *
    * Scale shape — a distributed CUMULATIVE PRODUCT, executed as the
    * [[Drift.ks]] ECDF scan on the log scale: the subject frame
    * collapses to its distinct-duration (t, d, c) frame; at-risk counts
    * are an EXCLUSIVE prefix of (d + c) (bucket-partitioned windows +
    * one buckets-sized sorted-totals broadcast, never a global window);
    * the survival product is exp of an INCLUSIVE prefix of
    * ln((n−d)/n) terms run through the same bucketed scan. Bucket
    * count derives from the distinct-frame size when `buckets = 0`
    * ([[Drift.scanBuckets]]; the statistic is provably invariant to
    * bucket boundaries — they only partition the prefix scans).
    *
    * Exactness: n and d are exact longs, so each log term is ONE ln of
    * an agreed double ratio, quantized DECIMAL(30,10) before the
    * order-proof prefix sums; S is one exp per OUTPUT row of an
    * exactly-agreed decimal, floor-4dp (the logisticFit exp-then-
    * quantize precedent). A final time where everyone at risk dies
    * (n = d) takes S = 0 directly — the log term is skipped, not
    * ln(0). */
  def kaplanMeier(subjects: DataFrame, durationCol: String,
      eventCol: String, buckets: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(buckets == 0 || buckets >= 2,
      s"buckets must be ≥2 (or 0 = occupancy-derived), got $buckets")
    val frame = Ckpt(
      subjects
        .filter(col(durationCol).isNotNull && col(durationCol) >= 0 &&
          col(eventCol).isNotNull)
        .groupBy(col(durationCol).cast("long").as("t"))
        .agg(sum(col(eventCol).cast("long")).as("d"),
          sum(lit(1L) - col(eventCol).cast("long")).as("c")))
    val b = if (buckets > 0) buckets else Drift.scanBuckets(frame.count())
    val fracs = (1 until b).map(i => i.toDouble / b)
    val cuts = frame.agg(
      expr(s"approx_percentile(t, array(${fracs.mkString(", ")}), 1000)").as("cuts"))
    val bucketed = Ckpt(
      frame.crossJoin(broadcast(cuts))
        .select(col("t"), col("d"), col("c"),
          (expr("aggregate(cuts, 0, (a, q) -> a + CASE WHEN t > q THEN 1 ELSE 0 END)")
            + 1).cast("long").as("bucket")))
    // stage A: at-risk = N − exclusive-prefix(d + c), via within-bucket
    // inclusive running sums + the sorted bucket-totals broadcast
    val w = Window.partitionBy("bucket").orderBy("t")
    val btA = bucketed.groupBy("bucket").agg(sum(col("d") + col("c")).as("s"))
      .agg(sort_array(collect_list(struct(col("bucket"), col("s")))).as("bt"),
        sum(col("s")).as("n_total"))
    val atRisk = bucketed
      .withColumn("wi", sum(col("d") + col("c")).over(w))
      .crossJoin(broadcast(btA))
      .select(col("t"), col("d"), col("c"), col("bucket"),
        (col("n_total") -
          (col("wi") + expr(
            "aggregate(filter(bt, e -> e.bucket < bucket), 0L, (a, e) -> a + e.s)")
            - (col("d") + col("c")))).as("n_risk"))
    // stage B: log-survival prefix over the same bucket order; the
    // n = d terminal row contributes no term and reports S = 0 directly.
    // Terms are quantized 10dp and carried as UNSCALED LONGS (|cum| is
    // bounded by |ln(1/N)|·1e10 ≲ 10¹² — decimal columns can't ride a
    // HOF accumulator because every decimal add grows the precision)
    val term = when(col("n_risk") > col("d"),
      log((col("n_risk") - col("d")).cast("double") / col("n_risk")))
      .otherwise(lit(0.0))
    val withTerm = Ckpt(atRisk.withColumn("lt",
      round(term * 1e10).cast("long")))
    val btB = withTerm.groupBy("bucket").agg(sum(col("lt")).as("s"))
      .agg(sort_array(collect_list(struct(col("bucket"), col("s")))).as("btt"))
    withTerm
      .withColumn("wt", sum(col("lt")).over(w))
      .crossJoin(broadcast(btB))
      .withColumn("cum",
        col("wt") + expr(
          "aggregate(filter(btt, e -> e.bucket < bucket), 0L, (a, e) -> a + e.s)"))
      .select(col("t"), col("n_risk"), col("d"), col("c"),
        when(col("d") < col("n_risk"),
          floor(exp(col("cum").cast("double") / 1e10) * 10000) / 10000)
          .otherwise(lit(0.0)).as("s"))
  }

  /** Per-key autocorrelation function: Pearson correlation between the
    * resampled series and itself shifted by `1..maxLag` buckets — the
    * periodicity probe ("does traffic echo hour-over-hour?"). The series
    * is the per-(key, bucket) VALUE SUM, deliberately not the mean: a
    * sum survives exact DECIMAL accumulation with no division, so the
    * series values — and hence the whole statistic — are engine-exact.
    *
    * Exactness pipeline (the q_correlation discipline): bucket sums
    * accumulate as DECIMAL(30,10) (order-proof), quantize to integers
    * via `floor(double(sum) · 1e4)` (< 2^53, exact in double), and all
    * five correlation moments (Σx, Σy, Σxy, Σx², Σy²) are DECIMAL(38,0)
    * integer sums — so the final fixed double expression
    * `(nΣxy − ΣxΣy)/√((nΣx²−Σx²)(nΣy²−Σy²))` sees bit-identical inputs
    * in any engine. Output `acf` truncates at 4dp; a constant series
    * (zero variance) scores 0 rather than NaN.
    *
    * Scale: the corpus collapses to its (key × bucket) sum frame in one
    * hash aggregation before anything else runs; the lag shift is an
    * EQUI-join on `(key, bucket + lag)` against that frame (no window,
    * no cross product — candidate fan-out is exactly maxLag per series
    * point), and the moments reduce by (key, lag). Cost at 100 TB: one
    * map-side-combined shuffle of the raw corpus, then joins over
    * frames that are time-range-sized, corpus-size-independent. */
  def autocorr(df: DataFrame, keyCol: String, tsMsCol: String,
      valueCol: String, widthMs: Long, maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag must be ≥1, got $maxLag")
    val series = quantizedSeries(df, keyCol, tsMsCol, valueCol, widthMs,
      col(keyCol).isNotNull)
      .transform(Ckpt.apply) // two consumers: probe and build of the lag join
    val probes = series.select(col("g"), col("x"),
        explode(array((1 to maxLag).map(lit): _*)).as("lag"),
        col("bucket"))
      .withColumn("probe_bucket", col("bucket") + col("lag"))
    val build = series.select(col("g").as("g2"),
      col("bucket").as("bucket2"), col("x").as("y"))
    val pairs = probes.join(build,
      col("g") === col("g2") && col("probe_bucket") === col("bucket2"))
    pearson(pairs, Seq("g", "lag"), Seq(col("g"), col("lag").cast("bigint").as("lag")), "acf")
  }

  /** Pearson r of the aligned pairs `(x, y)` per `by`: five exact
    * DECIMAL(38,0) moment sums, then one fixed double expression,
    * floor-4dp, 0 on zero variance — selected as `keys`, `n_pairs`,
    * `name`. */
  private def pearson(pairs: DataFrame, by: Seq[String], keys: Seq[Column],
      name: String): DataFrame = {
    val moments = pairs.groupBy(by.map(col): _*).agg(
      count(lit(1)).as("n_pairs"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    val n = col("n_pairs").cast("decimal(38,0)")
    val num = (n * col("sxy") - col("sx") * col("sy")).cast("double")
    val dx = (n * col("sxx") - col("sx") * col("sx")).cast("double")
    val dy = (n * col("syy") - col("sy") * col("sy")).cast("double")
    moments.select(keys ++ Seq(col("n_pairs"),
      when(dx > 0 && dy > 0,
        floor(num / sqrt(dx * dy) * 10000) / 10000)
        .otherwise(lit(0.0)).as(name)): _*)
  }

  /** Lead-lag CROSS-correlation between two keys' resampled series —
    * "do purchases follow clicks, and by how many hours?" (the
    * observability/attribution staple; the argmax lag is the lead
    * time). Pearson r of series A at bucket t against series B at
    * t + lag, for lag ∈ [−maxLag, maxLag] (negative = B leads A;
    * lag 0 = contemporaneous). Pairs exist where BOTH buckets exist —
    * the [[autocorr]] alignment join, B as the build side.
    *
    * Exactness is the [[autocorr]] pipeline verbatim: DECIMAL(30,10)
    * bucket sums quantized to ints (`floor(sum·1e4)`), five
    * DECIMAL(38,0) moment sums — every number exact until the single
    * final double expression, floor-truncated 4dp. Degenerate overlaps
    * (constant series) score 0. Scale: one map-side-combined shuffle to
    * the bucket frame, then a bucket equi-join whose build side is one
    * key's series. */
  def crossCorr(df: DataFrame, keyCol: String, tsMsCol: String,
      valueCol: String, keyA: String, keyB: String,
      widthMs: Long, maxLag: Int): DataFrame = {
    require(maxLag >= 1, s"maxLag must be ≥1, got $maxLag")
    val series = quantizedSeries(df, keyCol, tsMsCol, valueCol, widthMs,
      col(keyCol) === keyA || col(keyCol) === keyB)
      .transform(Ckpt.apply) // two consumers: the A probe and B build side
    val probes = series.filter(col("g") === keyA)
      .select(col("x"),
        explode(array((-maxLag to maxLag).map(lit): _*)).as("lag"),
        col("bucket"))
      .withColumn("probe_bucket", col("bucket") + col("lag"))
    val build = series.filter(col("g") === keyB)
      .select(col("bucket").as("bucket2"), col("x").as("y"))
    val pairs = probes.join(build, col("probe_bucket") === col("bucket2"))
    pearson(pairs, Seq("lag"), Seq(col("lag").cast("bigint").as("lag")), "xcf")
  }

  /** Per-key OLS trend fit of the resampled value-sum series against its
    * bucket index — "is traffic growing, and how fast?" (slope per
    * bucket), plus fit quality (r²). The regressor is the bucket index
    * RE-BASED to each key's first bucket (an equi-join back on the key,
    * not a global broadcast), so moment magnitudes are series-length-
    * sized regardless of where in epoch time the data sits.
    *
    * Exactness is the [[autocorr]] pipeline: DECIMAL(30,10) bucket sums
    * quantized to ints, five DECIMAL(38,0) moment sums, then slope /
    * intercept / r² derived in ONE fixed double expression each from the
    * closed-form moment solution (intercept via the direct
    * `(Σx·Σt² − Σt·Σtx)/(nΣt² − (Σt)²)` form, NOT through the slope, so
    * no intermediate rounding compounds), floor-truncated at 4dp.
    * Output slope/intercept are in QUANTIZED units (value·1e4 per
    * bucket); callers wanting raw units divide by 1e4 — the oracle
    * mirrors the quantized form so the comparison is exact. Degenerate
    * series (one bucket, or constant regressor) score slope 0,
    * intercept = mean, r² 0.
    *
    * Scale: one map-side-combined shuffle collapses the corpus to its
    * (key × bucket) frame; the re-base is a key equi-join against the
    * key-count-sized min frame; moments reduce by key. Nothing after
    * the first aggregate is corpus-sized. */
  def linearFit(df: DataFrame, keyCol: String, tsMsCol: String,
      valueCol: String, widthMs: Long): DataFrame = {
    val series = quantizedSeries(df, keyCol, tsMsCol, valueCol, widthMs,
      col(keyCol).isNotNull)
      .transform(Ckpt.apply) // two consumers: the min frame and the fit
    val base = series.groupBy(col("g").as("g2"))
      .agg(min(col("bucket")).as("b0"))
    val fitted = series.join(base, col("g") === col("g2"))
      .select(col("g"), (col("bucket") - col("b0")).cast("decimal(38,0)").as("t"),
        col("x"))
    val m = fitted.groupBy("g").agg(
      count(lit(1)).as("n_buckets"),
      sum(col("t")).as("st"), sum(col("x")).as("sx"),
      sum(col("t") * col("x")).as("stx"),
      sum(col("t") * col("t")).as("stt"),
      sum(col("x") * col("x")).as("sxx"))
    val n = col("n_buckets").cast("decimal(38,0)")
    val den = (n * col("stt") - col("st") * col("st")).cast("double")
    val slopeNum = (n * col("stx") - col("st") * col("sx")).cast("double")
    val interNum = (col("sx") * col("stt") - col("st") * col("stx")).cast("double")
    val dx = (n * col("sxx") - col("sx") * col("sx")).cast("double")
    m.select(col("g"), col("n_buckets"),
      when(den > 0, floor(slopeNum / den * 10000) / 10000)
        .otherwise(lit(0.0)).as("slope"),
      when(den > 0, floor(interNum / den * 10000) / 10000)
        .otherwise(floor(col("sx").cast("double") / col("n_buckets") * 10000) / 10000)
        .as("intercept"),
      when(den > 0 && dx > 0,
        floor(slopeNum * slopeNum / (den * dx) * 10000) / 10000)
        .otherwise(lit(0.0)).as("r2"))
  }

  /** Per-key seasonal-naive forecast error: predict each bucket's value
    * sum as the sum `season` buckets earlier, score MAE and RMSE over
    * the buckets that have a seasonal predecessor — the sanity baseline
    * every fancier forecaster must beat, and a direct periodicity
    * strength readout (small error ⇔ strong seasonality).
    *
    * Exactness: series values are the [[autocorr]] quantized ints, so
    * each error |x−y| and squared error (x−y)² is an exact DECIMAL
    * integer; the only doubles are the final fixed expressions
    * `floor(Σ|d|/n)/1e4` and `floor(√(Σd²/n))/1e4` (the quantized sums
    * cast to double identically in any engine, then one division /
    * sqrt). The seasonal shift is the equi-join on (key, bucket+season)
    * — same shape, same scale story as [[autocorr]]'s lag join. */
  def seasonalNaiveError(df: DataFrame, keyCol: String, tsMsCol: String,
      valueCol: String, widthMs: Long, season: Int): DataFrame = {
    require(season >= 1, s"season must be ≥1, got $season")
    val series = quantizedSeries(df, keyCol, tsMsCol, valueCol, widthMs,
      col(keyCol).isNotNull)
      .transform(Ckpt.apply) // probe and build of the season join
    val fc = series.select(col("g").as("g2"),
      (col("bucket") + lit(season.toLong)).as("bucket2"), col("x").as("yhat"))
    val scored = series.join(fc,
      col("g") === col("g2") && col("bucket") === col("bucket2"))
    val d = col("x") - col("yhat")
    val m = scored.groupBy("g").agg(
      count(lit(1)).as("n_eval"),
      sum(abs(d)).as("sad"),
      sum(d * d).as("ssd"))
    m.select(col("g"), col("n_eval"),
      (floor(col("sad").cast("double") / col("n_eval")) / 10000).as("mae"),
      (floor(sqrt(col("ssd").cast("double") / col("n_eval"))) / 10000).as("rmse"))
  }

  /** SAX (Symbolic Aggregate approXimation) of each key's value series:
    * PAA over `segments` equal-count segments of the key's time-ordered
    * rows, z-normalized against the key's own mean/σ, each segment mean
    * mapped to a letter by the fixed N(0,1) quartile breakpoints
    * (−0.6745, 0, 0.6745 → a/b/c/d) — the classic shape word that turns
    * a numeric series into a string for motif mining, shape clustering,
    * and cheap similarity grouping. Keys with fewer than `minRows`
    * non-null values are dropped (a 3-row "word" is noise, not shape);
    * a zero-variance series reads 'c' everywhere by convention.
    *
    * Exactness: the key moments and each segment sum cross their
    * aggregates as DECIMAL(30,10) (order-proof); mean/σ/z derive in one
    * fixed expression tree both engines replay bit-for-bit (the
    * q_anomaly discipline), so every breakpoint comparison agrees.
    * Segment ids are pure integer math ((rn−1)·segments div n).
    *
    * Scale shape: one key-partitioned window pass (rank + unbounded
    * moments over the same exchange), one (key, segment) hash
    * aggregate, one key-level word aggregate — all keyed, no broadcast,
    * no self-join; a key's rows must fit a partition (the standing
    * keyed-window contract). */
  def sax(df: DataFrame, keyCol: String, tsMsCol: String, idCol: String,
      valueCol: String, segments: Int = 8, minRows: Int = 16): DataFrame = {
    require(segments >= 2, s"segments must be ≥2, got $segments")
    require(minRows >= segments, s"minRows ($minRows) must be ≥ segments ($segments)")
    import org.apache.spark.sql.expressions.Window
    val v = col(valueCol).cast("double")
    val wOrd = Window.partitionBy(keyCol)
      .orderBy(col(tsMsCol).asc_nulls_first, col(idCol).asc_nulls_first)
    val wAll = Window.partitionBy(keyCol)
    val ranked = df
      .filter(col(keyCol).isNotNull && v.isNotNull)
      .select(col(keyCol).as("k"), v.as("x"),
        row_number().over(wOrd).as("rn"),
        count(lit(1)).over(wAll).as("n"),
        sum(v.cast("decimal(30,10)")).over(wAll).as("s1"),
        sum((v * v).cast("decimal(30,10)")).over(wAll).as("s2"))
      .filter(col("n") >= minRows)
    val seg = ranked
      .withColumn("seg", expr(s"((rn - 1) * $segments) div n"))
      .groupBy("k", "seg")
      .agg(count(lit(1)).as("sn"),
        sum(col("x").cast("decimal(30,10)")).as("ss"),
        max("n").as("n"), max("s1").as("s1"), max("s2").as("s2"))
    val nD = col("n").cast("double")
    val mean = col("s1").cast("double") / nD
    val varE = (col("s2").cast("double") - nD * mean * mean) / (nD - lit(1.0))
    val segMean = col("ss").cast("double") / col("sn").cast("double")
    val sym = seg
      .withColumn("sd", when(varE > 0, sqrt(varE)).otherwise(lit(0.0)))
      .withColumn("z",
        when(col("sd") > 0, (segMean - mean) / col("sd")).otherwise(lit(0.0)))
      .withColumn("sym",
        when(col("sd") <= 0, lit("c"))
          .when(col("z") < -0.6745, lit("a"))
          .when(col("z") < 0.0, lit("b"))
          .when(col("z") < 0.6745, lit("c"))
          .otherwise(lit("d")))
    sym.groupBy(col("k"))
      .agg(max("n").as("n_rows"),
        array_join(
          transform(array_sort(collect_list(struct(col("seg"), col("sym")))),
            t => t.getField("sym")), "").as("sax"))
  }
}
