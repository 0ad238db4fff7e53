package graft.api

import scala.collection.mutable
import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf
import org.apache.spark.sql.{functions => F}

/** Sketch aggregations beyond Spark's built-ins (HLL, t-digest approx
  * percentile are covered by `approx_count_distinct` /
  * `percentile_approx`). This adds the Misra-Gries / space-saving
  * heavy-hitters summary as a typed [[Aggregator]]: top-k frequent items
  * in one pass with k counters per partition, mergeable across
  * partitions — the 100 TB alternative to a full groupBy+sort when only
  * the head of the frequency distribution matters.
  *
  * Guarantee (k counters, n items): every item with true count > n/k is
  * in the summary, and each reported count overestimates the true count
  * by at most the eviction floor. Counts are exact when distinct items
  * ≤ k (no evictions).
  */
object Sketches {

  /** Space-saving buffer: item → (count, maxError). */
  type SSBuf = mutable.HashMap[String, (Long, Long)]

  class SpaceSaving(k: Int) extends Aggregator[String, SSBuf, Seq[(String, Long)]] {
    override def zero: SSBuf = mutable.HashMap.empty

    override def reduce(b: SSBuf, x: String): SSBuf = {
      b.get(x) match {
        case Some((c, e)) => b.update(x, (c + 1, e))
        case None if b.size < k => b.update(x, (1L, 0L))
        case None =>
          // evict the minimum-count entry (deterministic: smallest key
          // among minima) and inherit its count as the error floor
          val (mk, (mc, _)) = b.minBy { case (key, (c, _)) => (c, key) }
          b.remove(mk)
          b.update(x, (mc + 1, mc))
      }
      b
    }

    override def merge(a: SSBuf, b: SSBuf): SSBuf = {
      // Standard space-saving merge (Agarwal et al., "Mergeable
      // Summaries"): an item absent from a full buffer may have been
      // evicted there with a count up to that buffer's minimum — charge
      // that floor so merged counts still OVERestimate true counts (the
      // documented guarantee). Without it, eviction-absorbed mass is lost
      // and a genuine heavy hitter can be truncated below a locally
      // overcounted item.
      def floor(buf: SSBuf): Long =
        if (buf.size >= k) buf.valuesIterator.map(_._1).min else 0L
      val fa = floor(a); val fb = floor(b)
      val merged = mutable.HashMap.empty[String, (Long, Long)]
      (a.keysIterator ++ b.keysIterator).foreach { key =>
        if (!merged.contains(key)) {
          val (ca, ea) = a.getOrElse(key, (fa, fa))
          val (cb, eb) = b.getOrElse(key, (fb, fb))
          merged.update(key, (ca + cb, ea + eb))
        }
      }
      // shrink back to k counters, keeping the largest (deterministic
      // tiebreak by key)
      val keep =
        if (merged.size > k)
          merged.toSeq.sortBy { case (key, (c, _)) => (-c, key) }.take(k)
        else merged.toSeq
      a.clear(); keep.foreach { case (key, v) => a.update(key, v) }
      a
    }

    override def finish(b: SSBuf): Seq[(String, Long)] =
      b.toSeq.map { case (key, (c, _)) => (key, c) }
        .sortBy { case (key, c) => (-c, key) }

    override def bufferEncoder: Encoder[SSBuf] = Encoders.kryo[SSBuf]
    override def outputEncoder: Encoder[Seq[(String, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** Column form: `heavyHitters(16)(col("token"))` → array<struct<_1,_2>>
    * of (item, approx_count) by count desc. */
  def heavyHitters(k: Int): Column => Column = {
    val fn = udaf(new SpaceSaving(k))
    (c: Column) => fn(c)
  }

  /** A DDSketch-style mergeable quantile sketch (Masson, Rim & Lee,
    * "DDSketch: a fast and fully-mergeable quantile sketch with
    * relative-error guarantees", VLDB 2019): sparse log-scale bucket
    * counts over |x| with base γ = (1+α)/(1−α), a separate exact-zero
    * count, and a mirrored store for negatives. Bucket midpoints are
    * within relative error α of every value in the bucket, so any
    * quantile estimate is within α·|true value|.
    *
    * Why THIS sketch for the persisted-rollup pattern (vs GK/KLL/
    * t-digest): merging is a per-bucket counter SUM — commutative,
    * associative, loss-free — so (a) merged-sketch == sketch-of-union
    * EXACTLY, any grouping, and (b) results cannot depend on Spark's
    * partition/shuffle arrival order, which is what the determinism
    * gate requires and what rank-based sketches (whose merge is
    * order-sensitive) cannot promise.
    *
    * Bucket count is bounded by O(log(valueRange)/α) observed buckets
    * (sparse maps; ±~75k indexes at α=0.01 across the full double
    * range, in practice a few hundred). NaN/±Inf inputs are skipped
    * (not indexable); SQL NULLs must be filtered upstream (a typed
    * aggregator would silently coerce them to 0.0). */
  final case class DDSketch(pos: Map[Int, Long], neg: Map[Int, Long],
      zero: Long, cnt: Long)

  private def ddGamma(alpha: Double): Double = (1 + alpha) / (1 - alpha)

  private def ddIndex(v: Double, lnGamma: Double): Int =
    math.ceil(math.log(v) / lnGamma).toInt

  private def ddAdd(m: Map[Int, Long], i: Int, c: Long): Map[Int, Long] =
    m.updated(i, m.getOrElse(i, 0L) + c)

  private def ddMergeMaps(a: Map[Int, Long], b: Map[Int, Long]): Map[Int, Long] =
    b.foldLeft(a) { case (acc, (i, c)) => ddAdd(acc, i, c) }

  private val ddEmpty = DDSketch(Map.empty, Map.empty, 0L, 0L)

  class DDSketchAgg(alpha: Double)
      extends Aggregator[java.lang.Double, DDSketch, DDSketch] {
    require(alpha > 0 && alpha < 1, s"alpha must be in (0,1), got $alpha")
    private val lnGamma = math.log(ddGamma(alpha))
    def zero: DDSketch = ddEmpty
    def reduce(b: DDSketch, a: java.lang.Double): DDSketch =
      if (a == null || a.isNaN || a.isInfinite) b
      else {
        val v = a.doubleValue()
        if (v == 0.0) b.copy(zero = b.zero + 1, cnt = b.cnt + 1)
        else if (v > 0) b.copy(pos = ddAdd(b.pos, ddIndex(v, lnGamma), 1L), cnt = b.cnt + 1)
        else b.copy(neg = ddAdd(b.neg, ddIndex(-v, lnGamma), 1L), cnt = b.cnt + 1)
      }
    def merge(a: DDSketch, b: DDSketch): DDSketch =
      DDSketch(ddMergeMaps(a.pos, b.pos), ddMergeMaps(a.neg, b.neg),
        a.zero + b.zero, a.cnt + b.cnt)
    def finish(b: DDSketch): DDSketch = b
    def bufferEncoder: Encoder[DDSketch] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    def outputEncoder: Encoder[DDSketch] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  class DDMergeAgg extends Aggregator[DDSketch, DDSketch, DDSketch] {
    def zero: DDSketch = ddEmpty
    def reduce(b: DDSketch, a: DDSketch): DDSketch = merge(b, a)
    def merge(a: DDSketch, b: DDSketch): DDSketch =
      if (a == null) b else if (b == null) a
      else DDSketch(ddMergeMaps(a.pos, b.pos), ddMergeMaps(a.neg, b.neg),
        a.zero + b.zero, a.cnt + b.cnt)
    def finish(b: DDSketch): DDSketch = b
    def bufferEncoder: Encoder[DDSketch] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    def outputEncoder: Encoder[DDSketch] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** COUNT-MIN sketch (Cormode & Muthukrishnan, J. Algorithms 2005):
    * `depth` hash rows × `width` counters; add = +1 at one cell per row,
    * estimate(x) = min over rows — always ≥ the true count, and ≤ true
    * + (e/width)·N with probability 1 − e^−depth. The per-item-count
    * member of the persisted-sketch-rollup family (HLL = distincts,
    * DDSketch = quantiles, CMS = frequencies): per-day sketches compose
    * to any date range by per-cell counter SUM — commutative,
    * associative, loss-free — so merged-sketch == sketch-of-union
    * EXACTLY and no result can depend on partition arrival order.
    * Hashes are MurmurHash3(string, seed = row index): pure, fixed —
    * replayable across JVMs. NULL inputs are skipped (count them
    * upstream; a null category is profile territory). */
  final case class CMSketch(counts: Array[Long], total: Long)

  private[graft] def cmsIdx(x: String, row: Int, width: Int): Int =
    math.floorMod(scala.util.hashing.MurmurHash3.stringHash(x, row), width)

  class CmsAgg(depth: Int, width: Int)
      extends Aggregator[String, CMSketch, CMSketch] {
    require(depth > 0 && width > 0, s"need positive depth/width, got ($depth, $width)")
    def zero: CMSketch = CMSketch(new Array[Long](depth * width), 0L)
    def reduce(b: CMSketch, x: String): CMSketch =
      if (x == null) b
      else {
        var i = 0
        while (i < depth) {
          b.counts(i * width + cmsIdx(x, i, width)) += 1
          i += 1
        }
        CMSketch(b.counts, b.total + 1)
      }
    def merge(a: CMSketch, b: CMSketch): CMSketch = {
      var i = 0
      while (i < a.counts.length) { a.counts(i) += b.counts(i); i += 1 }
      CMSketch(a.counts, a.total + b.total)
    }
    def finish(b: CMSketch): CMSketch = b
    def bufferEncoder: Encoder[CMSketch] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    def outputEncoder: Encoder[CMSketch] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  class CmsMergeAgg extends Aggregator[CMSketch, CMSketch, CMSketch] {
    def zero: CMSketch = CMSketch(Array.emptyLongArray, 0L)
    private def add(a: CMSketch, b: CMSketch): CMSketch =
      if (a == null || a.counts.isEmpty) b
      else if (b == null || b.counts.isEmpty) a
      else {
        require(a.counts.length == b.counts.length,
          s"CMS shape mismatch: ${a.counts.length} vs ${b.counts.length}")
        var i = 0
        while (i < a.counts.length) { a.counts(i) += b.counts(i); i += 1 }
        CMSketch(a.counts, a.total + b.total)
      }
    def reduce(b: CMSketch, a: CMSketch): CMSketch = add(b, a)
    def merge(a: CMSketch, b: CMSketch): CMSketch = add(a, b)
    def finish(b: CMSketch): CMSketch = b
    def bufferEncoder: Encoder[CMSketch] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    def outputEncoder: Encoder[CMSketch] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** Column forms. `cmsSketch(5, 1024)(col("key"))` aggregates string
    * keys into a sketch struct; `cmsMerge()(col("sk"))` rolls sketch
    * rows up; `cmsEstimates(5, 1024, probes)(col("sk"))` evaluates the
    * probe keys → array<bigint> (row-level, for GROUP-sized frames). */
  def cmsSketch(depth: Int, width: Int): Column => Column = {
    val fn = udaf(new CmsAgg(depth, width), Encoders.STRING)
    (c: Column) => fn(c)
  }

  def cmsMerge(): Column => Column = {
    val fn = udaf(new CmsMergeAgg,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[CMSketch]())
    (c: Column) => fn(c.getField("counts"), c.getField("total"))
  }

  def cmsEstimates(depth: Int, width: Int, probes: Seq[String]): Column => Column =
    // the native finalizer (graft.functions.SketchExprs.CmsEstimates —
    // empty-sketch→zeros and the shape require live there); callers'
    // sessions must have VectorExprs.register'd (every registered query
    // body does)
    (c: Column) => F.call_function("graft_cms_estimates",
      c.getField("counts"), c.getField("total"),
      F.lit(depth), F.lit(width), F.array(probes.map(F.lit): _*))

  /** Quantile estimates from a [[DDSketch]]: the value at 0-based rank
    * floor(q·(cnt−1)) — negatives walked most-negative-first, then
    * zeros, then positives — estimated as the bucket midpoint
    * 2γ^i/(γ+1) (within α·|x| of the true value). Pure and
    * deterministic; empty sketch → null. */
  def ddQuery(sk: DDSketch, alpha: Double, q: Double): Option[Double] = {
    // out-of-range q would walk past the cumulative counts and fall
    // into the fallback (which .max-throws on an empty positive store);
    // fail loudly at the API boundary instead (mirrors DDSketchAgg's
    // alpha require)
    require(q >= 0 && q <= 1, s"quantile must be in [0,1], got $q")
    if (sk == null || sk.cnt == 0L) return None
    val gamma = ddGamma(alpha)
    def mid(i: Int): Double = 2.0 * math.pow(gamma, i) / (gamma + 1)
    val rank0 = math.floor(q * (sk.cnt - 1)).toLong
    var cum = 0L
    for (i <- sk.neg.keys.toSeq.sorted(Ordering[Int].reverse)) {
      cum += sk.neg(i)
      if (cum > rank0) return Some(-mid(i))
    }
    cum += sk.zero
    if (cum > rank0) return Some(0.0)
    for (i <- sk.pos.keys.toSeq.sorted) {
      cum += sk.pos(i)
      if (cum > rank0) return Some(mid(i))
    }
    // numerically unreachable (cum ends at cnt > rank0); cover anyway
    Some(mid(sk.pos.keys.max))
  }

  /** Column forms. `ddSketch(0.01)(col("value"))` aggregates raw
    * doubles into a sketch struct; `ddMerge()(col("sk"))` rolls sketch
    * rows up; `ddQuantiles(0.01, Seq(0.5, 0.9))(col("sk"))` evaluates
    * quantiles → array<double> (row-level, meant for GROUP-sized frames
    * — days, strata — never raw corpus rows). */
  def ddSketch(alpha: Double): Column => Column = {
    val fn = udaf(new DDSketchAgg(alpha), Encoders.DOUBLE)
    (c: Column) => fn(c)
  }

  def ddMerge(): Column => Column = {
    val fn = udaf(new DDMergeAgg,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[DDSketch]())
    // the typed input encoder flattens the case class: pass its fields
    (c: Column) => fn(c.getField("pos"), c.getField("neg"), c.getField("zero"), c.getField("cnt"))
  }

  def ddQuantiles(alpha: Double, qs: Seq[Double]): Column => Column =
    // the native finalizer (graft.functions.SketchExprs.DdQuantiles;
    // empty sketch → NULL per quantile, the ddQuery Option)
    (c: Column) => F.call_function("graft_dd_quantiles",
      c.getField("pos"), c.getField("neg"), c.getField("zero"), c.getField("cnt"),
      F.lit(alpha), F.array(qs.map(F.lit): _*))

  // ---- KMV (theta) distinct/intersection sketch ---------------------------

  /** K-Minimum-Values ("theta") sketch (Beyer et al., "On synopses for
    * distinct-value estimation under multiset operations", SIGMOD 2007;
    * the DataSketches theta family): the k smallest DISTINCT 63-bit
    * hash values seen, sorted ascending. This is the set-OPERATION
    * member of the persisted-sketch-rollup family — HLL estimates
    * distincts but cannot intersect two summaries; KMV supports
    * distinct, UNION (merge = k smallest of the union of samples:
    * commutative, associative, loss-free → merged ≡ sketch-of-union
    * field-EXACT, the family's determinism contract), and
    * INTERSECTION / Jaccard between independently-built sketches — the
    * corpus-overlap question ("how much does source A share with B")
    * answered from kilobyte summaries without co-shuffling raw grams.
    *
    * Estimators: distinct = (k−1)/θ where θ = k-th minimum normalized
    * to (0,1]; EXACT (= sample size) while the sketch is not yet full.
    * Intersection (theta style): cut both samples at θ = min(θ_a, θ_b),
    * |∩ below θ| / θ — exact when both sketches are un-full. Relative
    * error ~ 1/√(k−2) per estimate. Hash collisions conflate items
    * (identical across engines and runs — deterministic, like every
    * graft hash decision); NULL inputs are skipped. */
  final case class KMVSketch(vals: Seq[Long], k: Int)

  private val TWO63 = math.pow(2.0, 63) // hash values are 63-bit non-negative

  class KmvAgg(k: Int) extends Aggregator[java.lang.Long, mutable.HashSet[Long], KMVSketch] {
    require(k >= 16, s"k must be ≥ 16 for usable error bounds, got $k")
    // buffer = a hash set trimmed back to the k smallest whenever it
    // grows past 8k (amortized O(1)/row; trimming to the k smallest can
    // never discard a value that belongs in the final k smallest, so
    // the result is independent of when trims happen — and therefore of
    // partition/arrival order)
    private def trim(b: mutable.HashSet[Long]): mutable.HashSet[Long] = {
      if (b.size > k) {
        val arr = b.toArray
        java.util.Arrays.sort(arr)
        b.clear()
        var i = 0
        while (i < k) { b.add(arr(i)); i += 1 }
      }
      b
    }
    def zero: mutable.HashSet[Long] = mutable.HashSet.empty
    def reduce(b: mutable.HashSet[Long], x: java.lang.Long): mutable.HashSet[Long] = {
      if (x != null) {
        b.add(x.longValue() & Long.MaxValue) // 63-bit non-negative
        if (b.size > 8 * k) trim(b)
      }
      b
    }
    def merge(a: mutable.HashSet[Long], b: mutable.HashSet[Long]): mutable.HashSet[Long] = {
      b.foreach(a.add)
      trim(a)
    }
    def finish(b: mutable.HashSet[Long]): KMVSketch = {
      val arr = b.toArray
      java.util.Arrays.sort(arr)
      KMVSketch(arr.take(k).toSeq, k)
    }
    def bufferEncoder: Encoder[mutable.HashSet[Long]] = Encoders.kryo[mutable.HashSet[Long]]
    def outputEncoder: Encoder[KMVSketch] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** Roll persisted [[KMVSketch]] rows up (the q_hll_rollup shape for
    * theta sketches): union semantics, loss-free, order-free. A
    * mismatched k is a caller error (the CMS shape-mismatch contract);
    * the zero (k = 0) adopts the first real sketch's k. */
  class KmvMergeAgg extends Aggregator[KMVSketch, KMVSketch, KMVSketch] {
    def zero: KMVSketch = KMVSketch(Nil, 0)
    private def add(a: KMVSketch, b: KMVSketch): KMVSketch =
      if (a == null || a.k == 0) b
      else if (b == null || b.k == 0) a
      else {
        require(a.k == b.k, s"KMV k mismatch: ${a.k} vs ${b.k}")
        KMVSketch((a.vals ++ b.vals).distinct.sorted.take(a.k), a.k)
      }
    def reduce(b: KMVSketch, a: KMVSketch): KMVSketch = add(b, a)
    def merge(a: KMVSketch, b: KMVSketch): KMVSketch = add(a, b)
    def finish(b: KMVSketch): KMVSketch = b
    def bufferEncoder: Encoder[KMVSketch] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
    def outputEncoder: Encoder[KMVSketch] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder()
  }

  /** Distinct-count estimate. Exact (= sample size) while un-full. */
  def kmvDistinct(sk: KMVSketch): Double =
    if (sk == null || sk.k == 0 || sk.vals.isEmpty) 0.0
    else if (sk.vals.size < sk.k) sk.vals.size.toDouble
    else if (sk.vals.last == 0L) sk.vals.size.toDouble // degenerate: all-zero hashes
    else (sk.k - 1).toDouble * TWO63 / sk.vals.last

  /** Theta-style intersection between two sketches built with the same
    * hash: (shared-distinct estimate, Jaccard estimate). The sample of
    * a FULL sketch is its k−1 values strictly below θ = the k-th
    * minimum; an un-full sketch's sample is everything (θ = 2^63).
    * Both samples cut at min(θ_a, θ_b) so they are uniform samples of
    * the SAME region of hash space — the property that makes |∩|/θ
    * unbiased. Exact when both sketches are un-full. */
  def kmvOverlap(a: KMVSketch, b: KMVSketch): (Double, Double) = {
    if (a == null || b == null || a.vals.isEmpty || b.vals.isEmpty) return (0.0, 0.0)
    def theta(sk: KMVSketch): Long =
      if (sk.vals.size < sk.k) Long.MaxValue else sk.vals.last
    val th = math.min(theta(a), theta(b))
    val sa = a.vals.iterator.filter(v => v < th || th == Long.MaxValue).toSet
    val sb = b.vals.iterator.filter(v => v < th || th == Long.MaxValue).toSet
    val inter = (sa & sb).size
    val uni = (sa | sb).size
    val scale = if (th == Long.MaxValue) 1.0 else TWO63 / th
    val estShared = inter * scale
    val jac = if (uni == 0) 0.0 else inter.toDouble / uni
    (estShared, jac)
  }

  /** Column forms. `kmvSketch(256)(xxhash64(col("g")))` aggregates
    * PRE-HASHED long keys into a sketch struct; `kmvMerge()(col("sk"))`
    * rolls sketch rows up; `kmvOverlapCols(...)` evaluates a sketch
    * PAIR → struct(est_a, est_b, est_shared, jaccard) — row-level, for
    * GROUP-sized sketch frames (source pairs), never raw corpus rows. */
  def kmvSketch(k: Int): Column => Column = {
    val fn = udaf(new KmvAgg(k), Encoders.LONG.asInstanceOf[Encoder[java.lang.Long]])
    (c: Column) => fn(c)
  }

  def kmvMerge(): Column => Column = {
    val fn = udaf(new KmvMergeAgg,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[KMVSketch]())
    (c: Column) => fn(c.getField("vals"), c.getField("k"))
  }

  def kmvOverlapCols(a: Column, b: Column): Column =
    // the native finalizer (graft.functions.SketchExprs.KmvOverlapExpr
    // — its struct type already carries the field names, so the old
    // UDF's cast is gone with the UDF)
    F.call_function("graft_kmv_overlap",
      a.getField("vals"), a.getField("k"), b.getField("vals"), b.getField("k"))
}
