package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector / hashing hot paths.
  *
  * Why: Spark's higher-order functions (`aggregate`, `zip_with`,
  * `transform`) are interpreted per-element with boxed lambdas, and
  * Catalyst's projection collapse inlines a referenced column's whole
  * expression tree into EVERY reference — a 64-bit signature built from a
  * `bits` array referenced 64 times re-evaluated the entire token fold
  * 64× per row (measured: 222 s for 500 docs at sf0.1 bench). These
  * expressions compute the same values in one tight primitive loop.
  *
  * Hash-family compatibility: both hash expressions use
  * [[XxHash64Function]] — the exact implementation behind the built-in
  * `xxhash64(...)` (seed 42) — so signatures are deterministic across
  * executors, runs, and releases.
  */
object VectorExprs {

  /** dot(a, b) over float/double arrays, accumulated left-to-right with
    * per-element promotion to double — bit-identical to
    * `aggregate(zip_with(a, b, (x,y) -> CAST(x AS DOUBLE)*CAST(y AS
    * DOUBLE)), 0D, (s,x) -> s+x)` and to DuckDB's list_sum fold, which is
    * what keeps the oracle hash-compare exact.
    *
    * Length mismatch returns NULL (not a truncated dot product): a
    * silent min-length fold yields a plausible-but-wrong value, while
    * the DuckDB list_zip oracle formulation yields NULL — mismatched
    * corpora must diverge loudly, not drift. Callers that index with a
    * `dim` parameter (Similarity.annTopK/annJoin hyperplanes) must pass
    * the true embedding dimension or every signature goes null. */
  case class VectorDot(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      def ok(e: Expression) = e.dataType match {
        case ArrayType(FloatType | DoubleType, _) => true
        case _ => false
      }
      if (ok(left) && ok(right)) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"vec_dot expects two float/double arrays, got ${left.dataType} / ${right.dataType}")
    }
    private def elemType(e: Expression): DataType =
      e.dataType.asInstanceOf[ArrayType].elementType

    override def nullSafeEval(l: Any, r: Any): Any = {
      val a = l.asInstanceOf[ArrayData]; val b = r.asInstanceOf[ArrayData]
      val n = a.numElements()
      if (n != b.numElements()) return null
      val lf = elemType(left) == FloatType; val rf = elemType(right) == FloatType
      var s = 0.0; var i = 0
      while (i < n) {
        val x = if (lf) a.getFloat(i).toDouble else a.getDouble(i)
        val y = if (rf) b.getFloat(i).toDouble else b.getDouble(i)
        s += x * y
        i += 1
      }
      s
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val la = if (elemType(left) == FloatType) "getFloat" else "getDouble"
      val ra = if (elemType(right) == FloatType) "getFloat" else "getDouble"
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n"); val i = ctx.freshName("i"); val s = ctx.freshName("s")
        s"""
           |int $n = $a.numElements();
           |if ($n != $b.numElements()) {
           |  ${ev.isNull} = true;
           |} else {
           |  double $s = 0.0;
           |  for (int $i = 0; $i < $n; $i++) {
           |    $s += ((double) $a.$la($i)) * ((double) $b.$ra($i));
           |  }
           |  ${ev.value} = $s;
           |}
         """.stripMargin
      })
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** 64-bit SimHash of a token array: per-token xxhash64 (seed 42, same
    * family as the built-in), signed bit votes, sign → bit. One pass,
    * primitive arrays, no per-bit re-evaluation. */
  case class SimHash64(child: Expression) extends UnaryExpression with CodegenFallback {
    override def dataType: DataType = LongType
    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val votes = new Array[Int](64)
      var i = 0
      while (i < arr.numElements()) {
        val h = XxHash64Function.hash(arr.getUTF8String(i), StringType, 42L)
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
          j += 1
        }
        i += 1
      }
      var sig = 0L; var j = 0
      while (j < 64) { if (votes(j) >= 0) sig |= (1L << j); j += 1 }
      sig
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** MinHash signature (k=32) of a shingle array: min over shingles of
    * xxhash64 with per-function seed j. Returns array<bigint> of length
    * 32. */
  case class MinHashSig(child: Expression) extends UnaryExpression with CodegenFallback {
    private val K = 32
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val out = Array.fill(K)(Long.MaxValue)
      var i = 0
      while (i < arr.numElements()) {
        val s = arr.getUTF8String(i)
        var j = 0
        while (j < K) {
          val h = XxHash64Function.hash(s, StringType, j.toLong)
          if (h < out(j)) out(j) = h
          j += 1
        }
        i += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Deterministic ±1 hyperplane value for (plane p, dim d) — the SINGLE
    * definition shared by the native expression below and
    * [[graft.api.Similarity.hyperplanes]] (kept bit-identical so the
    * DataFrame fallback and the native path index the same buckets). */
  def planeSign(p: Int, d: Int): Double = {
    val x = (p * 1000003L + d * 7919L + 12345L) * 2654435761L
    if (((x >> 17) & 1L) == 0L) -1.0 else 1.0
  }

  /** Packed LSH band keys of an embedding under `nPlanes` deterministic
    * random hyperplanes: array<bigint> of length `bands`, each key =
    * band_id * 2^(nPlanes/bands) + sign bits. One tight primitive loop
    * per row — replaces a typedLit(planes matrix) + transform +
    * per-plane vec_dot chain whose generated code is enormous (the
    * janino compile alone dominated cold runs of the ANN join). */
  case class HyperplaneKeys(child: Expression, nPlanes: Int, bands: Int, dim: Int)
      extends UnaryExpression with CodegenFallback {
    require(nPlanes % bands == 0, "bands must divide nPlanes")
    private val w = nPlanes / bands
    // planes precomputed once per expression instance (executor-local)
    private lazy val planes: Array[Array[Double]] =
      Array.tabulate(nPlanes, dim)(planeSign)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(FloatType | DoubleType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case other =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"graft_hyperplane_keys expects a float/double array, got $other")
      }
    private lazy val isFloat =
      child.dataType.asInstanceOf[ArrayType].elementType == FloatType
    override def nullSafeEval(input: Any): Any = {
      val arr = input.asInstanceOf[ArrayData]
      val n = math.min(dim, arr.numElements())
      val sig = new Array[Boolean](nPlanes)
      var p = 0
      while (p < nPlanes) {
        val pl = planes(p)
        var s = 0.0; var i = 0
        while (i < n) {
          val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
          s += x * pl(i)
          i += 1
        }
        sig(p) = s >= 0
        p += 1
      }
      val out = new Array[Long](bands)
      var b = 0
      while (b < bands) {
        var key = b.toLong << w
        var r = 0
        while (r < w) {
          if (sig(b * w + r)) key |= (1L << r)
          r += 1
        }
        out(b) = key
        b += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** Top-`nProbe` nearest centroid indices (by cosine) for an embedding:
    * array<int> ordered best-first, ties to the smaller index. The
    * centroid matrix arrives as a FOLDABLE literal (typedLit) and is
    * decoded + norm-precomputed once per expression instance; per row
    * it's one tight dot-product loop per centroid — the IVF coarse
    * quantizer (both index assignment with nProbe=1 and multi-probe
    * lookup) without a typedLit-HOF chain in the plan. */
  case class NearestCentroids(left: Expression, right: Expression, nProbe: Int)
      extends BinaryExpression with CodegenFallback {
    override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      val embOk = left.dataType match {
        case ArrayType(FloatType | DoubleType, _) => true
        case _ => false
      }
      val ccOk = right.foldable && (right.dataType match {
        case ArrayType(ArrayType(DoubleType, _), _) => true
        case _ => false
      })
      if (embOk && ccOk) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        "graft_nearest_centroids expects (float/double array, literal array<array<double>> centroids)")
    }
    private lazy val isFloat =
      left.dataType.asInstanceOf[ArrayType].elementType == FloatType
    private lazy val centers: Array[Array[Double]] = {
      val cc = right.eval().asInstanceOf[ArrayData]
      Array.tabulate(cc.numElements()) { i =>
        cc.getArray(i).toDoubleArray()
      }
    }
    private lazy val centerNorms: Array[Double] =
      centers.map(c => math.sqrt(c.map(x => x * x).sum))
    override def nullSafeEval(emb: Any, ccIgnored: Any): Any = {
      val arr = emb.asInstanceOf[ArrayData]
      val k = centers.length
      val scores = new Array[Double](k)
      var ci = 0
      while (ci < k) {
        val c = centers(ci)
        val n = math.min(c.length, arr.numElements())
        var s = 0.0; var i = 0
        while (i < n) {
          val x = if (isFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
          s += x * c(i)
          i += 1
        }
        // ranking by dot/||c|| equals ranking by cosine (emb norm is
        // constant across centroids); NaN scores (NaN embedding values)
        // rank last instead of poisoning every comparison
        val sc = if (centerNorms(ci) == 0.0) Double.NegativeInfinity
          else s / centerNorms(ci)
        scores(ci) = if (java.lang.Double.isNaN(sc)) Double.NegativeInfinity else sc
        ci += 1
      }
      val take = math.min(nProbe, k)
      val picked = new Array[Int](take)
      val used = new Array[Boolean](k)
      var t = 0
      while (t < take) {
        var best = -1; var bestScore = Double.NegativeInfinity
        var j = 0
        while (j < k) {
          if (!used(j) && (best == -1 || scores(j) > bestScore)) {
            best = j; bestScore = scores(j)
          }
          j += 1
        }
        // best == -1 is impossible (take ≤ k guarantees an unused index,
        // and the best==-1 arm accepts -Infinity scores)
        used(best) = true
        picked(t) = best
        t += 1
      }
      new GenericArrayData(picked)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Shared base for the two PQ model-apply expressions: a FOLDABLE
    * nested-literal codebook (m × k × dsub doubles) precomputed once
    * into primitive arrays driver-side, then tight per-row loops on
    * executors (the [[NearestCentroids]] recipe — CodegenFallback, but
    * the interpreter overhead is one call per ROW, not one lambda frame
    * per element like the HOF spelling these replace). */
  sealed trait PqModelExpression extends BinaryExpression with CodegenFallback {
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      val embOk = left.dataType match {
        case ArrayType(FloatType | DoubleType, _) => true
        case _ => false
      }
      val bookOk = right.foldable && (right.dataType match {
        case ArrayType(ArrayType(ArrayType(DoubleType, _), _), _) => true
        case _ => false
      })
      if (embOk && bookOk) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"${prettyName} expects (float/double array, literal array<array<array<double>>> " +
          s"codebooks), got ${left.dataType} / ${right.dataType}")
    }
    protected lazy val isFloat =
      left.dataType.asInstanceOf[ArrayType].elementType == FloatType
    /** books(s)(c) = codeword c of subspace s, dsub doubles each. */
    protected lazy val books: Array[Array[Array[Double]]] = {
      val bb = right.eval().asInstanceOf[ArrayData]
      Array.tabulate(bb.numElements()) { s =>
        val book = bb.getArray(s)
        Array.tabulate(book.numElements())(c => book.getArray(c).toDoubleArray())
      }
    }
    protected lazy val dsub: Int = books.head.head.length
    protected lazy val dim: Int = books.length * dsub
    protected def elem(a: ArrayData, i: Int): Double =
      if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
    /** True if the vector can be coded: right dim, no NULL elements. */
    protected def usable(a: ArrayData): Boolean = {
      if (a.numElements() != dim) return false
      var i = 0
      while (i < dim) { if (a.isNullAt(i)) return false; i += 1 }
      true
    }
  }

  /** graft_pq_encode(emb, codebooks) → struct(codes array<int>, err
    * double): per subspace, the L2-nearest codeword index
    * (first-occurrence tie break = smallest index, matching the HOF
    * `array_position(dists, array_min(dists))` spelling this replaces)
    * plus the summed squared reconstruction error. One m×k×dsub loop
    * per row — this is the standing-index builder `Similarity.pqEncode`
    * runs over the FULL corpus, so per-row cost here is the dominant
    * 100 TB encode cost. NULL / wrong-dim / NULL-element vectors →
    * NULL struct (both fields null together — the whole-vector-NULL
    * quantize convention). */
  case class PqEncodeExpr(left: Expression, right: Expression) extends PqModelExpression {
    override def dataType: DataType = StructType(Seq(
      StructField("codes", ArrayType(IntegerType, containsNull = false)),
      StructField("err", DoubleType)))
    override def nullable: Boolean = true
    override def nullSafeEval(emb: Any, booksIgnored: Any): Any = {
      val a = emb.asInstanceOf[ArrayData]
      if (!usable(a)) return null
      val m = books.length
      val codes = new Array[Int](m)
      var err = 0.0
      var s = 0
      while (s < m) {
        val book = books(s); val lo = s * dsub
        var best = 0; var bestD = Double.PositiveInfinity
        var c = 0
        while (c < book.length) {
          val cw = book(c)
          var d = 0.0; var i = 0
          while (i < dsub) {
            val t = elem(a, lo + i) - cw(i)
            d += t * t
            i += 1
          }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        codes(s) = best; err += bestD
        s += 1
      }
      org.apache.spark.sql.catalyst.InternalRow(new GenericArrayData(codes), err)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** graft_adc_lut(probe, codebooks) → array<array<double>>:
    * lut[s][c] = squared L2 between the probe's s-th subvector and
    * codeword c (Jégou TPAMI'11 §IV.A) — m·k·dsub flops ONCE per probe
    * row, after which every candidate costs m lookups via
    * [[AdcDistance]]. NULL / wrong-dim / NULL-element probes → NULL. */
  case class AdcLutExpr(left: Expression, right: Expression) extends PqModelExpression {
    override def dataType: DataType = ArrayType(
      ArrayType(DoubleType, containsNull = false), containsNull = false)
    override def nullable: Boolean = true
    override def nullSafeEval(emb: Any, booksIgnored: Any): Any = {
      val a = emb.asInstanceOf[ArrayData]
      if (!usable(a)) return null
      val m = books.length
      val lut = new Array[Any](m)
      var s = 0
      while (s < m) {
        val book = books(s); val lo = s * dsub
        val row = new Array[Double](book.length)
        var c = 0
        while (c < book.length) {
          val cw = book(c)
          var d = 0.0; var i = 0
          while (i < dsub) {
            val t = elem(a, lo + i) - cw(i)
            d += t * t
            i += 1
          }
          row(c) = d
          c += 1
        }
        lut(s) = new GenericArrayData(row)
        s += 1
      }
      new GenericArrayData(lut)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** adc(lut, codes) = Σ_s lut[s][codes[s]] — the PQ asymmetric-distance
    * accumulation (Jégou et al., TPAMI 2011 §IV.A) as ONE codegen'd
    * loop. This is the hot stage of `Similarity.ivfPqJoin`: one eval
    * per cell-join collision, so it must stay inside whole-stage
    * codegen (the HOF spelling `aggregate(zip_with(lut, codes,
    * element_at))` allocates a lambda frame per element per row).
    * Shape mismatch (|codes| ≠ |lut|), a NULL element, or an
    * out-of-range code yields NULL — a candidate scored against the
    * wrong model must diverge loudly, not drift (the vec_dot
    * length-mismatch contract). */
  case class AdcDistance(left: Expression, right: Expression) extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      val lutOk = left.dataType match {
        case ArrayType(ArrayType(DoubleType, _), _) => true
        case _ => false
      }
      val codesOk = right.dataType match {
        case ArrayType(IntegerType, _) => true
        case _ => false
      }
      if (lutOk && codesOk) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_adc expects (array<array<double>> lut, array<int> codes), " +
          s"got ${left.dataType} / ${right.dataType}")
    }

    override def nullSafeEval(l: Any, r: Any): Any = {
      val lut = l.asInstanceOf[ArrayData]; val codes = r.asInstanceOf[ArrayData]
      val m = lut.numElements()
      if (codes.numElements() != m) return null
      var s = 0.0; var i = 0
      while (i < m) {
        if (codes.isNullAt(i) || lut.isNullAt(i)) return null
        val c = codes.getInt(i)
        val row = lut.getArray(i)
        if (c < 0 || c >= row.numElements() || row.isNullAt(c)) return null
        s += row.getDouble(c)
        i += 1
      }
      s
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val m = ctx.freshName("m"); val i = ctx.freshName("i")
        val s = ctx.freshName("s"); val c = ctx.freshName("c")
        val row = ctx.freshName("row")
        s"""
           |int $m = $a.numElements();
           |if ($b.numElements() != $m) {
           |  ${ev.isNull} = true;
           |} else {
           |  double $s = 0.0;
           |  for (int $i = 0; $i < $m; $i++) {
           |    if ($b.isNullAt($i) || $a.isNullAt($i)) { ${ev.isNull} = true; break; }
           |    int $c = $b.getInt($i);
           |    org.apache.spark.sql.catalyst.util.ArrayData $row = $a.getArray($i);
           |    if ($c < 0 || $c >= $row.numElements() || $row.isNullAt($c)) {
           |      ${ev.isNull} = true; break;
           |    }
           |    $s += $row.getDouble($c);
           |  }
           |  if (!${ev.isNull}) ${ev.value} = $s;
           |}
         """.stripMargin
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** Arity-checked expression builders (a wrong-arity SQL call must fail
    * analysis with a clear message, not IndexOutOfBoundsException). */
  def buildVecDot(es: Seq[Expression]): Expression = {
    require(es.length == 2, s"vec_dot expects 2 arguments, got ${es.length}")
    VectorDot(es(0), es(1))
  }
  def buildSimHash(es: Seq[Expression]): Expression = {
    require(es.length == 1, s"graft_simhash expects 1 argument, got ${es.length}")
    SimHash64(es.head)
  }
  def buildAdc(es: Seq[Expression]): Expression = {
    require(es.length == 2, s"graft_adc expects (lut, codes), got ${es.length} args")
    AdcDistance(es(0), es(1))
  }
  def buildPqEncode(es: Seq[Expression]): Expression = {
    require(es.length == 2, s"graft_pq_encode expects (emb, codebooks), got ${es.length} args")
    PqEncodeExpr(es(0), es(1))
  }
  def buildAdcLut(es: Seq[Expression]): Expression = {
    require(es.length == 2, s"graft_adc_lut expects (emb, codebooks), got ${es.length} args")
    AdcLutExpr(es(0), es(1))
  }
  def buildMinHash(es: Seq[Expression]): Expression = {
    require(es.length == 1, s"graft_minhash expects 1 argument, got ${es.length}")
    MinHashSig(es.head)
  }
  def buildNearestCentroids(es: Seq[Expression]): Expression = {
    require(es.length == 3,
      s"graft_nearest_centroids expects (emb, centroids, nProbe), got ${es.length} args")
    require(es(2).foldable, "graft_nearest_centroids: nProbe must be a literal")
    NearestCentroids(es.head, es(1), es(2).eval().asInstanceOf[Number].intValue())
  }
  /** Spark's native Bloom-probe expression (the one runtime filtering
    * injects) is not in the public function registry — surface it as a
    * graft function. Args: (serialized-bloom LITERAL binary, xxhash64
    * long of the probed value). Codegen'd, null-safe, no UDF. */
  def buildMightContain(es: Seq[Expression]): Expression = {
    require(es.length == 2, s"graft_might_contain expects (bloomBytes, hash), got ${es.length}")
    org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(es.head, es(1))
  }
  def buildHyperplaneKeys(es: Seq[Expression]): Expression = {
    require(es.length == 4,
      s"graft_hyperplane_keys expects (emb, nPlanes, bands, dim), got ${es.length} args")
    def asInt(e: Expression, name: String): Int = {
      require(e.foldable, s"graft_hyperplane_keys: $name must be a literal")
      e.eval().asInstanceOf[Number].intValue()
    }
    HyperplaneKeys(es.head, asInt(es(1), "nPlanes"), asInt(es(2), "bands"),
      asInt(es(3), "dim"))
  }

  /** Every graft SQL function — (name, implementing expression class,
    * builder) — the one list [[register]] and [[graft.GraftExtensions]]
    * both loop over. */
  val functions: Seq[(String, Class[_ <: Expression], Seq[Expression] => Expression)] = Seq(
    ("vec_dot", classOf[VectorDot], buildVecDot),
    ("graft_simhash", classOf[SimHash64], buildSimHash),
    ("graft_minhash", classOf[MinHashSig], buildMinHash),
    ("graft_hyperplane_keys", classOf[HyperplaneKeys], buildHyperplaneKeys),
    ("graft_nearest_centroids", classOf[NearestCentroids], buildNearestCentroids),
    ("graft_adc", classOf[AdcDistance], buildAdc),
    ("graft_pq_encode", classOf[PqEncodeExpr], buildPqEncode),
    ("graft_adc_lut", classOf[AdcLutExpr], buildAdcLut),
    ("graft_might_contain",
      classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain],
      buildMightContain),
    ("graft_jaro_winkler", classOf[TextExprs.JaroWinkler], TextExprs.buildJaroWinkler),
    ("graft_cms_estimates", classOf[SketchExprs.CmsEstimates], SketchExprs.buildCmsEstimates),
    ("graft_dd_quantiles", classOf[SketchExprs.DdQuantiles], SketchExprs.buildDdQuantiles),
    ("graft_kmv_overlap", classOf[SketchExprs.KmvOverlapExpr], SketchExprs.buildKmvOverlap))

  /** Idempotently register every graft function on a session so
    * `expr("...")` and SQL can call them. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    for ((name, _, build) <- functions) reg.createOrReplaceTempFunction(name, build, "internal")
  }
}
