package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.api.Sketches
import graft.api.Sketches.{DDSketch, KMVSketch}

/** Native Catalyst expressions for the sketch FINALIZERS — the last
  * Scala UDFs in the library, replaced so no operator path crosses the
  * UDF boxing/encoder boundary (the r8 VERDICT's remaining nit). Each
  * runs on SKETCH-frame rows (day / group cardinality — kilobytes,
  * never raw corpus rows), so this is hygiene, not a hot-path win:
  * CodegenFallback `eval`s calling the same kernels
  * ([[Sketches.cmsIdx]], [[Sketches.ddQuery]], [[Sketches.kmvOverlap]])
  * the property specs pin against whole-data recomputation.
  *
  * Static parameters (depth/width, probe list, α, quantile list) arrive
  * as literal children evaluated once; a NULL sketch input yields NULL
  * (the UDF forms' behavior, made explicit). Registered with every
  * other graft function by [[VectorExprs.register]].
  */
object SketchExprs {

  /** `graft_cms_estimates(counts, total, depth, width, probes)` →
    * array<bigint>: min-over-rows CMS point estimates for each probe
    * key. Empty counts (a merge of nothing) estimate 0 for every probe;
    * any other shape mismatch fails loudly (wrong depth/width caller). */
  case class CmsEstimates(counts: Expression, total: Expression,
      depth: Expression, width: Expression, probes: Expression)
      extends Expression with CodegenFallback {
    override def children: Seq[Expression] =
      Seq(counts, total, depth, width, probes)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true
    private lazy val d: Int = depth.eval().asInstanceOf[Int]
    private lazy val w: Int = width.eval().asInstanceOf[Int]
    private lazy val ps: Array[String] = probes.eval().asInstanceOf[ArrayData]
      .toArray[UTF8String](StringType).map(_.toString)
    override def eval(input: InternalRow): Any = {
      val c = counts.eval(input)
      if (c == null) return null
      val cells = c.asInstanceOf[ArrayData].toLongArray()
      if (cells.isEmpty) return new GenericArrayData(ps.map(_ => 0L))
      require(cells.length == d * w,
        s"CMS shape mismatch: sketch has ${cells.length} cells, " +
          s"probe expects depth*width = ${d * w}")
      val out = new Array[Long](ps.length)
      var p = 0
      while (p < ps.length) {
        var best = Long.MaxValue
        var i = 0
        while (i < d) {
          val v = cells(i * w + Sketches.cmsIdx(ps(p), i, w))
          if (v < best) best = v
          i += 1
        }
        out(p) = best
        p += 1
      }
      new GenericArrayData(out)
    }
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(counts = newChildren(0), total = newChildren(1),
        depth = newChildren(2), width = newChildren(3), probes = newChildren(4))
  }

  /** `graft_dd_quantiles(pos, neg, zero, cnt, alpha, qs)` →
    * array<double> (element-nullable): DDSketch quantile estimates; an
    * empty sketch answers NULL per quantile (the [[Sketches.ddQuery]]
    * Option). */
  case class DdQuantiles(pos: Expression, neg: Expression, zero: Expression,
      cnt: Expression, alpha: Expression, qs: Expression)
      extends Expression with CodegenFallback {
    override def children: Seq[Expression] = Seq(pos, neg, zero, cnt, alpha, qs)
    override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
    override def nullable: Boolean = true
    private lazy val a: Double = alpha.eval().asInstanceOf[Double]
    private lazy val quantiles: Array[Double] =
      qs.eval().asInstanceOf[ArrayData].toDoubleArray()
    private def toMap(v: Any): Map[Int, Long] = {
      val md = v.asInstanceOf[MapData]
      val ks = md.keyArray().toIntArray()
      val vs = md.valueArray().toLongArray()
      ks.zip(vs).toMap
    }
    override def eval(input: InternalRow): Any = {
      val p = pos.eval(input); val n = neg.eval(input)
      val z = zero.eval(input); val c = cnt.eval(input)
      if (p == null || n == null || z == null || c == null) return null
      val sk = DDSketch(toMap(p), toMap(n),
        z.asInstanceOf[Long], c.asInstanceOf[Long])
      new GenericArrayData(quantiles.map(q =>
        Sketches.ddQuery(sk, a, q).map(Double.box).orNull))
    }
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(pos = newChildren(0), neg = newChildren(1), zero = newChildren(2),
        cnt = newChildren(3), alpha = newChildren(4), qs = newChildren(5))
  }

  /** `graft_kmv_overlap(vals_a, k_a, vals_b, k_b)` →
    * struct(est_a, est_b, est_shared, jaccard): theta-style
    * distinct/intersection estimates for a KMV sketch pair. */
  case class KmvOverlapExpr(valsA: Expression, kA: Expression,
      valsB: Expression, kB: Expression)
      extends Expression with CodegenFallback {
    override def children: Seq[Expression] = Seq(valsA, kA, valsB, kB)
    override def dataType: DataType = StructType(Seq(
      StructField("est_a", DoubleType, nullable = false),
      StructField("est_b", DoubleType, nullable = false),
      StructField("est_shared", DoubleType, nullable = false),
      StructField("jaccard", DoubleType, nullable = false)))
    override def nullable: Boolean = true
    override def eval(input: InternalRow): Any = {
      val va = valsA.eval(input); val ka = kA.eval(input)
      val vb = valsB.eval(input); val kb = kB.eval(input)
      if (va == null || ka == null || vb == null || kb == null) return null
      val ska = KMVSketch(va.asInstanceOf[ArrayData].toLongArray().toSeq,
        ka.asInstanceOf[Int])
      val skb = KMVSketch(vb.asInstanceOf[ArrayData].toLongArray().toSeq,
        kb.asInstanceOf[Int])
      val (shared, jac) = Sketches.kmvOverlap(ska, skb)
      new GenericInternalRow(Array[Any](
        Sketches.kmvDistinct(ska), Sketches.kmvDistinct(skb), shared, jac))
    }
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(valsA = newChildren(0), kA = newChildren(1),
        valsB = newChildren(2), kB = newChildren(3))
  }

  def buildCmsEstimates(es: Seq[Expression]): Expression = {
    require(es.length == 5, s"graft_cms_estimates expects 5 arguments, got ${es.length}")
    CmsEstimates(es(0), es(1), es(2), es(3), es(4))
  }
  def buildDdQuantiles(es: Seq[Expression]): Expression = {
    require(es.length == 6, s"graft_dd_quantiles expects 6 arguments, got ${es.length}")
    DdQuantiles(es(0), es(1), es(2), es(3), es(4), es(5))
  }
  def buildKmvOverlap(es: Seq[Expression]): Expression = {
    require(es.length == 4, s"graft_kmv_overlap expects 4 arguments, got ${es.length}")
    KmvOverlapExpr(es(0), es(1), es(2), es(3))
  }
}
