package graft

import org.apache.spark.sql.functions._

/** Pins for the r13/r14 parallelism primitives: [[Par.spread]]'s
  * conditionality (the §2.5 fix must be a NO-OP on already-parallel
  * inputs — a spread that always repartitions would be a local-mode
  * constant, the thing the optimization rounds forbid) and
  * [[Par.adaptiveParts]]'s derivation (scale-adaptive shuffle width for
  * the iterative operators' per-round exchanges), plus the star-step
  * width plumbing: an explicit width must change neither the rows nor
  * the 2-hash-exchange plan shape PlanAuditSpec pins.
  */
class ParSpec extends SparkTestBase {
  import spark.implicits._

  test("Par.spread: no-op at >= defaultParallelism, repartitions below") {
    val p = spark.sparkContext.defaultParallelism
    val wide = spark.range(0, 1000).repartition(p + 1).toDF("id")
    // SAME frame back — not merely same partition count: no exchange added
    assert(Par.spread(wide, col("id")) eq wide)
    val narrow = spark.range(0, 1000).coalesce(1).toDF("id")
    assert(Par.spread(narrow, col("id")).rdd.getNumPartitions == p)
    // keyless form round-robins to the same width
    assert(Par.spread(narrow).rdd.getNumPartitions == p)
  }

  test("Par.adaptiveParts: ~64 MB-targeted width, floor 1, derived not constant") {
    assert(Par.adaptiveParts(0) == 1)
    assert(Par.adaptiveParts(5000) == 1) // test-scale pair graph: 1 task
    assert(Par.adaptiveParts(4L * 1024 * 1024) == 1) // 64 MB at 16 B/row
    assert(Par.adaptiveParts(4L * 1024 * 1024 + 1) == 2)
    assert(Par.adaptiveParts(40L * 1000 * 1000) == 10)
    assert(Par.adaptiveParts(1L << 40) > 100000) // grows with scale, uncapped till 2^20
    assert(Par.adaptiveParts(Long.MaxValue / 32) == (1 << 20)) // hard ceiling
    // rows × 16 B would overflow a Long here: the width must still hit the ceiling
    assert(Par.adaptiveParts(Long.MaxValue / 16 + 1) == (1 << 20))
    assert(Par.adaptiveParts(Long.MaxValue) == (1 << 20))
  }

  test("star steps: explicit width changes neither rows nor the 2-exchange shape") {
    val edges = (1L to 60L).map(i => (i % 13 + 100, i % 7 + 100))
      .toDF("u", "v").filter(col("u") =!= col("v")).localCheckpoint()
    for (step <- Seq[(org.apache.spark.sql.DataFrame, Int) => org.apache.spark.sql.DataFrame](
        (e, n) => graft.api.TextDedup.largeStarStep(e, n),
        (e, n) => graft.api.TextDedup.smallStarStep(e, n))) {
      // the width starLabels would derive (1 at this size) vs a pinned 2
      val derived = step(edges, Par.adaptiveParts(edges.count())).orderBy("u", "v").collect().toSeq
      val pinned = step(edges, 2)
      assert(pinned.orderBy("u", "v").collect().toSeq == derived)
      val plan = pinned.queryExecution.executedPlan.toString
      val hashEx = "Exchange hashpartitioning".r.findAllIn(plan).size
      assert(hashEx == 2, s"expected 2 hash exchanges with explicit width, got $hashEx\n" + plan)
      // and the explicit width actually took: both exchanges at 2 partitions
      assert("hashpartitioning\\([^)]*, 2\\)".r.findAllIn(plan).size == 2, plan)
    }
    Hygiene.dropLeakedBlocks(spark)
  }
}
