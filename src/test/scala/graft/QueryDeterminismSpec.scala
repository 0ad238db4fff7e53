package graft

/** Every registered query must be fully deterministic — the driver's
  * correctness gate hash-compares row-for-row, so any nondeterminism
  * (unstable ordering, partition-dependent float association, time/
  * random dependence) is an instant failure. Running each query twice and
  * comparing collected results catches the whole class.
  */
class QueryDeterminismSpec extends SparkTestBase {
  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"deterministic: $name") {
      val a = fn(spark, sfDir).collect().toSeq
      val b = fn(spark, sfDir).collect().toSeq
      assert(a == b, s"$name returned different results across two runs")
      // ~180 query executions share this session — drop leaked
      // checkpoint blocks like every other multi-query driver
      Hygiene.dropLeakedBlocks(spark)
    }
  }

  test("oracleSql keys ⊆ queries keys") {
    val qk = SparkEntry.queries.keySet
    val ok = SparkEntry.oracleSql.keySet
    assert(ok.subsetOf(qk), s"oracle without query: ${ok -- qk}")
  }
}
