package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Closed loop, one client: runs the query list in order, one query at a
  * time, pass after pass. Each query run is split into the three layers
  * a user's call crosses:
  *   - build: `SparkEntry.queries(name)(spark, dir)` until the DataFrame
  *     returns (graft.api operators run their iterative jobs and
  *     checkpoints here);
  *   - plan: `queryExecution.executedPlan` (Catalyst + the initial AQE plan);
  *   - exec: `collect()`, the terminal action every query shares.
  * Pass 0 is the untimed warm-up. A query's first result is its
  * reference, which every later run must reproduce exactly and which the
  * oracle check reads from `<out>/results/<query>`. */
final class QueryLoop(spark: SparkSession, dir: String, queries: Seq[String],
    trace: Trace) {
  private val sc = spark.sparkContext
  private val reference = mutable.LinkedHashMap[String, (Array[Row], StructType)]()

  /** One row of the run log; times in seconds. */
  final case class QueryRun(pass: Int, query: String, build_s: Double, plan_s: Double,
      exec_s: Double, wall_s: Double, rows: Int, persisted_rdds: Int, ok: Boolean,
      error: String)

  private def phase[T](name: String, parent: Long, group: String)(body: => T): (T, Double) =
    trace.timed(name, parent, group) { id =>
      sc.setLocalProperty(Counters.TagKey, s"$group/$name")
      sc.setLocalProperty(Counters.SpanKey, id.toString)
      body
    }

  /** Builds, plans and runs one query; checks its rows against the
    * query's first result. */
  private def execute(pass: Int, name: String, passSpan: Long): QueryRun = {
    val group = s"$pass/$name"
    val fn = graft.SparkEntry.queries(name)
    var (b, p, e, rows, ok, err) = (0.0, 0.0, 0.0, 0, true, "")
    val (_, wall) = trace.timed("query", passSpan, group) { qid =>
      try {
        val (df, bs) = phase("build", qid, group)(fn(spark, dir))
        b = bs
        p = phase("plan", qid, group)(df.queryExecution.executedPlan)._2
        val (out, es) = phase("exec", qid, group)(df.collect())
        e = es
        rows = out.length
        val (ref, _) = reference.synchronized(reference.getOrElseUpdate(name, (out, df.schema)))
        if (!ref.sameElements(out)) {
          ok = false
          err = s"pass $pass result differs from the first (${out.length} vs ${ref.length} rows)"
        }
      } catch {
        case NonFatal(ex) =>
          ok = false
          err = s"${ex.getClass.getSimpleName}: ${Option(ex.getMessage).getOrElse("")}".take(300)
      }
    }
    sc.setLocalProperty(Counters.TagKey, null)
    sc.setLocalProperty(Counters.SpanKey, null)
    QueryRun(pass, name, b, p, e, wall, rows, 0, ok, err)
  }

  /** One timed pass: the queries in order, one at a time. */
  def pass(n: Int): (Seq[QueryRun], Double) = trace.timed("pass", 0L, s"$n") { id =>
    queries.map { name =>
      val run = execute(n, name, id)
      // checkpointed frames an operator left pinned at query end, before
      // the same sweep graft.Bench runs between queries
      val persisted = sc.getPersistentRDDs.size
      graft.Hygiene.dropLeakedBlocks(spark)
      run.copy(persisted_rdds = persisted)
    }
  }

  /** Untimed warm-up (pass 0): every query once, up to `threads` at a
    * time, so their one-time JIT and code-generation costs overlap, then
    * one sequential pass: on 4 cores the first sequential pass still runs
    * about a third slower than the fourth. */
  def warmUp(threads: Int): Seq[QueryRun] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    val concurrent =
      try queries.map { q =>
        pool.submit(new java.util.concurrent.Callable[QueryRun] { def call() = execute(0, q, 0L) })
      }.map(_.get)
      finally {
        pool.shutdown()
        graft.Hygiene.dropLeakedBlocks(spark)
      }
    concurrent ++ pass(0)._1
  }

  /** Writes every reference result as one parquet file per query. Runs
    * after the timed region. */
  def dumpResults(outDir: String): Unit = reference.foreach { case (name, (rows, schema)) =>
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
  }
}
