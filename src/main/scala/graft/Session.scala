package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft entry point builds its SparkSession: `Bench`,
  * `Verify` and the dev tools all run in local mode at
  * `SPARK_GRAFT_CPUS` cores (default 4), one shuffle partition per core,
  * the UTC session zone `Tables.events` relies on, no UI, WARN logs. */
object Session {
  /** Spark's generated-code cache is keyed by (context class loader,
    * source) and holds 100 entries by default. Driver-side and task-side
    * compiles run under different loaders, so each codegen stage takes
    * two entries; at 100, Bench's heavy queries evict each other's
    * classes between the untimed warm-up and the timed runs, and every
    * timed run re-pays Janino. Sized above the 2 549 distinct compiles of
    * one whole Bench pass (sf0.1, local[4]); a static conf, so not a
    * per-session knob. */
  private[graft] val codegenCacheEntries = 4000

  private[graft] def settings(cpus: String): Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> codegenCacheEntries.toString)

  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config(settings(cpus))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
