package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft entry point builds its SparkSession: `Bench`,
  * `Verify` and the dev tools all run in local mode at
  * `SPARK_GRAFT_CPUS` cores (default 4), one shuffle partition per core,
  * the UTC session zone `Tables.events` relies on, no UI, WARN logs. */
object Session {
  def local(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
