package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One declared engine query: name, Spark implementation, and (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle SQL over
  * the same parquet tables. Queries without an oracle are covered by
  * unit/property tests instead (SURVEY.md §5.2).
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

/** Table loaders for the driver-generated parquet fixtures (TESTDATA.md).
  *
  * `events.ts` has appeared in two physical forms across fixture
  * generations: INT64 TIMESTAMP(NANOS) (rounds 1-5; Spark's reader rejects
  * it unless `spark.sql.legacy.parquet.nanosAsLong` reads it as a raw
  * nanos long) and TIMESTAMP(MICROS, isAdjustedToUTC=false) (round 6+;
  * Spark reads TimestampNTZType). The loader detects which one it got and
  * normalizes to a single downstream contract:
  *   - `ts`     epoch NANOSECONDS (long)    — what every operator consumes
  *   - `ts_ms`  epoch milliseconds (long)   — cheap, codegen-friendly key
  *   - `ts_t`   TimestampType (micros, UTC) — for window()/session_window()
  * Truncation nanos→micros→millis is floor-composable, so bucket math on
  * any of the three representations agrees with DuckDB's `epoch_ms(ts)`.
  * The NTZ→timestamp cast interprets the wall clock in the session zone;
  * every graft entry point pins `spark.sql.session.timeZone=UTC`, matching
  * DuckDB's UTC-naive reading of the same column.
  */
/** Driver-process hygiene shared by Verify/Bench: iterative
  * operators localCheckpoint intermediate frames, whose blocks stay
  * pinned in the block manager for the JVM's life; a driver running the
  * whole registered query suite in one session must drop them between
  * (independent) queries or late queries inflate under GC pressure
  * (measured 65→91 s bench drift before this). */
object Hygiene {
  def dropLeakedBlocks(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
}

/** Scan-parallelism guard (optimization guide §2.5 "input skew — one
  * huge unsplittable file"): the fixture parquet files are single
  * row-group, so every scan is ONE input partition and all map-side
  * work before the first exchange — per-row codec loops, theta-join
  * scoring, LSH/IVF candidate fan-out against a broadcast side — runs
  * on one core while the rest of the cluster idles.
  *
  * [[Par.spread]] repartitions such a frame up to the cluster's default
  * parallelism, hash-keyed when a key is given (deterministic, no
  * sort-before-repartition cost). It is CONDITIONAL — a no-op whenever
  * the source already carries ≥ default parallelism — so at real scale
  * (many-row-group scans, post-shuffle frames) it inserts nothing;
  * it only widens genuinely serialized inputs. Never a constant tuned
  * for local mode: the width is the session's own defaultParallelism.
  */
object Par {
  def spread(df: DataFrame, by: Column*): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= p) df
    else if (by.isEmpty) df.repartition(p)
    else df.repartition(p, by: _*)
  }

  /** Scale-ADAPTIVE shuffle width for an iterative operator's per-round
    * frames (guide §2.1/§2.2: size partitions toward the 100 MB-1 GB
    * band, derived from the input, never a constant): `rows` is a row
    * count the operator already holds (its convergence checksum), and
    * the result targets ~64 MB per partition at 16 bytes per row (an
    * edge of two longs). A test-scale pair graph (thousands of edges)
    * runs its O(log n) contraction rounds on 1 task instead of
    * spark.sql.shuffle.partitions tasks — the per-round scheduling
    * overhead, not the data, dominates there — while a 100 TB pair
    * graph derives proportionally many partitions with no local-mode
    * constant anywhere. The width is a ceiling division in rows, so no
    * row count overflows it. */
  def adaptiveParts(rows: Long): Int = {
    val rowsPerPart = (64L << 20) / 16
    val parts = rows / rowsPerPart + (if (rows % rowsPerPart > 0) 1 else 0)
    math.max(1L, math.min(parts, 1L << 20)).toInt
  }
}

object Tables {
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def events(spark: SparkSession, dir: String): DataFrame = {
    // The nanos flag has no per-read option (ParquetOptions carries only
    // rebase/compression/mergeSchema) and a DataFrameReader option is NOT
    // consulted by schema inference — verified empirically. It is only
    // needed WHILE the schema is inferred (read.parquet is eager about
    // the footer): execution against the already-resolved relation works
    // with the conf restored. Set-infer-restore keeps a shared session's
    // config unchanged after this loader returns (vs the previous
    // permanent spark.conf.set, which silently reconfigured callers).
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    val raw =
      try table(spark, dir, "events")
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    val normalized = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => // nanos-long fixture
        raw
          .withColumn("ts_ms", expr("ts div 1000000"))
          .withColumn("ts_t", timestamp_micros(expr("ts div 1000")))
      case _ => // TIMESTAMP(MICROS) fixture (NTZ or LTZ)
        raw
          .withColumn("ts_t", col("ts").cast(org.apache.spark.sql.types.TimestampType))
          .withColumn("ts", unix_micros(col("ts_t")) * lit(1000L))
          .withColumn("ts_ms", expr("ts div 1000000"))
    }
    // Shared final projection: the contract is order-stable as well as
    // type-stable (fixture order with ts normalized in place, then ts_ms,
    // ts_t) — without it the branches would emit different column orders
    // and positional consumers (select("*") writes, by-position compares)
    // would silently diverge across fixture generations.
    normalized.select((raw.columns ++ Seq("ts_ms", "ts_t")).map(col): _*)
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")
}
