package graft.streaming

import graft.{SparkTestBase, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming-semantics tests (SURVEY.md §5.2-3/4): the time-window queries
  * computed in batch must equal the same aggregation computed by replaying
  * the events table through a stream, and watermarks must drop late data
  * per Spark's contract.
  */
class StreamingSemanticsSpec extends SparkTestBase {
  import spark.implicits._

  private case class Ev(event_id: Long, ts_us: Long, user_id: Long, value: Double)

  private def eventRows(): Seq[(Long, Long, Long, Double)] =
    Tables.events(spark, sfDir)
      .select(col("event_id"), expr("ts div 1000").as("ts_us"), col("user_id"), col("value"))
      .as[(Long, Long, Long, Double)].collect().toSeq

  test("batch tumbling window ≡ streaming replay of events") {
    val rows = eventRows()
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, Double)]
    val q = mem.toDF()
      .toDF("event_id", "ts_us", "user_id", "value")
      .withColumn("ts_t", timestamp_micros(col("ts_us")))
      .groupBy(window(col("ts_t"), "5 minutes"))
      .agg(count(lit(1)).as("cnt"),
        (floor(sum(col("value").cast("decimal(30,10)")).cast("double") * 10000) / 10000.0).as("sum_value"))
      .select(unix_millis(col("window.start")).as("win_start_ms"), col("cnt"), col("sum_value"))
      .writeStream.format("memory").queryName("s_tumble").outputMode("complete")
      .start()
    try {
      // replay in three chunks (out of order within the stream is fine for
      // complete-mode aggregation)
      rows.grouped(400).foreach { chunk => mem.addData(chunk); q.processAllAvailable() }
    } finally q.stop()
    val streaming = spark.table("s_tumble").orderBy("win_start_ms").collect().toSeq
    val batch = graft.SparkEntry.queries("q_window_tumbling")(spark, sfDir).collect().toSeq
    assert(streaming == batch)
  }

  test("watermark drops late rows (append mode, 10 min watermark)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long)] // (event_id, ts_us)
    val base = 1704067200000000L // 2024-01-01 00:00:00 UTC in micros
    val q = mem.toDF().toDF("event_id", "ts_us")
      .withColumn("ts_t", timestamp_micros(col("ts_us")))
      .withWatermark("ts_t", "10 minutes")
      .groupBy(window(col("ts_t"), "5 minutes"))
      .agg(count(lit(1)).as("cnt"))
      .select(unix_millis(col("window.start")).as("win_start_ms"), col("cnt"))
      .writeStream.format("memory").queryName("s_late").outputMode("append")
      .start()
    try {
      mem.addData((1L, base)) // window [00:00, 00:05)
      q.processAllAvailable()
      // advance event time far past watermark: max_ts - 10min > 00:05 closes w0
      mem.addData((2L, base + 30L * 60 * 1000000))
      q.processAllAvailable()
      // late row for the already-closed [00:00,00:05) window → dropped
      mem.addData((3L, base + 1000000L))
      q.processAllAvailable()
      // one more advance to flush anything appendable
      mem.addData((4L, base + 60L * 60 * 1000000))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("s_late").collect()
      .map(r => (r.getAs[Long]("win_start_ms"), r.getAs[Long]("cnt"))).toMap
    // the closed first window must count only the on-time row
    assert(out(1704067200000L) == 1L, s"late row leaked into closed window: $out")
  }

  test("streaming session windows merge per gap on replayed events") {
    val rows = eventRows()
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, Double)]
    val q = mem.toDF().toDF("event_id", "ts_us", "user_id", "value")
      .withColumn("ts_t", timestamp_micros(col("ts_us")))
      .groupBy(session_window(col("ts_t"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("cnt"),
        (floor(sum(col("value").cast("decimal(30,10)")).cast("double") * 10000) / 10000.0).as("sum_value"))
      .select(col("user_id"), unix_millis(col("session_window.start")).as("session_start_ms"),
        col("cnt"), col("sum_value"))
      .writeStream.format("memory").queryName("s_session").outputMode("complete")
      .start()
    try {
      mem.addData(rows)
      q.processAllAvailable()
    } finally q.stop()
    val streaming = spark.table("s_session").orderBy("user_id", "session_start_ms").collect().toSeq
    val batch = graft.SparkEntry.queries("q_session_window")(spark, sfDir).collect().toSeq
    assert(streaming == batch)
  }

  test("streaming exact dedup (dropDuplicates) over replayed documents ≡ batch distinct") {
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sfDir).select("text").as[String].collect().toSeq
    val mem = MemoryStream[String]
    val q = mem.toDF().toDF("text")
      .dropDuplicates("text")
      .writeStream.format("memory").queryName("s_dedup").outputMode("append")
      .start()
    try {
      // replay twice: duplicates across batches must be suppressed by state
      mem.addData(docs); q.processAllAvailable()
      mem.addData(docs.take(100)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("s_dedup").count()
    val batch = Tables.documents(spark, sfDir).select("text").distinct().count()
    assert(streamed == batch)
  }

  test("stateful streaming dedup (flatMapGroupsWithState): cross-batch state and canonical ids") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Long)] // (fp, id, tsMs)
    val docs = mem.toDF().toDF("fp", "id", "tsMs").as[StatefulOps.FpDoc]
    val q = StatefulOps.streamingDedup(docs)
      .writeStream.format("memory").queryName("s_fpdedup").outputMode("append")
      .start()
    try {
      mem.addData(("a", 5L, 1000L), ("a", 3L, 1001L), ("b", 7L, 1002L))
      q.processAllAvailable()
      mem.addData(("a", 9L, 2000L), ("c", 1L, 2001L))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("s_fpdedup")
      .collect().map(r => (r.getAs[String]("fp"), r.getAs[Long]("canonical_id"),
        r.getAs[Boolean]("is_new"), r.getAs[Long]("batch_docs"), r.getAs[Long]("total_docs")))
      .toSet
    assert(out == Set(
      ("a", 3L, true, 2L, 2L), // batch 1: min id 3 is canonical, 2 docs
      ("b", 7L, true, 1L, 1L),
      ("a", 3L, false, 1L, 3L), // batch 2: state remembered canonical + count
      ("c", 1L, true, 1L, 1L)), out.toString)
  }

  test("stateful streaming dedup: state survives restart from checkpoint; down-time rows replay") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Long)]
    val docs = mem.toDF().toDF("fp", "id", "tsMs").as[StatefulOps.FpDoc]
    val cp = java.nio.file.Files.createTempDirectory("dedup-cp-").toString
    val out = java.nio.file.Files.createTempDirectory("dedup-out-").resolve("p").toString
    // file sink (commit-log exactly-once, recoverable) — the memory sink
    // can't resume from a checkpoint
    def start() = StatefulOps.streamingDedup(docs)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", cp).outputMode("append").start()
    val q1 = start()
    try {
      mem.addData(("a", 5L, 1000L), ("b", 7L, 1001L))
      q1.processAllAvailable()
    } finally q1.stop()
    // rows arriving while the query is DOWN must replay on restart
    mem.addData(("a", 9L, 2000L), ("c", 1L, 2001L))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val got = spark.read.parquet(out)
      .collect().map(r => (r.getAs[String]("fp"), r.getAs[Long]("canonical_id"),
        r.getAs[Boolean]("is_new"), r.getAs[Long]("total_docs"))).toSet
    // canonical id 5 and the running count CONTINUE across the restart —
    // the state store recovered, it didn't restart from zero
    assert(got == Set(
      ("a", 5L, true, 1L), ("b", 7L, true, 1L),
      ("a", 5L, false, 2L), ("c", 1L, true, 1L)), got.toString)
  }

  test("stateful streaming dedup: event-time TTL expires state past the watermark") {
    implicit val sqlCtx = spark.sqlContext
    val base = 1704067200000L // 2024-01-01 00:00:00 UTC millis
    val mem = MemoryStream[(String, Long, Long)]
    // the watermarked column must SURVIVE into the stateful operator's
    // child plan — as[FpDoc] binds only the three FpDoc fields but keeps
    // ts_t (and its watermark) in the underlying frame
    val docs = mem.toDF().toDF("fp", "id", "tsMs")
      .withColumn("ts_t", timestamp_millis(col("tsMs")))
      .withWatermark("ts_t", "1 minute")
      .as[StatefulOps.FpDoc]
    val q = StatefulOps.streamingDedup(docs, ttlMs = 10L * 60 * 1000)
      .writeStream.format("memory").queryName("s_fpttl").outputMode("append")
      .start()
    try {
      mem.addData(("x", 10L, base)) // x state: timeout at base+10min
      q.processAllAvailable()
      // advance watermark far past the TTL (wm = base+2h-1min)
      mem.addData(("y", 20L, base + 2L * 60 * 60 * 1000))
      q.processAllAvailable()
      // x recurs AFTER its state expired → treated as first-seen again
      mem.addData(("x", 30L, base + 3L * 60 * 60 * 1000))
      q.processAllAvailable()
    } finally q.stop()
    val xRows = spark.table("s_fpttl").collect()
      .filter(_.getAs[String]("fp") == "x")
      .map(r => (r.getAs[Long]("canonical_id"), r.getAs[Boolean]("is_new"), r.getAs[Long]("total_docs")))
      .toSeq.sortBy(_._1)
    assert(xRows == Seq((10L, true, 1L), (30L, true, 1L)), xRows.toString)
  }

  test("streaming heavy hitters: finals on watermark, cross-batch counts, capped state, late rows dropped") {
    implicit val sqlCtx = spark.sqlContext
    val base = 1704067200000L // window width 1 min
    val W = 60000L
    val mem = MemoryStream[(Long, String)] // (tsMs, term)
    val rows = mem.toDF().toDF("tsMs", "term")
      .withColumn("ts_t", timestamp_millis(col("tsMs")))
      .withWatermark("ts_t", "1 second")
      .withColumn("windowStartMs", col("tsMs") - pmod(col("tsMs"), lit(W)))
      .as[StatefulOps.TermRow]
    val q = StatefulOps.streamingHeavyHitters(rows, windowMs = W, k = 2, capacity = 3)
      .writeStream.format("memory").queryName("s_hh").outputMode("append")
      .start()
    try {
      // window 0 accumulates ACROSS two batches: aa×3, bb×2, cc×1
      mem.addData((base + 1, "aa"), (base + 2, "bb"), (base + 3, "aa"))
      q.processAllAvailable()
      mem.addData((base + 4, "bb"), (base + 5, "aa"), (base + 6, "cc"))
      q.processAllAvailable()
      assert(spark.table("s_hh").count() == 0, "window still open — nothing may emit")
      // capacity 3 with 4 distinct terms: dd evicts the min (cc, count 1)
      // and inherits its count as the error floor → (2, err 1)
      mem.addData((base + 7, "dd"))
      q.processAllAvailable()
      // advance the watermark past window 0's end → finals fire
      mem.addData((base + W + 30000, "zz"))
      q.processAllAvailable()
      // a LATE row for closed window 0 must not re-open or double-emit
      mem.addData((base + 8, "aa"))
      q.processAllAvailable()
      mem.addData((base + 3 * W, "yy"))
      q.processAllAvailable()
    } finally q.stop()
    val w0 = spark.table("s_hh").collect()
      .filter(_.getAs[Long]("window_start_ms") == base)
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("est_count"), r.getAs[Long]("max_err")))
      .toSeq.sortBy(_._1)
    // top-2 of window 0: aa exact 3, then dd overestimated 2 (err 1 —
    // the space-saving eviction guarantee, same rule as the batch
    // aggregator); bb (true 2, exact) ties dd on count and loses the
    // term tiebreak? No: dd's (2, err) vs bb's (2, 0) — count ties break
    // by term, "bb" < "dd", so bb is the second hitter
    assert(w0 == Seq(("aa", 3L), ("bb", 2L)).map(t => (t._1, t._2, 0L)), w0.toString)
  }

  test("streaming heavy hitters: open-window sketch AND its event-time timer survive restart") {
    implicit val sqlCtx = spark.sqlContext
    val base = 1704067200000L
    val W = 60000L
    val mem = MemoryStream[(Long, String)]
    val rows = mem.toDF().toDF("tsMs", "term")
      .withColumn("ts_t", timestamp_millis(col("tsMs")))
      .withWatermark("ts_t", "1 second")
      .withColumn("windowStartMs", col("tsMs") - pmod(col("tsMs"), lit(W)))
      .as[StatefulOps.TermRow]
    val cp = java.nio.file.Files.createTempDirectory("hh-cp-").toString
    val out = java.nio.file.Files.createTempDirectory("hh-out-").resolve("p").toString
    def start() = StatefulOps.streamingHeavyHitters(rows, windowMs = W, k = 2, capacity = 3)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", cp).outputMode("append").start()
    val q1 = start()
    try {
      mem.addData((base + 1, "aa"), (base + 2, "aa"), (base + 3, "bb"))
      q1.processAllAvailable() // window 0 still open — sketch + timer in state
    } finally q1.stop()
    // rows for the SAME open window arrive during the outage
    mem.addData((base + 4, "bb"), (base + 5, "bb"))
    val q2 = start()
    try {
      q2.processAllAvailable()
      // watermark passes window end AFTER the restart — the recovered
      // EventTimeTimeout timer (not a fresh one) must fire the finals
      mem.addData((base + W + 30000, "zz")); q2.processAllAvailable()
      mem.addData((base + 2 * W + 30000, "zz")); q2.processAllAvailable()
    } finally q2.stop()
    val w0 = spark.read.parquet(out).collect()
      .filter(_.getAs[Long]("window_start_ms") == base)
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("est_count")))
      .toSeq.sortBy(_._1)
    // bb 1-before + 2-after = 3, aa 2-before: counts CONTINUED across the
    // restart (a from-zero sketch would report bb 2, aa absent)
    assert(w0 == Seq(("aa", 2L), ("bb", 3L)), w0.toString)
  }

  test("streaming near-dup (MinHash-LSH state): cross/same-batch matches, no false flags") {
    implicit val sqlCtx = spark.sqlContext
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val t2 = t1 + " nu" // 3-gram Jaccard vs t1 = 10/11 — a near-dup
    val t3 = "one two three four five six seven eight nine ten eleven twelve"
    val t5 = "totally different words entirely unrelated content goes right here now"
    val mem = MemoryStream[(Long, String, Long)]
    val rows = StatefulOps.bandRows(
      mem.toDF().toDF("id", "text", "tsMs"), "id", "text", "tsMs")
    val q = StatefulOps.streamingNearDedup(rows, threshold = 0.5)
      .writeStream.format("memory").queryName("s_neardup").outputMode("append")
      .start()
    try {
      mem.addData((1L, t1, 1000L), (3L, t3, 1001L)) // two unrelated docs
      q.processAllAvailable()
      mem.addData((2L, t2, 2000L)) // cross-BATCH near-dup of doc 1
      q.processAllAvailable()
      mem.addData((4L, t2 + " xi", 3000L), (5L, t5, 3001L)) // near-dup + unrelated
      q.processAllAvailable()
      // degenerate too-short docs (< n tokens → empty shingle set) are
      // filtered before signing: without that they'd all share the
      // all-MaxValue signature and flag each other at est 1.0
      mem.addData((6L, "ok", 4000L), (7L, "thanks", 4001L))
      q.processAllAvailable()
    } finally q.stop()
    val matches = spark.table("s_neardup").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("matched_id"),
        r.getAs[Double]("est_jaccard")))
    // per-doc reduction (what a foreachBatch consumer does): best match
    val flagged = matches.groupBy(_._1).map { case (id, ms) => id -> ms.maxBy(_._3) }
    assert(flagged.keySet == Set(2L, 4L), s"flagged ${flagged.keySet}: $matches")
    assert(flagged(2L)._2 == 1L, flagged.toString) // matched the earlier canonical
    assert(Set(1L, 2L).contains(flagged(4L)._2), flagged.toString)
    assert(matches.forall(_._3 >= 0.5), matches.toString)
  }

  test("streaming near-dup: hot-bucket cap bounds state, earliest docs kept") {
    implicit val sqlCtx = spark.sqlContext
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    val mem = MemoryStream[(Long, String, Long)]
    val rows = StatefulOps.bandRows(
      mem.toDF().toDF("id", "text", "tsMs"), "id", "text", "tsMs")
    // cap 2: only the two EARLIEST docs per bucket are retained as
    // representatives; later identical docs still match (against those
    // representatives) but are not added to state
    val q = StatefulOps.streamingNearDedup(rows, threshold = 0.5, maxBucketDocs = 2)
      .writeStream.format("memory").queryName("s_ndcap").outputMode("append")
      .start()
    try {
      mem.addData((10L, base, 1000L), (11L, base, 1001L), (12L, base, 1002L))
      q.processAllAvailable()
      mem.addData((13L, base, 2000L))
      q.processAllAvailable()
    } finally q.stop()
    val matches = spark.table("s_ndcap").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("matched_id")))
    val byDoc = matches.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // 11, 12, 13 all match; every match points at a retained representative
    assert(byDoc.keySet == Set(11L, 12L, 13L), byDoc.toString)
    assert(byDoc.values.flatten.toSet.subsetOf(Set(10L, 11L)), byDoc.toString)
  }

  /** Runs `query` over a MemoryStream of `before` then `during` twice:
    * uninterrupted into a memory sink, and into a parquet sink with a
    * checkpoint, stopped after `before`, given `during` while down and
    * restarted. Returns (uninterrupted, restarted) outputs. */
  private def uninterruptedAndRestarted[A: Encoder](name: String, before: Seq[A],
      during: Seq[A])(query: DataFrame => Dataset[_]): (DataFrame, DataFrame) = {
    implicit val sqlCtx = spark.sqlContext
    val memRef = MemoryStream[A]
    val ref = query(memRef.toDF())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      memRef.addData(before); ref.processAllAvailable()
      memRef.addData(during); ref.processAllAvailable()
    } finally ref.stop()

    val mem = MemoryStream[A]
    val stream = query(mem.toDF())
    val cp = java.nio.file.Files.createTempDirectory(s"$name-cp-").toString
    val out = java.nio.file.Files.createTempDirectory(s"$name-out-").resolve("p").toString
    def start() = stream.writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", cp).outputMode("append").start()
    val q1 = start()
    try { mem.addData(before); q1.processAllAvailable() } finally q1.stop()
    mem.addData(during)
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    (spark.table(name), spark.read.parquet(out))
  }

  test("streaming near-dup: band state survives restart; a pair split across it matches as uninterrupted") {
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val t2 = t1 + " nu" // 3-gram Jaccard vs t1 = 10/11
    val t3 = "one two three four five six seven eight nine ten eleven twelve"
    val before = Seq((1L, t1, 1000L), (3L, t3, 1001L))
    // doc 2 is doc 1's near-dup and arrives while the query is DOWN
    val during = Seq((2L, t2, 2000L), (4L, t2 + " xi", 2001L))
    def matches(df: DataFrame): Seq[(Long, Long, Double)] =
      df.collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("matched_id"),
        r.getAs[Double]("est_jaccard"))).toSeq.sorted
    val (ref, restarted) = uninterruptedAndRestarted("s_nd_restart", before, during) { in =>
      StatefulOps.streamingNearDedup(StatefulOps.bandRows(
        in.toDF("id", "text", "tsMs"), "id", "text", "tsMs"), threshold = 0.5)
    }
    val expected = matches(ref)
    val got = matches(restarted)
    // doc 2 finds doc 1 only through the band state recovered from the
    // checkpoint — a from-zero restart would match it to nothing earlier
    assert(got.exists { case (id, m, _) => id == 2L && m == 1L }, got.toString)
    assert(got == expected, s"restarted $got vs uninterrupted $expected")
  }

  test("streaming near-dup reconcile: exact verify filters signature-estimate false positives") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // 30 NEAR-MISS pairs (suffix-7 rewrite → trigram Jaccard = 11/25 =
    // 0.44 < 0.5) + 3 true near-dup pairs (suffix-3 → 15/21 ≈ 0.71).
    // At J=0.44 the 32-hash estimate has σ ≈ 0.09, so among 30 near-miss
    // pairs some BOTH collide in an LSH band and estimate ≥ 0.5 — a
    // signature false positive (deterministic: fixed vocabulary, fixed
    // hash family). The reconcile must remove exactly those and keep the
    // true pairs.
    def words(p: Int, cnt: Int, tag: String): Seq[String] =
      (0 until cnt).map(w => s"p$p$tag$w")
    def pairDocs(p: Int, rewritten: Int): Seq[(Long, String, Long)] = {
      val base = words(p, 20, "w")
      val varnt = base.take(20 - rewritten) ++ words(p, rewritten, "x")
      Seq((2L * p, base.mkString(" "), 1000L + p),
        (2L * p + 1, varnt.mkString(" "), 2000L + p))
    }
    val docs = (0 until 30).flatMap(pairDocs(_, 7)) ++
      (100 until 103).flatMap(pairDocs(_, 3))
    val mem = MemoryStream[(Long, String, Long)]
    val rows = StatefulOps.bandRows(
      mem.toDF().toDF("id", "text", "tsMs"), "id", "text", "tsMs")
    val q = StatefulOps.streamingNearDedup(rows, threshold = 0.5)
      .writeStream.format("memory").queryName("s_reconcile").outputMode("append")
      .start()
    try { mem.addData(docs); q.processAllAvailable() } finally q.stop()
    val matches = spark.table("s_reconcile")
    val emitted = matches.collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("matched_id"))).toSet
    // ground truth, computed independently of the library's shingle code
    val textById = docs.map(d => d._1 -> d._2).toMap
    def shingleSet(s: String): Set[String] =
      s.split(" ").sliding(3).map(_.mkString(" ")).toSet
    def exactJ(a: Long, b: Long): Double = {
      val (sa, sb) = (shingleSet(textById(a)), shingleSet(textById(b)))
      sa.intersect(sb).size.toDouble / sa.union(sb).size
    }
    val fps = emitted.filter { case (a, b) => exactJ(a, b) < 0.5 }
    val tps = emitted.filter { case (a, b) => exactJ(a, b) >= 0.5 }
    // the premise itself: the stream emitted ≥1 estimate false positive
    // and all 3 true pairs (else the corpus needs retuning, not the op)
    assert(fps.nonEmpty, s"no signature FP emitted — retune corpus ($emitted)")
    assert(tps.size >= 3, s"true near-dups missed by LSH: $tps")
    val docsDf = docs.toDF("doc_id", "text", "tsMs")
    val verified = StatefulOps.exactVerifyMatches(matches, docsDf, "doc_id", "text")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[Long]("matched_id"))).toSet
    assert(verified == tps,
      s"reconcile kept ${verified -- tps} (FPs) or dropped ${tps -- verified} (TPs)")
    // and the reported jaccard is the exact one, not the estimate
    val j = StatefulOps.exactVerifyMatches(matches, docsDf, "doc_id", "text")
      .collect().map(r => ((r.getAs[Long]("id"), r.getAs[Long]("matched_id")),
        r.getAs[Double]("jaccard"))).toMap
    j.foreach { case ((a, b), v) => assert(math.abs(v - exactJ(a, b)) < 1e-12) }
  }

  test("prepareStream ≡ batch Pipeline.prepare on replayed documents, cross-batch dup dropped") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docsDf = Tables.documents(spark, sfDir).filter(col("text").isNotNull)
    // precondition this parity depends on: batch keeps the MIN id per
    // fingerprint while the stream keeps the first arrival — only
    // equivalent on a dup-free corpus. Assert it loudly so a future
    // fixture regeneration with dup texts fails HERE, not in the
    // doc_id set comparison below.
    assert(docsDf.select(unhex(graft.api.TextDedup.fingerprint(col("text")))).distinct().count()
      == docsDf.count(),
      "corpus has duplicate fingerprints — compare fingerprint sets, not doc_id sets")
    val batch = graft.api.Pipeline.prepare(docsDf, "doc_id", "text",
        isEval = col("doc_id") % 97 === 0, samplePct = 50)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val evalFp = docsDf.filter(col("doc_id") % 97 === 0)
      .select(unhex(graft.api.TextDedup.fingerprint(col("text"))).as("fp")).distinct()
    val train = docsDf.filter(col("doc_id") % 97 =!= 0)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    // a doc KNOWN to survive the pipeline, re-sent in a later batch
    // under a new id — the state store must drop the re-arrival
    val dupOf = train.find(d => batch.contains(d._1)).get
    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
      .withColumn("ts_t", timestamp_millis(lit(1704067200000L) + col("doc_id")))
    val q = graft.api.Pipeline.prepareStream(stream, "doc_id", "text", "ts_t",
        evalFp, samplePct = 50)
      .select("doc_id")
      .writeStream.format("memory").queryName("s_prep").outputMode("append")
      .start()
    try {
      mem.addData(train); q.processAllAvailable()
      mem.addData((900000L + dupOf._1, dupOf._2)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("s_prep").collect().map(_.getLong(0)).toSet
    assert(streamed == batch,
      s"stream-batch mismatch: extra=${streamed -- batch} missing=${batch -- streamed}")
  }

  test("prepareStreamNearDedup ≡ batch prepare(nearDedup=true): cross-batch pair caught, FP reconciled away") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // The proven FP-generator corpus (see the reconcile test above), made
    // language-identifiable: a leading "the" per doc → pred_lang = en,
    // and every trigram still contains a unique token so cross-pair
    // overlap stays zero. 21 tokens/doc: suffix-3 rewrites give exact
    // trigram J = 16/22 ≈ 0.727 (true near-dups), suffix-7 give
    // 12/26 ≈ 0.462 (< 0.5 — near-misses, some of which the 32-hash
    // estimate WILL flag: the signature false positives the reconcile
    // must remove). Base ids are even, variants odd.
    def words(p: Int, cnt: Int, tag: String): Seq[String] =
      (0 until cnt).map(w => s"p$p$tag$w")
    def pairDocs(p: Int, rewritten: Int): Seq[(Long, String)] = {
      val base = "the" +: words(p, 20, "w")
      val varnt = base.dropRight(rewritten) ++ words(p, rewritten, "x")
      Seq((2L * p, base.mkString(" ")), (2L * p + 1, varnt.mkString(" ")))
    }
    val nearMiss = (0 until 30).flatMap(pairDocs(_, 7))
    val trueDups = (100 until 103).flatMap(pairDocs(_, 3))
    // standalone docs: one becomes the eval doc (it must neither absorb
    // nor flag anything), one stays a plain survivor
    val solo = Seq((400L, ("the" +: words(200, 20, "s")).mkString(" ")),
      (402L, ("the" +: words(201, 20, "s")).mkString(" ")))
    val docs = (nearMiss ++ trueDups ++ solo).sortBy(_._1)
    val docsDf = docs.toDF("doc_id", "text")
    val isEval = col("doc_id") === 400L
    val evalFp = docsDf.filter(isEval)
      .select(unhex(graft.api.TextDedup.fingerprint(col("text"))).as("fp")).distinct()

    // ground truth: the batch pipeline with the near-dedup stage
    val batchKept = graft.api.Pipeline.prepare(docsDf, "doc_id", "text", isEval,
        nearDedup = true, jaccardThreshold = 0.5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    graft.Hygiene.dropLeakedBlocks(spark)
    // sanity on the fixture: every odd true-dup variant dropped, the
    // near-miss variants kept, solo survivor kept, eval doc absent
    assert(Seq(201L, 203L, 205L).map(_ + 0).forall(id => !batchKept.contains(id)))
    assert(batchKept.contains(402L) && !batchKept.contains(400L))

    val mem = MemoryStream[(Long, String)]
    val stream = mem.toDF().toDF("doc_id", "text")
      .withColumn("ts_t", timestamp_millis(lit(1704067200000L) + col("doc_id")))
    val (kept, matches) = graft.api.Pipeline.prepareStreamNearDedup(
      stream, "doc_id", "text", "ts_t", evalFp, estThreshold = 0.5)
    val qk = kept.select("doc_id").writeStream.format("memory")
      .queryName("snd_kept").outputMode("append").start()
    val qm = matches.writeStream.format("memory")
      .queryName("snd_matches").outputMode("append").start()
    try {
      // in-order replay, bases (even) then variants (odd) → every true
      // near-dup pair is CROSS-BATCH: the band state must carry over
      mem.addData(docs.filter(_._1 % 2 == 0))
      qk.processAllAvailable(); qm.processAllAvailable()
      mem.addData(docs.filter(_._1 % 2 == 1))
      qk.processAllAvailable(); qm.processAllAvailable()
    } finally { qk.stop(); qm.stop() }

    val streamKept = spark.table("snd_kept").collect().map(_.getLong(0)).toSet
    val rawMatches = spark.table("snd_matches")
    val flagged = rawMatches.select("id").distinct().collect().map(_.getLong(0)).toSet
    // the premise: ≥1 estimate false positive was flagged (a near-miss
    // variant) — without the reconcile, parity would FAIL
    val trueDropIds = Set(201L, 203L, 205L)
    assert((flagged -- trueDropIds).nonEmpty,
      s"no signature FP flagged — retune the corpus ($flagged)")
    assert((streamKept -- flagged) != batchKept,
      "raw flags already equal batch — the FP premise is broken")
    // reconcile: exact-Jaccard verify against the doc store, then drop
    val dropIds = graft.api.Pipeline.nearDupDropIds(rawMatches, docsDf,
        "doc_id", "text", shingleN = 3, jaccardThreshold = 0.5)
      .collect().map(_.getLong(0)).toSet
    assert(dropIds == trueDropIds, s"verified drops $dropIds != $trueDropIds")
    assert(streamKept -- dropIds == batchKept,
      s"parity broken: extra=${(streamKept -- dropIds) -- batchKept} " +
        s"missing=${batchKept -- (streamKept -- dropIds)}")
  }

  test("ddSketch in streaming tumbling windows ≡ batch sketches, field-exact across batch splits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    import graft.api.Sketches
    // the counter-sum merge is order/grouping-free, so a streaming
    // windowed sketch must equal the batch sketch FIELD-EXACTLY no
    // matter how the rows split into micro-batches — the property that
    // makes per-window persisted sketches trustworthy at ingest
    val rows = (0 until 600).map { i =>
      (1704067200000L + i * 1000L, math.sin(i * 0.7) * 100 + (i % 7))
    }
    val batch = rows.toDF("ts_ms", "value")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .groupBy(window(col("ts"), "5 minutes"))
      .agg(Sketches.ddSketch(0.01)(col("value")).as("sk"))
      .select(unix_millis(col("window.start")).as("w"), col("sk"))
      .as[(Long, Sketches.DDSketch)].collect().toMap
    val mem = MemoryStream[(Long, Double)]
    val q = mem.toDF().toDF("ts_ms", "value")
      .withColumn("ts", timestamp_millis(col("ts_ms")))
      .groupBy(window(col("ts"), "5 minutes"))
      .agg(Sketches.ddSketch(0.01)(col("value")).as("sk"))
      .select(unix_millis(col("window.start")).as("w"), col("sk"))
      .writeStream.format("memory").queryName("s_ddsk").outputMode("complete")
      .start()
    try {
      // adversarial split: mid-window boundary at row 137
      mem.addData(rows.take(137)); q.processAllAvailable()
      mem.addData(rows.drop(137)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("s_ddsk")
      .as[(Long, Sketches.DDSketch)].collect().toMap
    assert(streamed == batch,
      s"streaming windowed sketches diverge from batch: ${streamed.keySet} vs ${batch.keySet}")
    // and the estimates they imply agree with exact within α
    val exact = rows.map(_._2).sorted
    val merged = streamed.values.reduce((a, b) =>
      Sketches.DDSketch(
        (a.pos.keySet ++ b.pos.keySet).map(k => k -> (a.pos.getOrElse(k, 0L) + b.pos.getOrElse(k, 0L))).toMap,
        (a.neg.keySet ++ b.neg.keySet).map(k => k -> (a.neg.getOrElse(k, 0L) + b.neg.getOrElse(k, 0L))).toMap,
        a.zero + b.zero, a.cnt + b.cnt))
    val est = Sketches.ddQuery(merged, 0.01, 0.5).get
    val ex = exact(math.floor(0.5 * (exact.size - 1)).toInt)
    assert(math.abs(est - ex) <= 0.01 * math.abs(ex) + 1e-9, s"est=$est exact=$ex")
  }

  test("salted aggregation equals plain aggregation (skew utility)") {
    import org.apache.spark.sql.functions._
    val plain = Tables.events(spark, sfDir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 4).as("sum_value"))
      .orderBy("event_type").collect().toSeq
    val salted = graft.api.Skew.saltedAggregate(
        Tables.events(spark, sfDir), Seq("event_type"), 16, col("event_id"))(
        partial = Seq(count(lit(1)).as("c"), sum("value").as("s")),
        fin = Seq(sum("c").as("cnt"), round(sum("s"), 4).as("sum_value")))
      .orderBy("event_type").collect().toSeq
    assert(salted == plain)
  }

  test("end-to-end: arrivals stream feeds content fingerprint dedup via foreachBatch") {
    // the reference's deployment story completed: files arrive → metadata
    // stream → per-batch content load → fingerprint → dedup store
    val dir = java.nio.file.Files.createTempDirectory("arrivals-pipe-").toFile
    def put(n: String, content: String, t: Long): Unit = {
      val f = new java.io.File(dir, n)
      java.nio.file.Files.write(f.toPath, content.getBytes("UTF-8"))
      assert(f.setLastModified(t))
    }
    put("a.txt", "hello world", 1704000000000L)
    put("b.txt", "hello world", 1704000001000L) // exact duplicate content
    put("c.txt", "something else", 1704000002000L)
    val store = scala.collection.mutable.Set.empty[String]
    val q = spark.readStream.format("arrivals").option("path", dir.getAbsolutePath)
      .load()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val paths = batch.select("file_path").collect().map(_.getString(0))
        if (paths.nonEmpty) {
          val contents = spark.read.option("wholetext", "true").text(paths: _*)
          val fps = contents
            .select(graft.api.TextDedup.fingerprint(col("value")).as("fp"))
            .collect().map(_.getString(0))
          store.synchronized { store ++= fps }
        }
        ()
      }
      .trigger(Trigger.ProcessingTime("50 milliseconds"))
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(store.size == 2, s"expected 2 distinct fingerprints, got $store")
  }

  test("native functions register via SQL (vec_dot callable from spark.sql)") {
    graft.functions.VectorExprs.register(spark)
    val v = spark.sql(
      "SELECT vec_dot(array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT)), array(CAST(2.0 AS FLOAT), CAST(3.0 AS FLOAT))) AS d")
      .collect().head.getDouble(0)
    assert(v == 9.0)
    // the spark.sql.extensions entry point must inject the SAME function
    // surface register() provides — drive it through a real
    // SparkSessionExtensions into a FunctionRegistry and look each up
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.GraftExtensions().apply(ext)
    val reg = org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin.clone()
    // registerFunctions is private[sql] in Scala but public in bytecode
    ext.getClass
      .getMethod("registerFunctions",
        classOf[org.apache.spark.sql.catalyst.analysis.FunctionRegistry])
      .invoke(ext, reg)
    val expected = graft.functions.VectorExprs.functions.map(_._1)
    assert(expected.size == 13 && expected.distinct == expected, expected.toString)
    val missing = expected.filterNot(n =>
      reg.functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
    assert(missing.isEmpty, s"extension entry point failed to register: $missing")
    val unregistered = expected.filterNot(n => spark.sessionState.functionRegistry
      .functionExists(org.apache.spark.sql.catalyst.FunctionIdentifier(n)))
    assert(unregistered.isEmpty, s"register() failed to register: $unregistered")
  }

  test("vec_dot returns NULL on array length mismatch (not a truncated product)") {
    graft.functions.VectorExprs.register(spark)
    val r = spark.sql(
      "SELECT vec_dot(array(CAST(1.0 AS FLOAT)), array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS d")
      .collect().head
    assert(r.isNullAt(0), s"expected null, got ${r.get(0)}")
  }

  test("graft_hyperplane_keys matches the HOF formulation bucket-for-bucket") {
    graft.functions.VectorExprs.register(spark)
    val emb = Tables.embeddings(spark, sfDir).limit(50)
    val native = emb.selectExpr("vec_id", "graft_hyperplane_keys(embedding, 16, 4, 64) AS ks")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    // reference formulation: literal planes + per-plane sign bits
    val planes = graft.api.Similarity.hyperplanes(16, 64)
    val viaHof = emb
      .withColumn("planes", typedLit(planes))
      .withColumn("sig", expr(
        "transform(planes, pl -> CASE WHEN vec_dot(embedding, pl) >= 0 THEN 1 ELSE 0 END)"))
      .selectExpr("vec_id",
        """transform(sequence(0, 3), b ->
             cast(b AS BIGINT) * 16 + aggregate(sequence(0, 3), 0L,
               (acc, r) -> acc + cast(sig[b*4+r] AS BIGINT) * shiftleft(1L, r))) AS ks""")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(native == viaHof)
  }

  test("graft_nearest_centroids picks the argmax-cosine centroids, ties to smaller index") {
    graft.functions.VectorExprs.register(spark)
    import org.apache.spark.sql.functions.{call_function, lit => flit}
    val centers: Seq[Seq[Double]] = Seq(Seq(1.0, 0.0), Seq(0.0, 1.0), Seq(-1.0, 0.0))
    val df = spark.sql(
      "SELECT array(CAST(0.9 AS FLOAT), CAST(0.1 AS FLOAT)) AS e")
    val picked = df.select(
      call_function("graft_nearest_centroids", col("e"), typedLit(centers), flit(2)).as("c"))
      .collect().head.getSeq[Int](0).toSeq
    assert(picked == Seq(0, 1), picked.toString) // nearest (1,0), then (0,1)
  }

  test("windowed aggregation runs end-to-end on the arrivals source") {
    val dir = java.nio.file.Files.createTempDirectory("arrivals-win-").toFile
    def put(n: String, t: Long): Unit = {
      val f = new java.io.File(dir, n)
      java.nio.file.Files.write(f.toPath, "x".getBytes)
      assert(f.setLastModified(t))
    }
    // three files across two 5-minute windows
    put("a", 1704067200000L); put("b", 1704067260000L); put("c", 1704067500000L)
    val q = spark.readStream.format("arrivals").option("path", dir.getAbsolutePath)
      .load()
      .withWatermark("last_modified", "10 minutes")
      .groupBy(window(col("last_modified"), "5 minutes"))
      .agg(count(lit(1)).as("files"))
      .select(unix_millis(col("window.start")).as("w"), col("files"))
      .writeStream.format("memory").queryName("s_arr_win").outputMode("complete")
      .trigger(Trigger.ProcessingTime("50 milliseconds"))
      .start()
    try q.processAllAvailable() finally q.stop()
    val out = spark.table("s_arr_win").collect()
      .map(r => (r.getAs[Long]("w"), r.getAs[Long]("files"))).toMap
    assert(out == Map(1704067200000L -> 2L, 1704067500000L -> 1L))
  }

  test("streaming z-score ≡ batch rollingZscore on in-order replay, state carries across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // two keys, 30 points each, spikes at different offsets
    val rows = for {
      k <- Seq(1L, 2L)
      i <- 0 until 30
    } yield StatefulOps.ValRow(k, i.toLong, i.toLong * 1000,
      if (i == (if (k == 1L) 24 else 21)) 100.0 else 1.0 + k * 0.5)
    val mem = MemoryStream[StatefulOps.ValRow]
    val q = StatefulOps.streamingZscore(mem.toDS(), windowRows = 20)
      .writeStream.format("memory").queryName("s_zscore").outputMode("append")
      .start()
    try {
      // split MID-WINDOW so the ring must carry across the batch boundary
      val (b1, b2) = rows.partition(_.id < 22)
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val streaming = spark.table("s_zscore").as[StatefulOps.ZScore].collect()
      .map(z => (z.key, z.id) -> z.z).toMap
    val batch = graft.api.TimeSeries.rollingZscore(
        rows.toDF("user_id", "event_id", "ts_ms", "value"),
        "user_id", "ts_ms", "event_id", "value", windowRows = 20)
      .select(col("user_id"), col("event_id"), col("z"))
      .as[(Long, Long, Double)].collect()
      .map { case (k, i, z) => (k, i) -> z }.toMap
    assert(streaming.keySet == batch.keySet,
      s"scored sets differ: ${streaming.keySet.diff(batch.keySet)} / ${batch.keySet.diff(streaming.keySet)}")
    // EXACT equality: the streaming path replicates the batch decimal
    // rounding + double tree term for term
    streaming.foreach { case (ki, z) =>
      assert(z == batch(ki), s"$ki: streaming $z != batch ${batch(ki)}")
    }
    // and the spikes are the extreme scores per key
    assert(streaming((1L, 24L)) > 2 && streaming((2L, 21L)) > 2)
  }

  test("streaming EWMA ≡ batch TimeSeries.ewma on in-order replay, ring carries across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows = for {
      k <- Seq(1L, 2L)
      i <- 0 until 30
    } yield StatefulOps.ValRow(k, i.toLong, i.toLong * 1000,
      math.sin(i * 0.9) * 10 + k)
    val mem = MemoryStream[StatefulOps.ValRow]
    val q = StatefulOps.streamingEwma(mem.toDS(), windowRows = 20)
      .writeStream.format("memory").queryName("s_ewma").outputMode("append")
      .start()
    try {
      // mid-window split: the ring must carry across the batch boundary
      val (b1, b2) = rows.partition(_.id < 13)
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val streaming = spark.table("s_ewma").as[StatefulOps.EwmaRow].collect()
      .map(e => (e.key, e.id) -> (e.winM, e.ewma)).toMap
    val batch = graft.api.TimeSeries.ewma(
        rows.toDF("user_id", "event_id", "ts_ms", "value"),
        "user_id", "ts_ms", "event_id", "value", windowRows = 20)
      .select(col("user_id"), col("event_id"), col("win_m"), col("ewma"))
      .as[(Long, Long, Long, Double)].collect()
      .map { case (k, i, m, e) => (k, i) -> ((m, e)) }.toMap
    assert(streaming.keySet == batch.keySet)
    // EXACT double equality: identical multiplies, identical scale-10
    // decimal rounding, identical closed-form total and division
    streaming.foreach { case (ki, me) =>
      assert(me == batch(ki), s"$ki: streaming $me != batch ${batch(ki)}")
    }
  }

  test("streaming Holt ≡ batch TimeSeries.holtBrown on in-order replay, both rings carry across batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows = for {
      k <- Seq(1L, 2L)
      i <- 0 until 30
    } yield StatefulOps.ValRow(k, i.toLong, i.toLong * 1000,
      math.sin(i * 0.9) * 10 + 0.3 * i + k)
    val mem = MemoryStream[StatefulOps.ValRow]
    val q = StatefulOps.streamingHolt(mem.toDS(), windowRows = 20)
      .writeStream.format("memory").queryName("s_holt").outputMode("append")
      .start()
    try {
      // mid-window split: BOTH rings (values and S') must carry across
      // the batch boundary
      val (b1, b2) = rows.partition(_.id < 13)
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val streaming = spark.table("s_holt").as[StatefulOps.HoltRow].collect()
      .map(h => (h.key, h.id) -> ((h.level, h.trend, h.forecast))).toMap
    val batch = graft.api.TimeSeries.holtBrown(
        rows.toDF("user_id", "event_id", "ts_ms", "value"),
        "user_id", "ts_ms", "event_id", "value", windowRows = 20)
      .select(col("user_id"), col("event_id"),
        col("level"), col("trend"), col("forecast"))
      .as[(Long, Long, Double, Double, Double)].collect()
      .map { case (k, i, l, t, f) => (k, i) -> ((l, t, f)) }.toMap
    assert(streaming.keySet == batch.keySet)
    // EXACT double equality: stage 1 is the streamingEwma computation,
    // stage 2 replays it over the S' ring, level/trend/forecast replay
    // the batch expression tree term for term
    streaming.foreach { case (ki, ltf) =>
      assert(ltf == batch(ki), s"$ki: streaming $ltf != batch ${batch(ki)}")
    }
    // and the trend on a rising series is positive once warmed
    assert(streaming((1L, 29L))._2 > 0)
  }

  test("stream-stream interval join: cross-batch matches in-window, watermark drops late left rows") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = 1704067200000L // 2024-01-01 00:00 UTC
    def m(min: Long) = base + min * 60000L
    val lMem = MemoryStream[(Long, Long, Long)] // (pid, user, ts_ms)
    val rMem = MemoryStream[(Long, Long, Long)] // (eid, user, ts_ms)
    def tsify(df: org.apache.spark.sql.DataFrame, id: String) =
      df.toDF(id, "user", "ts_ms").withColumn("ts", timestamp_millis(col("ts_ms")))
    val joined = StreamJoins.streamingIntervalJoin(
        tsify(lMem.toDF(), "pid"), "ts",
        tsify(rMem.toDF(), "eid"), "ts",
        keyCol = "user", windowMs = 10 * 60000L, watermark = "10 minutes")
      .select(col("l.pid"), col("r.eid"))
    val q = joined.writeStream.format("memory").queryName("s_ivjoin")
      .outputMode("append").start()
    def emitted(): Set[(Long, Long)] = spark.table("s_ivjoin").collect()
      .map(r => (r.getAs[Long]("pid"), r.getAs[Long]("eid"))).toSet
    try {
      // batch 1: p1@0 (user 1); e1@5 matches, e2@5 is user 2
      lMem.addData((1L, 1L, m(0))); rMem.addData((1L, 1L, m(5)), (2L, 2L, m(5)))
      q.processAllAvailable()
      assert(emitted() == Set((1L, 1L)), emitted().toString)
      // batch 2: e3@9 in p1's window, e4@11 outside it — e4 buffers
      rMem.addData((3L, 1L, m(9)), (4L, 1L, m(11)))
      q.processAllAvailable()
      assert(emitted() == Set((1L, 1L), (1L, 3L)), emitted().toString)
      // batch 3: p2@8 arrives AFTER the right rows — buffered e3/e4 (and
      // not e1@5 < p2's start) join cross-batch
      lMem.addData((2L, 1L, m(8)))
      q.processAllAvailable()
      assert(emitted() == Set((1L, 1L), (1L, 3L), (2L, 3L), (2L, 4L)), emitted().toString)
      // advance both watermarks far ahead, then feed a left row far
      // behind them — stream-stream join state is watermark-bounded, so
      // the too-late row joins nothing
      lMem.addData((90L, 9L, m(60))); rMem.addData((90L, 9L, m(60)))
      q.processAllAvailable()
      val afterAdvance = emitted()
      lMem.addData((3L, 1L, m(0)))
      q.processAllAvailable()
      assert(emitted() == afterAdvance, s"late left row joined: ${emitted() -- afterAdvance}")
    } finally q.stop()
  }

  test("stream-stream interval join leftOuter: unmatched left emits nulls after watermark") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = 1704067200000L
    def m(min: Long) = base + min * 60000L
    val lMem = MemoryStream[(Long, Long, Long)]
    val rMem = MemoryStream[(Long, Long, Long)]
    def tsify(df: org.apache.spark.sql.DataFrame, id: String) =
      df.toDF(id, "user", "ts_ms").withColumn("ts", timestamp_millis(col("ts_ms")))
    val joined = StreamJoins.streamingIntervalJoin(
        tsify(lMem.toDF(), "pid"), "ts",
        tsify(rMem.toDF(), "eid"), "ts",
        keyCol = "user", windowMs = 10 * 60000L, watermark = "10 minutes",
        joinType = "leftOuter")
      .select(col("l.pid"), col("r.eid"))
    val q = joined.writeStream.format("memory").queryName("s_ivjoin_lo")
      .outputMode("append").start()
    def emitted(): Set[(Long, Option[Long])] = spark.table("s_ivjoin_lo").collect()
      .map(r => (r.getAs[Long]("pid"),
        Option(r.getAs[Any]("eid")).map(_ => r.getAs[Long]("eid")))).toSet
    try {
      // p1 (user 1) matches e1; p2 (user 2) has no right rows at all
      lMem.addData((1L, 1L, m(0)), (2L, 2L, m(0))); rMem.addData((1L, 1L, m(5)))
      q.processAllAvailable()
      assert(emitted() == Set((1L, Some(1L))), emitted().toString)
      // push both watermarks past p2's window end → the held-back
      // unmatched left row emits with nulls (Spark's outer contract)
      lMem.addData((90L, 9L, m(60))); rMem.addData((90L, 9L, m(60)))
      q.processAllAvailable()
      lMem.addData((91L, 9L, m(80))); rMem.addData((91L, 9L, m(80)))
      q.processAllAvailable()
      assert(emitted().contains((2L, None)), emitted().toString)
    } finally q.stop()
  }

  test("streaming left-outer asof join: most-recent-within-tolerance, nulls for no match, one row per left") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = 1704067200000L
    def m(min: Long) = base + min * 60000L
    val trades = MemoryStream[(Long, Long, Long)] // (tid, sym, ts_ms)
    val quotes = MemoryStream[(Long, Long, Long)] // (px, sym, ts_ms)
    def tsify(df: org.apache.spark.sql.DataFrame, v: String) =
      df.toDF(v, "sym", "ts_ms").withColumn("ts", timestamp_millis(col("ts_ms")))
    val joined = StreamJoins.streamingAsofJoin(
      tsify(trades.toDF(), "tid"), "ts",
      tsify(quotes.toDF(), "px"), "ts",
      keyCol = "sym", toleranceMs = 10 * 60000L, watermark = "10 minutes",
      leftIdCol = "tid", rightValCol = "px")
    val q = joined.writeStream.format("memory").queryName("s_asof")
      .outputMode("append").start()
    def emitted(): Map[Long, (Option[Long], Option[Long])] =
      spark.table("s_asof").collect().map { r =>
        r.getAs[Long]("tid") -> ((Option(r.getAs[Any]("asof_ts")).map(_ => r.getAs[java.sql.Timestamp]("asof_ts").getTime),
          Option(r.getAs[Any]("px")).map(_ => r.getAs[Long]("px"))))
      }.toMap
    try {
      // quotes for sym 1 at @0 (px 100) and @4 (px 104); sym 2 at @4 (px 204)
      quotes.addData((100L, 1L, m(0)), (104L, 1L, m(4)), (204L, 2L, m(4)))
      // trades: t1 sym1 @5 (asof → px 104), t2 sym1 @3 (asof → px 100),
      // t3 sym3 @5 (no quotes at all → nulls), t4 sym2 @20 — the @4
      // quote is 16 min stale, outside the 10-min tolerance → nulls
      trades.addData((1L, 1L, m(5)), (2L, 1L, m(3)), (3L, 3L, m(5)), (4L, 2L, m(20)))
      q.processAllAvailable()
      // nothing emits until the watermark passes the trades' timestamps
      // (append-mode chained-stateful contract); push it with fresh data
      trades.addData((90L, 9L, m(60))); quotes.addData((900L, 9L, m(60)))
      q.processAllAvailable()
      trades.addData((91L, 9L, m(80))); quotes.addData((901L, 9L, m(80)))
      q.processAllAvailable()
      val got = emitted()
      assert(got.get(1L).contains((Some(m(4)), Some(104L))), got.toString)
      assert(got.get(2L).contains((Some(m(0)), Some(100L))), got.toString)
      assert(got.get(3L).contains((None, None)), got.toString)
      assert(got.get(4L).contains((None, None)), got.toString)
      // exactly one row per left trade — the aggregation collapsed the
      // multi-quote candidate sets
      assert(spark.table("s_asof").groupBy("tid").count()
        .filter(col("count") > 1).count() == 0)
    } finally q.stop()
  }

  test("streaming forward asof join: earliest-within-tolerance, nulls when nothing arrives in time") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = 1704067200000L
    def m(min: Long) = base + min * 60000L
    val reqs = MemoryStream[(Long, Long, Long)]  // (rid, svc, ts_ms)
    val resp = MemoryStream[(Long, Long, Long)]  // (code, svc, ts_ms)
    def tsify(df: org.apache.spark.sql.DataFrame, v: String) =
      df.toDF(v, "svc", "ts_ms").withColumn("ts", timestamp_millis(col("ts_ms")))
    val joined = StreamJoins.streamingAsofJoinForward(
      tsify(reqs.toDF(), "rid"), "ts",
      tsify(resp.toDF(), "code"), "ts",
      keyCol = "svc", toleranceMs = 10 * 60000L, watermark = "10 minutes",
      leftIdCol = "rid", rightValCol = "code")
    val q = joined.writeStream.format("memory").queryName("s_asof_fwd")
      .outputMode("append").start()
    def emitted(): Map[Long, (Option[Long], Option[Long])] =
      spark.table("s_asof_fwd").collect().map { r =>
        r.getAs[Long]("rid") -> ((Option(r.getAs[Any]("asof_ts")).map(_ => r.getAs[java.sql.Timestamp]("asof_ts").getTime),
          Option(r.getAs[Any]("code")).map(_ => r.getAs[Long]("code"))))
      }.toMap
    try {
      // responses for svc 1 at @4 (code 104) and @7 (code 107)
      resp.addData((104L, 1L, m(4)), (107L, 1L, m(7)))
      // r1 svc1 @3 → earliest at-or-after within 10 min = @4/104;
      // r2 svc1 @5 → @7/107; r3 svc2 @5 → no responses at all → nulls;
      // r4 svc1 @20 → nothing in [20, 30) → nulls
      reqs.addData((1L, 1L, m(3)), (2L, 1L, m(5)), (3L, 2L, m(5)), (4L, 1L, m(20)))
      q.processAllAvailable()
      reqs.addData((90L, 9L, m(60))); resp.addData((900L, 9L, m(60)))
      q.processAllAvailable()
      reqs.addData((91L, 9L, m(80))); resp.addData((901L, 9L, m(80)))
      q.processAllAvailable()
      val got = emitted()
      assert(got.get(1L).contains((Some(m(4)), Some(104L))), got.toString)
      assert(got.get(2L).contains((Some(m(7)), Some(107L))), got.toString)
      assert(got.get(3L).contains((None, None)), got.toString)
      assert(got.get(4L).contains((None, None)), got.toString)
    } finally q.stop()
  }

  test("streaming sessionize (session_window): cross-batch merge, close on watermark, " +
      "late drop, batch parity") {
    implicit val sqlCtx = spark.sqlContext
    val base = 1704067200000L
    val mem = MemoryStream[(String, Long)] // (user, tsMs)
    // the SAME TimeSeries.sessionize the batch q_session_window family
    // uses — streaming mode is just a watermarked input + append sink
    val events = mem.toDF().toDF("user", "tsMs")
      .withColumn("ts_t", timestamp_millis(col("tsMs")))
      .withWatermark("ts_t", "10 seconds")
    val sess = graft.api.TimeSeries.sessionize(events, "ts_t", "user", "30 seconds",
      Seq(count(lit(1)).as("n_events"), max("tsMs").as("last_ts")))
    val q = sess.writeStream.format("memory").queryName("s_sessionize")
      .outputMode("append").start()
    def rows(): Seq[(String, Long, Long, Long)] = spark.table("s_sessionize").collect()
      .map(r => (r.getAs[String]("user"), r.getAs[Long]("n_events"),
        r.getAs[Long]("last_ts"), r.getAs[Long]("session_start_ms"))).toSeq
    try {
      mem.addData(("u1", base), ("u1", base + 10000))
      q.processAllAvailable()
      // the next batch's u1 event is within 30 s of the open session's
      // end: it must MERGE into the same session across the batch
      // boundary, not start a new one
      mem.addData(("u1", base + 25000), ("u2", base + 5000))
      q.processAllAvailable()
      assert(rows().isEmpty, "no session may emit while the watermark is inside it")
      // an event far ahead closes everything older (wm → base+110 s)
      mem.addData(("u1", base + 120000))
      q.processAllAvailable()
      val closed = rows().sortBy(_._1)
      assert(closed == Seq(
        ("u1", 3L, base + 25000, base),      // one merged 3-event session
        ("u2", 1L, base + 5000, base + 5000)),
        closed.toString)
      // a row behind the watermark is dropped — no emission, no re-open
      mem.addData(("u1", base + 7000))
      q.processAllAvailable()
      assert(rows().sortBy(_._1) == closed, "late row must not re-open a closed session")
    } finally q.stop()
    // batch parity: the closed sessions equal TimeSeries.sessionize run
    // in batch over exactly the non-late rows
    val batch = graft.api.TimeSeries.sessionize(
      Seq(("u1", base), ("u1", base + 10000), ("u1", base + 25000),
        ("u2", base + 5000), ("u1", base + 120000)).toDF("user", "tsMs")
        .withColumn("ts_t", timestamp_millis(col("tsMs"))),
      "ts_t", "user", "30 seconds",
      Seq(count(lit(1)).as("n_events"), max("tsMs").as("last_ts")))
      .filter(col("last_ts") < base + 120000) // the still-open streaming session
      .select("user", "n_events", "last_ts", "session_start_ms")
      .as[(String, Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(batch == rows().sortBy(_._1), s"batch $batch != streamed ${rows()}")
  }

  test("streaming PSI drift monitor: windowed scores ≡ batch replay; shifted window flags") {
    implicit val sqlCtx = spark.sqlContext
    // reference: uniform-ish values 0..99 — deciles at 9.9, 19.8, ...
    val refDf = (0 until 1000).map(i => (i % 100).toDouble).toDF("v")
    val ref = graft.api.Drift.fitPsiReference(refDf, "v", nBins = 10)
    assert(ref.nBins == 10 && ref.n == 1000L)
    assert(ref.binCounts.forall(c => c == 100L), ref.binCounts.mkString(","))
    val base = 1700000000000L
    // window 1: in-distribution; window 2: mass piled into the top decile
    val w1 = (0 until 500).map(i => (base + i * 100L, (i % 100).toDouble))
    val w2 = (0 until 500).map(i => (base + 600000L + i * 100L, 95.0 + (i % 5)))
    val rows = w1 ++ w2
    val mem = MemoryStream[(Long, Double)]
    val q = DriftStream.psiStream(
        mem.toDF().toDF("ts_ms", "v").withColumn("ts_t", timestamp_millis(col("ts_ms"))),
        "ts_t", "v", ref, width = "10 minutes", delay = "1 minute")
      .writeStream.format("memory").queryName("s_psi").outputMode("append")
      .start()
    try {
      mem.addData(rows)
      q.processAllAvailable()
      // advance the watermark past both windows so append finalizes them
      mem.addData(Seq((base + 3600000L, 50.0)))
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("s_psi")
      .as[(Long, Long, Double)].collect().toSeq.sortBy(_._1)
    // windows are EPOCH-aligned: base % 10min = 200s, so starts sit 200s back
    assert(streamed.map(_._1) == Seq(base - 200000L, base + 400000L),
      s"expected both finalized windows, got $streamed")
    val Seq(inDist, shifted) = streamed
    assert(inDist._2 == 500L && shifted._2 == 500L)
    assert(inDist._3 < 0.05, s"in-distribution window scored ${inDist._3}")
    assert(shifted._3 > 1.0, s"collapsed-to-top-decile window scored ${shifted._3}")
    // batch parity: identical plan over the bounded frame, bit-equal PSI
    val batch = DriftStream.psiBatch(
        rows.toDF("ts_ms", "v").withColumn("ts_t", timestamp_millis(col("ts_ms"))),
        "ts_t", "v", ref, width = "10 minutes")
      .as[(Long, Long, Double)].collect().toSeq.sortBy(_._1)
      .filter(r => r._1 <= base + 600000L) // the watermark-advancer row's window never finalized
    assert(batch == streamed, s"batch $batch != streamed $streamed")
  }

  test("streaming JS token drift: windowed scores ≡ batch replay; OOV-flooded window flags") {
    implicit val sqlCtx = spark.sqlContext
    // reference: 5-token uniform vocabulary
    val refDf = (0 until 500).map(i => s"t${i % 5}").grouped(10)
      .map(_.mkString(" ")).toSeq.toDF("text")
    val ref = graft.api.Drift.fitTokenReference(refDf, "text", topK = 5)
    assert(ref.k == 5 && ref.n == 500L && ref.oov == 0L)
    assert(ref.counts.forall(_ == 100L), ref.counts.mkString(","))
    val base = 1700000000000L
    // window 1: in-distribution text; window 2: vocabulary replaced (OOV flood)
    val w1 = (0 until 50).map(i => (base + i * 1000L, s"t${i % 5} t${(i + 1) % 5} t${(i + 2) % 5}"))
    val w2 = (0 until 50).map(i => (base + 600000L + i * 1000L, "zzz qqq xxx"))
    val rows = w1 ++ w2
    val mem = MemoryStream[(Long, String)]
    val q = DriftStream.jsTokenStream(
        mem.toDF().toDF("ts_ms", "text").withColumn("ts_t", timestamp_millis(col("ts_ms"))),
        "ts_t", "text", ref, width = "10 minutes", delay = "1 minute")
      .writeStream.format("memory").queryName("s_jstok").outputMode("append")
      .start()
    try {
      mem.addData(rows)
      q.processAllAvailable()
      mem.addData(Seq((base + 3600000L, "t0"))) // advance the watermark
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("s_jstok")
      .as[(Long, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(streamed.map(_._1) == Seq(base - 200000L, base + 400000L),
      s"expected both finalized windows, got $streamed")
    val Seq(inDist, flooded) = streamed
    assert(inDist._2 == 150L && flooded._2 == 150L)
    assert(inDist._3 < 0.01, s"in-distribution window scored ${inDist._3}")
    assert(flooded._3 > 0.3, s"OOV-flooded window scored ${flooded._3}")
    // batch parity: identical plan over the bounded frame, bit-equal JS
    val batch = DriftStream.jsTokenBatch(
        rows.toDF("ts_ms", "text").withColumn("ts_t", timestamp_millis(col("ts_ms"))),
        "ts_t", "text", ref, width = "10 minutes")
      .as[(Long, Long, Double)].collect().toSeq.sortBy(_._1)
    assert(batch == streamed, s"batch $batch != streamed $streamed")
  }

  test("PSI drift: sub-second windows keep distinct millisecond start keys (no whole-second aliasing)") {
    // the r9 ADVICE fix: window_start_ms via unix_millis — the previous
    // cast-to-long×1000 truncated to whole seconds, so two 500 ms
    // windows inside one second emitted the SAME key
    val refDf = (0 until 100).map(i => (i % 10).toDouble).toDF("v")
    val ref = graft.api.Drift.fitPsiReference(refDf, "v", nBins = 5)
    val base = 1700000000000L // second-aligned
    val rows = (0 until 40).map(i => (base + i * 100L, (i % 10).toDouble))
    val out = DriftStream.psiBatch(
        rows.toDF("ts_ms", "v").withColumn("ts_t", timestamp_millis(col("ts_ms"))),
        "ts_t", "v", ref, width = "500 milliseconds")
      .select("window_start_ms").as[Long].collect().sorted
    // 4 s of data → 8 distinct 500 ms windows, keys 500 apart
    assert(out.toSeq == (0 until 8).map(base + _ * 500L),
      s"aliased window keys: ${out.mkString(",")}")
  }

  test("streaming attribution ≡ batch q_attribution on in-order replay, click state crosses batches") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val lookback = 7L * 24 * 3600 * 1000
    // replay the REAL events table in global (ts_ms, event_id) order —
    // per-user in-order, the operator's arrival contract
    val rows = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts_ms"),
        (col("event_type") === "click").as("isClick"),
        (col("event_type") === "purchase").as("isPurchase"))
      .orderBy("ts_ms", "event_id")
      .as[(Long, Long, Long, Boolean, Boolean)].collect().toSeq
    val mem = MemoryStream[(Long, Long, Long, Boolean, Boolean)]
    val q = StatefulOps.streamingAttribution(
        mem.toDF().toDF("userId", "eventId", "tsMs", "isClick", "isPurchase")
          .as[StatefulOps.UserEvent], lookbackMs = lookback)
      .writeStream.format("memory").queryName("s_attr").outputMode("append")
      .start()
    try {
      // split mid-stream: many users' last-click state must carry over
      val (b1, b2) = rows.splitAt(rows.size / 2)
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("s_attr").as[StatefulOps.Attribution].collect()
      .map(a => a.event_id -> (a.user_id, a.purchase_ts_ms,
        a.attributed_click_id, a.lag_ms)).toMap
    val batch = graft.SparkEntry.queries("q_attribution")(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("purchase_ts_ms"),
        col("attributed_click_id"), col("lag_ms"))
      .collect().map { r =>
        def opt(i: Int): Option[Long] =
          if (r.isNullAt(i)) None else Some(r.getLong(i))
        r.getLong(0) -> (r.getLong(1), r.getLong(2), opt(3), opt(4))
      }.toMap
    assert(streamed.keySet == batch.keySet,
      s"purchase sets differ: ${streamed.keySet.diff(batch.keySet).take(5)} / " +
        s"${batch.keySet.diff(streamed.keySet).take(5)}")
    streamed.foreach { case (id, a) =>
      assert(a == batch(id), s"purchase $id: streaming $a != batch ${batch(id)}")
    }
    // the fixture actually exercises both arms
    assert(streamed.values.exists(_._3.isDefined) && streamed.values.exists(_._3.isEmpty))
  }

  test("streaming attribution: state expiry at the lookback bound is lossless; stale stamps clamp") {
    implicit val sqlCtx = spark.sqlContext
    val base = 1704067200000L // 2024-01-01 00:00:00 UTC millis
    val hour = 3600L * 1000
    val mem = MemoryStream[(Long, Long, Long, Boolean, Boolean)]
    val ev = mem.toDF().toDF("userId", "eventId", "tsMs", "isClick", "isPurchase")
      .withColumn("ts_t", timestamp_millis(col("tsMs")))
      .withWatermark("ts_t", "1 minute")
      .as[StatefulOps.UserEvent]
    val q = StatefulOps.streamingAttribution(ev, lookbackMs = 2 * hour,
        expireMs = 2 * hour)
      .writeStream.format("memory").queryName("s_attr_ttl").outputMode("append")
      .start()
    try {
      // u1 clicks, then purchases in-lookback (same batch)
      mem.addData((1L, 10L, base, true, false), (1L, 11L, base + hour, false, true))
      q.processAllAvailable()
      // another user advances the watermark far past u1's click + expiry
      mem.addData((2L, 20L, base + 10 * hour, true, false))
      q.processAllAvailable()
      // u1 purchases ON TIME while its state's timeout stamp (click+2h)
      // is already BEHIND the watermark — the group gets data before the
      // timeout sweep removes it, so the re-stamp must clamp to wm+1
      // instead of crashing; the purchase itself is beyond the lookback,
      // so the unattributed result is exactly batch semantics
      mem.addData((1L, 12L, base + 11 * hour, false, true))
      q.processAllAvailable()
      // a fresh on-time click+purchase pair still attributes normally
      // after all the expiry traffic above
      mem.addData((3L, 30L, base + 12 * hour, true, false),
        (3L, 31L, base + 13 * hour, false, true))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.table("s_attr_ttl").as[StatefulOps.Attribution].collect()
      .map(a => a.event_id -> a.attributed_click_id).toMap
    assert(out == Map(11L -> Some(10L), 12L -> None, 31L -> Some(30L)), out.toString)
  }

  test("streaming lag ≡ batch lag(1) window on in-order replay of real events") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val rows = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts_ms"), col("value"))
      .orderBy("ts_ms", "event_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    val mem = MemoryStream[(Long, Long, Long, Double)]
    val q = StatefulOps.streamingLag(
        mem.toDF().toDF("key", "id", "tsMs", "value").as[StatefulOps.ValRow])
      .writeStream.format("memory").queryName("s_lag").outputMode("append")
      .start()
    try {
      val (b1, b2) = rows.splitAt(rows.size / 2)
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("s_lag").as[StatefulOps.Lagged].collect()
      .map(l => l.id -> ((l.prev_value, l.gap_ms))).toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(asc("ts_ms"), asc("event_id"))
    val batch = Tables.events(spark, sfDir)
      .select(col("event_id"), lag("value", 1).over(w).as("pv"),
        (col("ts_ms") - lag("ts_ms", 1).over(w)).as("gap"))
      .collect().map { r =>
        def optD(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
        def optL(i: Int) = if (r.isNullAt(i)) None else Some(r.getLong(i))
        r.getLong(0) -> ((optD(1), optL(2)))
      }.toMap
    assert(streamed.keySet == batch.keySet, "every event must emit exactly once")
    streamed.foreach { case (id, v) =>
      assert(v == batch(id), s"event $id: streaming $v != batch ${batch(id)}")
    }
    // the fixture exercises both first-row nulls and real lags
    assert(streamed.values.exists(_._1.isEmpty) && streamed.values.exists(_._1.isDefined))
  }

  test("streaming funnel: error→purchase within tolerance ≡ the batch as-of funnel hit set") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val base = 1704067200000L
    val min = 60000L
    // (user, id, tsMs, isError, isPurchase): u1 converts in-tolerance,
    // u2 has no error, u3's error is outside the 10-min tolerance,
    // u4's error arrives AFTER the purchase
    val rows = Seq(
      (1L, 10L, base, true, false), (1L, 11L, base + 5 * min, false, true),
      (2L, 20L, base + min, false, true),
      (3L, 30L, base, true, false), (3L, 31L, base + 11 * min, false, true),
      (4L, 40L, base + 3 * min, false, true), (4L, 41L, base + 4 * min, true, false))
    val mem = MemoryStream[(Long, Long, Long, Boolean, Boolean)]
    // the streaming funnel IS streamingAttribution instantiated at
    // (error → purchase, 10 min): a purchase's hit ⇔ attributed id set
    val q = StatefulOps.streamingAttribution(
        mem.toDF().toDF("userId", "eventId", "tsMs", "isClick", "isPurchase")
          .as[StatefulOps.UserEvent], lookbackMs = 10 * min)
      .writeStream.format("memory").queryName("s_funnel").outputMode("append")
      .start()
    try {
      val (b1, b2) = rows.splitAt(3)
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("s_funnel").as[StatefulOps.Attribution]
      .collect().map(a => a.event_id -> a.attributed_click_id.isDefined).toMap
    val ev = rows.toDF("user_id", "event_id", "ts_ms", "is_err", "is_pur")
    val batch = graft.api.TimeSeries.asofJoin(
        ev.filter(col("is_pur")), "event_id", "ts_ms", "user_id",
        ev.filter(col("is_err")), "ts_ms", "user_id",
        toleranceMs = Some(10 * min))
      .select(col("event_id"), col("asof_ts_ms").isNotNull.as("hit"))
      .as[(Long, Boolean)].collect().toMap
    assert(streamed == batch, s"streaming $streamed != batch $batch")
    assert(streamed == Map(11L -> true, 20L -> false, 31L -> false, 40L -> false))
  }

  test("streaming sessionize ≡ batch session_window on replayed real events") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val gap = 1800000L // 30 min — the q_session_window gap
    val src = Tables.events(spark, sfDir)
      .filter(col("user_id").isNotNull && col("value").isNotNull)
    val rows = src
      .select(col("user_id"), col("event_id"), col("ts_ms"), col("value"))
      .orderBy("ts_ms", "event_id")
      .as[(Long, Long, Long, Double)].collect().toSeq
    val maxTs = rows.map(_._3).max
    val mem = MemoryStream[(Long, Long, Long, Double)]
    val ev = mem.toDF().toDF("key", "id", "tsMs", "value")
      .withColumn("ts_t", timestamp_millis(col("tsMs")))
      .withWatermark("ts_t", "1 minute")
      .as[StatefulOps.ValRow]
    val q = StatefulOps.streamingSessionize(ev, gapMs = gap)
      .writeStream.format("memory").queryName("s_sess").outputMode("append")
      .start()
    try {
      val (b1, b2) = rows.splitAt(rows.size / 2)
      mem.addData(b1); q.processAllAvailable()
      mem.addData(b2); q.processAllAvailable()
      // two sentinel batches: the first advances the watermark past every
      // real session's end + gap, the second gives the timeout sweep a
      // trigger that RUNS with that watermark (timeouts fire on the batch
      // after the one that moved the watermark)
      mem.addData((-1L, -1L, maxTs + gap + 600000L, 0.0)); q.processAllAvailable()
      mem.addData((-2L, -2L, maxTs + gap + 660000L, 0.0)); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table("s_sess").as[StatefulOps.Session].collect()
      .filter(_.key >= 0)
      .map(s => (s.key, s.session_start_ms) ->
        ((s.session_end_ms, s.cnt, s.sum_value))).toMap
    val batch = graft.api.TimeSeries.sessionize(src, "ts_t", "user_id",
        "30 minutes",
        Seq(count(lit(1)).as("cnt"),
          (floor(sum(col("value").cast("decimal(30,10)")).cast("double") * 10000)
            / 10000.0).as("sum_value"),
          max(col("ts_ms")).as("end_ms")))
      .collect().map { r =>
        (r.getAs[Long]("user_id"), r.getAs[Long]("session_start_ms")) ->
          ((r.getAs[Long]("end_ms"), r.getAs[Long]("cnt"),
            r.getAs[Double]("sum_value")))
      }.toMap
    assert(streamed.keySet == batch.keySet,
      s"session sets differ: ${streamed.keySet.diff(batch.keySet).take(5)} / " +
        s"${batch.keySet.diff(streamed.keySet).take(5)}")
    streamed.foreach { case (k, v) =>
      assert(v == batch(k), s"session $k: streaming $v != batch ${batch(k)}")
    }
    // the fixture must actually exercise multi-session keys
    assert(streamed.keySet.groupBy(_._1).exists(_._2.size >= 2),
      "expected at least one key with 2+ sessions")
  }

  // -------------------------------------------------------------------
  // Streaming EMBEDDING near-dup (vector mirror of streamingNearDedup)
  // -------------------------------------------------------------------

  /** Block-orthogonal test vectors (dim 64): base p is 1.0 over coords
    * [8p, 8p+8); its variant perturbs one in-block coord and adds a tiny
    * out-of-block component (cos ≈ 0.99); distinct blocks → exact cos 0
    * between different pairs, so each variant is near exactly ONE base
    * and the best-per-bucket emission cannot mask a second true pair. */
  private def vecBase(p: Int): Seq[Double] =
    Seq.tabulate(64)(i => if (i >= 8 * p && i < 8 * p + 8) 1.0 else 0.0)

  private def vecVariant(p: Int): Seq[Double] =
    Seq.tabulate(64) { i =>
      if (i == 8 * p) 0.7
      else if (i >= 8 * p && i < 8 * p + 8) 1.0
      else if (i == (8 * p + 37) % 64) 0.3
      else 0.0
    }

  /** 6 orthogonal (base, variant) true pairs + 2 solo vectors, in two
    * arrival batches: bases of pairs 0-4 and the solos first, then
    * variants 0-4 (every true pair crosses the batch boundary) and pair 5
    * whole (the same-batch case). Rows are (vid, emb, tsMs). */
  private val vecBatches: (Seq[(Long, Seq[Double], Long)], Seq[(Long, Seq[Double], Long)]) = (
    (0 until 5).map(p => (2L * p, vecBase(p), 1000L + p)) ++
      Seq((100L, vecBase(6), 1050L), (101L, vecBase(7), 1050L)),
    (0 until 5).map(p => (2L * p + 1, vecVariant(p), 2000L + p)) ++
      Seq((10L, vecBase(5), 2100L), (11L, vecVariant(5), 2101L)))

  private def vecDf: DataFrame =
    (vecBatches._1 ++ vecBatches._2).map(r => (r._1, r._2)).toDF("vid", "emb")

  /** Batch `Similarity.annPairs` over [[vecDf]] at the streaming specs'
    * banding (16 planes, 8 bands, cosine ≥ 0.8). */
  private def vecBatchPairs: Set[(Long, Long)] =
    graft.api.Similarity.annPairs(vecDf, "vid", "emb",
        threshold = 0.8, nPlanes = 16, bands = 8, dim = 64,
        multiProbe = true, maxBucketVecs = 0)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet

  /** Exact-cosine reconcile of vec near-dup matches, as (min id, max id). */
  private def verifiedVecPairs(matches: DataFrame): Set[(Long, Long)] =
    StatefulOps.exactVerifyVecMatches(matches, vecDf, "vid", "emb", threshold = 0.8)
      .collect().map(r => (math.min(r.getAs[Long]("id"), r.getAs[Long]("matched_id")),
        math.max(r.getAs[Long]("id"), r.getAs[Long]("matched_id")))).toSet

  private def vecNearDedup(in: DataFrame): Dataset[StatefulOps.VecMatch] =
    StatefulOps.streamingVecNearDedup(StatefulOps.vecBandRows(
        in.toDF("vid", "emb", "tsMs"), "vid", "emb", "tsMs",
        nPlanes = 16, bands = 8, dim = 64),
      nPlanes = 16, estThreshold = 0.0)

  test("streaming vec near-dup + exact-cosine reconcile ≡ batch annPairs on in-order replay") {
    implicit val sqlCtx = spark.sqlContext
    val (nPlanes, bands, thr) = (16, 8, 0.8)
    val df = vecDf
    val batchPairs = vecBatchPairs
    // fixture sanity: the exact pair set is exactly the 6 constructed
    // pairs (cos(base_p, variant_p) ≈ 0.993; cross pairs exactly 0) and
    // the LSH catches all of them here (orthogonal blocks hash apart)
    assert(batchPairs == (0 until 6).map(p => (2L * p, 2L * p + 1)).toSet,
      s"batch annPairs surprised: $batchPairs")

    val mem = MemoryStream[(Long, Seq[Double], Long)]
    val q = vecNearDedup(mem.toDF())
      .writeStream.format("memory").queryName("s_vecnd").outputMode("append")
      .start()
    try {
      mem.addData(vecBatches._1); q.processAllAvailable()
      mem.addData(vecBatches._2); q.processAllAvailable()
    } finally q.stop()
    val matches = spark.table("s_vecnd")
    // est-threshold-0 candidates include signature noise; the reconcile
    // must reduce them to EXACTLY the batch pair set
    val verified = verifiedVecPairs(matches)
    assert(verified == batchPairs,
      s"stream-batch mismatch: extra=${verified -- batchPairs} missing=${batchPairs -- verified}")
    // the verified sim is the exact rounded cosine batch annPairs reports
    val simByPair = graft.api.Similarity.annPairs(df, "vid", "emb",
        threshold = thr, nPlanes = nPlanes, bands = bands, dim = 64)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) ->
        r.getAs[Double]("sim")).toMap
    StatefulOps.exactVerifyVecMatches(matches, df, "vid", "emb", threshold = thr)
      .collect().foreach { r =>
        val key = (math.min(r.getAs[Long]("id"), r.getAs[Long]("matched_id")),
          math.max(r.getAs[Long]("id"), r.getAs[Long]("matched_id")))
        assert(r.getAs[Double]("sim") == simByPair(key),
          s"pair $key sim ${r.getAs[Double]("sim")} != batch ${simByPair(key)}")
      }
    // solos flagged nothing after the reconcile
    assert(!verified.flatMap(p => Set(p._1, p._2)).exists(Set(100L, 101L)),
      verified.toString)
  }

  test("streaming vec near-dup: band state survives restart; output and reconcile ≡ uninterrupted and batch") {
    val (ref, restarted) = uninterruptedAndRestarted("s_vecnd_restart",
      vecBatches._1, vecBatches._2)(vecNearDedup)
    def rows(df: DataFrame): Seq[(Long, Long, Long, Double)] =
      df.collect().map(r => (r.getAs[Long]("band"), r.getAs[Long]("id"),
        r.getAs[Long]("matched_id"), r.getAs[Double]("est_cos"))).toSeq.sorted
    val got = rows(restarted)
    // variant 1 meets base 0 only through the band state recovered from
    // the checkpoint: it arrived while the query was down
    assert(got.exists(r => r._2 == 1L && r._3 == 0L), got.toString)
    assert(got == rows(ref), s"restarted $got vs uninterrupted ${rows(ref)}")
    assert(verifiedVecPairs(restarted) == vecBatchPairs)
  }

  test("streaming vec near-dup: hot-bucket cap keeps earliest, probe rows never index") {
    implicit val sqlCtx = spark.sqlContext
    val v = vecBase(2)
    val mem = MemoryStream[(Long, Seq[Double], Long)]
    val rows = StatefulOps.vecBandRows(
      mem.toDF().toDF("vid", "emb", "tsMs"), "vid", "emb", "tsMs",
      nPlanes = 16, bands = 8, dim = 64)
    // cap 2: only the two EARLIEST vectors per bucket are retained;
    // later identical vectors still match against those representatives
    val q = StatefulOps.streamingVecNearDedup(rows, nPlanes = 16,
        estThreshold = 0.9, maxBucketVecs = 2)
      .writeStream.format("memory").queryName("s_veccap").outputMode("append")
      .start()
    try {
      mem.addData((20L, v, 1000L), (21L, v, 1001L), (22L, v, 1002L))
      q.processAllAvailable()
      mem.addData((23L, v, 2000L))
      q.processAllAvailable()
    } finally q.stop()
    val byDoc = spark.table("s_veccap").collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("matched_id")))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(byDoc.keySet == Set(21L, 22L, 23L), byDoc.toString)
    assert(byDoc.values.flatten.toSet.subsetOf(Set(20L, 21L)), byDoc.toString)
    // identical vectors estimate cos 1.0 (every sign bit agrees)
    assert(spark.table("s_veccap").collect()
      .forall(_.getAs[Double]("est_cos") >= 0.99))
  }

  /** The SemDeDup stream-batch fixture: the non-empty embeddings, the
    * batch `Similarity.semDedup` verdicts (id → (cell, keep, sim)), the
    * SAME fitted IVF centers (fit-once / apply-at-ingest: identical call
    * path and decimal-exact Lloyd update ⇒ identical centers) and the
    * stream rows (vid, emb, tsMs) in id order. */
  private lazy val semFixture = {
    val emb = Tables.embeddings(spark, sfDir)
      .filter(col("embedding").isNotNull && size(col("embedding")) > 0)
      .select(col("vec_id"), col("embedding"))
    val batch = semVerdicts(graft.api.Similarity.semDedup(emb, "vec_id", "embedding",
      simThreshold = 0.4, targetCell = 128, iterations = 1, nProbe = 2))
    val centers = graft.api.Similarity.fitIvf(emb, "vec_id", "embedding",
      graft.api.Similarity.ivfCellsFor(emb.count(), 128), 1)
    val rows = emb.collect()
      .map(r => (r.getAs[Long]("vec_id"),
        r.getSeq[Float](1).map(_.toDouble), 1000L + r.getAs[Long]("vec_id")))
      .sortBy(_._1).toSeq
    (emb, batch, centers, rows)
  }

  private def semVerdicts(df: DataFrame): Map[Long, (Long, Long, Option[Double])] =
    df.collect().map(r => r.getAs[Long]("id") ->
      ((r.getAs[Long]("cell"), r.getAs[Long]("keep"),
        Option(r.get(3)).map(_.asInstanceOf[Double])))).toMap

  private def semDedup(in: DataFrame): Dataset[StatefulOps.SemMatch] =
    StatefulOps.streamingSemDedup(StatefulOps.semCellRows(
      in.toDF("vid", "emb", "tsMs"), "vid", "emb", "tsMs", semFixture._3, nProbe = 2),
      simThreshold = 0.4)

  /** Batch-shaped verdicts from the static cell assignment of every
    * embedding plus the stream's accumulated `matches`. */
  private def streamSemVerdicts(matches: DataFrame): Map[Long, (Long, Long, Option[Double])] = {
    val staticCells = StatefulOps.semCellRows(
      semFixture._1.select(col("vec_id").as("vid"), col("embedding").as("emb"),
        (col("vec_id") + 1000L).as("tsMs")),
      "vid", "emb", "tsMs", semFixture._3, nProbe = 2).toDF()
    semVerdicts(StatefulOps.semDedupVerdicts(staticCells, matches))
  }

  private def semMismatch(got: Map[Long, (Long, Long, Option[Double])],
      batch: Map[Long, (Long, Long, Option[Double])]): String =
    s"extra=${got.filterNot { case (k, v) => batch.get(k).contains(v) }.take(5)} " +
      s"missing=${batch.filterNot { case (k, v) => got.get(k).contains(v) }.take(5)}"

  /** Streams `first` then `second` through one SemDeDup query. */
  private def semStream(name: String, first: Seq[(Long, Seq[Double], Long)],
      second: Seq[(Long, Seq[Double], Long)]): DataFrame = {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Double], Long)]
    val q = semDedup(mem.toDF())
      .writeStream.format("memory").queryName(name).outputMode("append").start()
    try {
      mem.addData(first); q.processAllAvailable()
      mem.addData(second); q.processAllAvailable()
    } finally q.stop()
    spark.table(name)
  }

  test("streaming SemDeDup ≡ batch Similarity.semDedup on an id-ordered replay") {
    val (_, batch, _, rows) = semFixture
    assert(batch.nonEmpty && batch.values.exists(_._2 == 0L),
      "fixture should contain at least one semantic duplicate")
    // two micro-batches, id-ordered: cross-batch AND within-batch dups
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val got = streamSemVerdicts(semStream("s_semdd", b1, b2))
    assert(got == batch, s"stream-batch mismatch: ${semMismatch(got, batch)}")
  }

  test("streaming SemDeDup ≡ batch on a REVERSED (larger-ids-first) replay") {
    // the r12 regression surface: a pair whose LARGER id arrives first
    // meets in state when the smaller id arrives — the one-directional
    // (vs.id < r.id) guard suppressed that match and wrongly emitted
    // the larger id as a keeper; bidirectional scoring restores batch
    // parity for any arrival order of the pairs that meet in state
    val (_, batch, _, rows) = semFixture
    // the HIGH-id half arrives a micro-batch BEFORE the low-id half:
    // every cross-half pair meets in state in the order the old guard
    // dropped
    val (lo, hi) = rows.splitAt(rows.length / 2)
    val got = streamSemVerdicts(semStream("s_semdd_rev", hi, lo))
    assert(got == batch, s"reversed-order stream-batch mismatch: ${semMismatch(got, batch)}")
  }

  test("streaming SemDeDup: cell state survives restart; output and verdicts ≡ uninterrupted and batch") {
    val (_, batch, _, rows) = semFixture
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val (ref, restarted) = uninterruptedAndRestarted("s_semdd_restart", b1, b2)(semDedup)
    def matches(df: DataFrame): Seq[(Int, Long, Long, Double)] =
      df.collect().map(r => (r.getAs[Int]("cell"), r.getAs[Long]("id"),
        r.getAs[Long]("matched_id"), r.getAs[Double]("sim"))).toSeq.sorted
    val got = matches(restarted)
    // some duplicate pair straddles the restart: one side arrived while
    // the query was down and meets the other only through recovered state
    val firstIds = b1.map(_._1).toSet
    assert(got.exists(m => firstIds(m._2) != firstIds(m._3)), got.toString)
    assert(got == matches(ref), s"restarted $got vs uninterrupted ${matches(ref)}")
    val verdicts = streamSemVerdicts(restarted)
    assert(verdicts == batch, s"restarted stream-batch mismatch: ${semMismatch(verdicts, batch)}")
  }
}
