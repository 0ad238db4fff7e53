package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerDrain
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

import graft.streaming.StatefulOps.{FpDoc, FpUpdate}

/** Writer-fleet layout of at-least-once deliveries, one tiny file per
  * delivery named `w_<seq>_r<record>.txt`: every 10th delivery retries
  * the previous delivery's record. The seed picks which position in each
  * ten is the retry, the record numbering and the file bodies. */
final class Layout(seed: Long) {
  private val retryPos = Math.floorMod(seed, 10L)
  // a bijection on [0, 1e8): multiplier coprime to 10, seeded offset
  private val mul = Layout.odd5(seed * 0x9E3779B97F4A7C15L)
  private val add = Math.floorMod(seed * 1000003L + 17L, Layout.Space)

  def isRetry(seq: Long): Boolean = seq > 0 && seq % 10 == retryPos

  /** Record id of delivery `seq`: retries repeat their predecessor's. */
  def record(seq: Long): Long = {
    val s = if (isRetry(seq)) seq - 1 else seq
    Math.floorMod(s * mul + add, Layout.Space)
  }

  def name(seq: Long): String = f"w_$seq%08d_r${record(seq)}%08d.txt"

  def body(seq: Long): Array[Byte] =
    s"doc ${record(seq)} alpha beta ${(record(seq) * 7 + seed) % 997} delta"
      .getBytes(StandardCharsets.UTF_8)
}

object Layout {
  val Space = 100000000L
  private def odd5(x: Long): Long = {
    var m = Math.floorMod(x, Space) | 1L
    while (m % 5 == 0) m += 2
    m
  }
}

/** The reference dataflow under an external load generator:
  * `format("arrivals")` → record-id projection →
  * `StatefulOps.streamingDedup` → a `foreachBatch` sink that stamps the
  * time each batch is emitted. An untimed warm-up round runs first, then
  * `rounds` timed rounds of two phases, each phase a query over its own
  * directory and checkpoint:
  *   - drain: the query drains a pre-written backlog in admission-capped
  *     triggers, timed from query start until every file is emitted and
  *     renamed;
  *   - steady segment: the query is primed with a few files, then fed by
  *     an open loop writing one delivery every 1/rate seconds on its own
  *     thread, each delivery timed from its scheduled write time.
  * Spreading the phases over the run, instead of running each once,
  * keeps a burst of load from elsewhere on the machine out of most of
  * them. Queries take disjoint ranges of delivery numbers, and a range
  * never starts with a retry, so every record's deliveries meet in one
  * query. */
final class Ingest(spark: SparkSession, root: File, seed: Long, trace: Trace,
    backlog: Int, rounds: Int, maxPerTrigger: Int, rate: Double, steadySeconds: Double) {
  import spark.implicits._

  private val layout = new Layout(seed)

  final case class Delivery(seq: Long, record: Long, query: Int, phase: String,
      sched_ms: Double, written_ms: Double)
  final case class Batch(query: Int, batch_id: Long, emit_ms: Double, rows: Seq[FpUpdate])
  final case class Progress(run_id: String, batch_id: Long, start_ms: Long, input_rows: Long,
      duration_ms: Map[String, Long], source: Map[String, String],
      state_rows: Long, state_bytes: Long, state_commit_ms: Long)

  private val batches = new ConcurrentLinkedQueue[Batch]()
  private val progress = new ConcurrentLinkedQueue[Progress]()
  private val deliveries = new ConcurrentLinkedQueue[Delivery]()
  private val emitted = new AtomicLong()
  private val runIds = mutable.ArrayBuffer[String]()
  private var nextSeq = 0L

  private def nowMs: Double = Trace.now() / 1e6

  private def write(dir: File, seq: Long): Unit =
    Files.write(Paths.get(dir.getPath, layout.name(seq)), layout.body(seq))

  /** The next `n` delivery numbers, starting at one that is no retry. */
  private def takeSeqs(n: Int): Seq[Long] = {
    if (layout.isRetry(nextSeq)) nextSeq += 1
    val out = nextSeq until nextSeq + n
    nextSeq += n
    out
  }

  private def completed(dir: File, n: Long): Boolean =
    dir.list().count(_.endsWith(".COMPLETED")) >= n

  private def await(q: StreamingQuery, what: String, timeoutS: Double, pollMs: Long)(
      cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + (timeoutS * 1e9).toLong
    while (!cond) {
      q.exception.foreach(e => throw e)
      require(System.nanoTime() < deadline, s"timed out waiting for $what")
      Thread.sleep(pollMs)
    }
  }

  /** Waits until `n` deliveries are emitted (polled cheaply) and every
    * file is renamed (polled by listing the directory, so less often). */
  private def awaitDone(q: StreamingQuery, dir: File, n: Long, what: String): Unit = {
    await(q, s"$what emission", 120, 5)(emitted.get >= n)
    await(q, s"$what renames", 60, 10)(completed(dir, n))
  }

  private def start(dir: File, ckpt: File, query: Int, timed: Boolean) = {
    val source = if (timed) classOf[TimedArrivals].getName else "arrivals"
    val rows = spark.readStream.format(source)
      .option("path", dir.getPath)
      .option("maxFilesPerTrigger", maxPerTrigger.toString)
      .load()
      .select(
        regexp_extract(col("file_name"), "_r(\\d+)", 1).as("fp"),
        regexp_extract(col("file_name"), "w_(\\d+)_", 1).cast("long").as("id"),
        unix_millis(col("last_modified")).as("tsMs"))
      .as[FpDoc]
    val sink: (Dataset[FpUpdate], Long) => Unit = { (ds, id) =>
      val out = ds.collect()
      batches.add(Batch(query, id, nowMs, out.toSeq))
      emitted.addAndGet(out.map(_.batch_docs).sum)
    }
    emitted.set(0)
    val q = graft.streaming.StatefulOps.streamingDedup(rows)
      .writeStream.foreachBatch(sink)
      .option("checkpointLocation", ckpt.getPath)
      .start()
    runIds += q.runId.toString
    q
  }

  private val listener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val st = p.stateOperators.headOption
      progress.add(Progress(p.runId.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.numInputRows, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.sources.headOption.map(_.metrics.asScala.toMap).getOrElse(Map.empty),
        st.map(_.numRowsTotal).getOrElse(0L), st.map(_.memoryUsedBytes).getOrElse(0L),
        st.map(_.commitTimeMs).getOrElse(0L)))
    }
  }

  /** Untimed: a round with a one-trigger drain and a full steady
    * segment, in its own directories, so both phases' code is compiled
    * before timing. */
  def warmUp(): Unit = {
    writeBacklog(-1, maxPerTrigger)
    drain(-1, maxPerTrigger)
    segment(-1, steadySeconds / rounds)
    deliveries.clear(); batches.clear(); runIds.clear()
  }

  private def label(r: Int): String = if (r < 0) "warm" else r.toString

  /** Writes the backlog of round `r`'s drain; returns the seconds spent
    * writing. */
  def writeBacklog(r: Int, files: Int = backlog): Double = {
    val dir = new File(root, s"drain-${label(r)}"); dir.mkdirs()
    val t0 = System.nanoTime()
    takeSeqs(files).foreach { s =>
      write(dir, s)
      deliveries.add(Delivery(s, layout.record(s), 2 * r, "drain", 0, 0))
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** Round `r`'s drain (query 2r, backlog already written). */
  private def drain(r: Int, files: Int = backlog): Map[String, Any] = {
    val dir = new File(root, s"drain-${label(r)}")
    val t0 = nowMs
    val q = start(dir, new File(root, s"drain-${label(r)}-ckpt"), 2 * r, timed = trace.enabled)
    try awaitDone(q, dir, files, s"drain ${label(r)}") finally q.stop()
    Map("query" -> 2 * r, "start_ms" -> t0, "end_ms" -> nowMs)
  }

  /** Round `r`'s steady segment (query 2r + 1): the open loop runs for
    * `seconds`, after priming has paid the query's first-trigger cost. */
  private def segment(r: Int, seconds: Double): Map[String, Any] = {
    val query = 2 * r + 1
    val dir = new File(root, s"steady-${label(r)}"); dir.mkdirs()
    val q = start(dir, new File(root, s"steady-${label(r)}-ckpt"), query, timed = trace.enabled)
    val n = math.round(rate * seconds).toInt
    var t1, t2 = 0.0
    try {
      val prime = takeSeqs(Ingest.Prime)
      prime.foreach { s =>
        val t = nowMs
        write(dir, s)
        deliveries.add(Delivery(s, layout.record(s), query, "prime", t, t))
      }
      awaitDone(q, dir, prime.size, "priming")
      t1 = nowMs
      // open loop: delivery i is due at t1 + i/rate whatever the system
      // is doing; lateness is recorded, never absorbed into the schedule
      val seqs = takeSeqs(n)
      val gen = new Thread(() => seqs.zipWithIndex.foreach { case (seq, i) =>
        val due = t1 + i * 1000.0 / rate
        val wait = due - nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        write(dir, seq)
        deliveries.add(Delivery(seq, layout.record(seq), query, "steady", due, nowMs))
      }, "graftbench-generator")
      gen.setDaemon(true)
      gen.start()
      gen.join()
      awaitDone(q, dir, prime.size + n, s"segment ${label(r)}")
      t2 = nowMs
    } finally q.stop()
    Map("query" -> query, "start_ms" -> t1, "end_ms" -> t2)
  }

  /** Runs the timed rounds (the first backlog is already written);
    * returns the run log for the metric and output checks, which happen
    * outside the JVM. */
  def run(): Map[String, Any] = {
    spark.streams.addListener(listener)
    val (drainLog, segmentLog) = (0 until rounds).map { r =>
      if (r > 0) writeBacklog(r)
      (drain(r), segment(r, steadySeconds / rounds))
    }.unzip
    // progress events are delivered asynchronously: wait for the last ones
    ListenerDrain(spark.sparkContext)
    spark.streams.removeListener(listener)
    val queryOf = runIds.zipWithIndex.toMap
    Map(
      "drains" -> drainLog, "segments" -> segmentLog,
      "deliveries" -> deliveries.asScala.toSeq.sortBy(_.seq),
      "batches" -> batches.asScala.toSeq.sortBy(b => (b.query, b.batch_id)),
      "progress" -> progress.asScala.toSeq.map(p => Map(
        "query" -> queryOf(p.run_id), "batch_id" -> p.batch_id, "start_ms" -> p.start_ms,
        "input_rows" -> p.input_rows, "duration_ms" -> p.duration_ms, "source" -> p.source,
        "state_rows" -> p.state_rows, "state_bytes" -> p.state_bytes,
        "state_commit_ms" -> p.state_commit_ms))
        .sortBy(m => (m("query").asInstanceOf[Int], m("batch_id").asInstanceOf[Long])))
  }

  /** Trigger spans with the engine's phase durations laid end to end in
    * execution order (the progress event reports durations, not starts). */
  def triggerSpans(): Unit = {
    val queryOf = runIds.zipWithIndex.toMap
    progress.asScala.foreach { p =>
      val group = s"trigger-${queryOf(p.run_id)}-${p.batch_id}"
      val id = trace.newId()
      val start = Trace.msToNs(p.start_ms)
      var at = start
      Ingest.PhaseOrder.foreach { k =>
        p.duration_ms.get(k).foreach { ms =>
          trace.add(Span(trace.newId(), id, group, k, at, at + Trace.msToNs(ms)))
          at += Trace.msToNs(ms)
        }
      }
      trace.add(Span(id, 0L, group, "trigger", start,
        start + Trace.msToNs(p.duration_ms.getOrElse("triggerExecution", 0L))))
    }
  }
}

object Ingest {
  /** Files that prime the steady query before its open loop starts. */
  val Prime = 20
  val PhaseOrder = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")
}
