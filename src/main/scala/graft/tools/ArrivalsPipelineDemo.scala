package graft.tools

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** End-to-end arrivals-at-scale demo — the FULL reference dataflow
  * (directory scan → candidate filter → pick order → project → commit
  * by rename; CephFsSource.java:128-174) fused with the LLM-pipeline
  * ingest operator it was rebuilt to feed: the `arrivals` DSv2 source
  * drives a large file directory straight into
  * [[graft.streaming.StatefulOps.streamingDedup]] (exactly-once record
  * election over at-least-once deliveries, at ingest), with
  * `ReportsSourceMetrics` counters asserted per
  * progress event and the dedup verdicts asserted against the batch
  * keep-min election.
  *
  *   SPARK_GRAFT_CPUS=8 sbt 'runMain graft.tools.ArrivalsPipelineDemo 100000'
  *
  * Layout: `nFiles` files named `w_<seq>_r<record>.txt` — the
  * at-least-once writer-fleet shape: every 10th delivery (seq%10==9)
  * is a RETRY of the previous record (same record id, new file), so
  * exactly-once ingestion must dedup deliveries by record id. The
  * arrivals source's event record carries the name (the reference
  * delivers file EVENTS, not contents — CephFSEventReader.java:89-94),
  * so the fingerprint is the record id parsed from it; the expected
  * election is PURE: record seq−1 collects deliveries {seq−1, seq},
  * everything else is a single delivery. Zero-padded uniform-prefix
  * names make consumeOrder=OLDEST admission seq-ordered (equal-mtime
  * ties break lexicographically — CephFSEventReader.java:139-140).
  *
  * Asserted invariants (each `require`d, so a regression fails loudly):
  *  - every micro-batch's source progress carries the full metrics map
  *    (pendingFiles / filesOffered / filesRenamed / renameFailures /
  *    listingCalls), and rows flow through more than one trigger
  *    (maxFilesPerTrigger admission + cursored listing exercised);
  *  - Σ numInputRows across progress events == nFiles (exactly-once
  *    offer accounting);
  *  - final counters: renameFailures == 0, filesOffered == nFiles,
  *    pending/renamed within one batch of drained (rename-after-
  *    checkpoint lags the progress event by design); on disk, exactly
  *    nFiles `.COMPLETED` files remain (the commit ground truth);
  *  - the streaming dedup verdicts equal the batch keep-min election
  *    row for row (canonical ids + per-fingerprint totals).
  */
object ArrivalsPipelineDemo {
  def main(args: Array[String]): Unit = {
    val nFiles = args.headOption.map(_.toInt).getOrElse(100000)
    val dupEvery = 10
    val dir = args.drop(1).headOption.map(new File(_)).getOrElse(
      Files.createTempDirectory("arrivals-e2e-").toFile)
    dir.mkdirs()

    // deterministic delivery stream: seq%10==9 RETRIES record seq-1
    def record(i: Int): Int = if (i % dupEvery == dupEvery - 1) i - 1 else i
    val t0 = System.nanoTime()
    var i = 0
    while (i < nFiles) {
      val r = record(i)
      Files.write(Paths.get(dir.getPath, f"w_$i%08d_r$r%08d.txt"),
        s"doc $r alpha beta gamma ${r * 7 % 997} delta"
          .getBytes(StandardCharsets.UTF_8))
      i += 1
    }
    val writeSec = (System.nanoTime() - t0) / 1e9

    val spark = graft.Session.local()
    import spark.implicits._

    val t1 = System.nanoTime()
    // ~5 triggers at any demo size (cap 20000/trigger at full scale) so
    // the admission cap + cursored listing are always exercised
    val perTrigger = math.min(20000, math.max(1, nFiles / 5))
    val rows = spark.readStream.format("arrivals")
      .option("path", dir.getPath)
      .option("maxFilesPerTrigger", perTrigger.toString)
      .load()
      .select(
        regexp_extract(col("file_name"), "_r(\\d+)", 1).as("fp"),
        regexp_extract(col("file_name"), "w_(\\d+)_", 1).cast("long").as("id"),
        unix_millis(col("last_modified")).as("tsMs"))
      .as[graft.streaming.StatefulOps.FpDoc]
    val q = graft.streaming.StatefulOps.streamingDedup(rows)
      .writeStream.format("memory").queryName("arrivals_dedup")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamSec = (System.nanoTime() - t1) / 1e9

    // --- source metrics, per progress event and cumulative ---
    val progresses = q.recentProgress.toSeq.filter(_.sources.nonEmpty)
    val withRows = progresses.filter(_.sources.head.numInputRows > 0)
    require(withRows.size > 1,
      s"expected >1 data trigger at maxFilesPerTrigger=$perTrigger, got ${withRows.size}")
    val metricKeys = Seq("pendingFiles", "filesOffered", "filesRenamed",
      "renameFailures", "listingCalls")
    withRows.foreach { p =>
      val m = p.sources.head.metrics
      metricKeys.foreach(k => require(m.containsKey(k),
        s"source progress missing metric '$k': $m"))
    }
    val offered = withRows.map(_.sources.head.numInputRows).sum
    require(offered == nFiles, s"numInputRows sum $offered != $nFiles")
    val lastM = withRows.last.sources.head.metrics
    require(lastM.get("renameFailures").toLong == 0, s"rename failures: $lastM")
    require(lastM.get("filesOffered").toLong == nFiles,
      s"filesOffered ${lastM.get("filesOffered")} != $nFiles")
    // the pending gauge is set at planning time, BEFORE the final batch
    // is offered — at the last data progress it reads exactly that
    // batch's size; zero-ness after drain is asserted by the disk count
    require(lastM.get("pendingFiles").toLong <= perTrigger,
      s"backlog not drained to within one batch: $lastM")
    // batch N's renames run in commit() AFTER its progress event is
    // emitted (rename-after-checkpoint IS the exactly-once fix over the
    // reference), so the last data progress lags one batch; the counter
    // must be monotone and within one batch of complete — the DISK is
    // the commit ground truth, asserted below
    val renamedSeq = withRows.map(_.sources.head.metrics.get("filesRenamed").toLong)
    require(renamedSeq.zip(renamedSeq.tail).forall { case (a, b) => a <= b },
      s"filesRenamed must be monotone: $renamedSeq")
    require(renamedSeq.last >= nFiles - perTrigger,
      s"filesRenamed ${renamedSeq.last} lags more than one batch behind $nFiles")
    val completed = dir.listFiles().count(_.getName.endsWith(".COMPLETED"))
    require(completed == nFiles, s"on-disk .COMPLETED $completed != $nFiles")

    // --- dedup verdicts ≡ the batch keep-min election ---
    // fold the per-batch FpUpdate rows to final (canonical, total) per fp
    val got = spark.table("arrivals_dedup")
      .groupBy("fp")
      .agg(min("canonical_id").as("canonical"), sum("batch_docs").as("total"))
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("canonical"), r.getAs[Long]("total")))).toMap
    val expected = (0 until nFiles)
      .groupBy(record)
      .map { case (r, ids) =>
        f"$r%08d" -> ((ids.min.toLong, ids.size.toLong))
      }
    require(got == expected,
      s"stream-batch dedup mismatch: got ${got.size} fps, expected ${expected.size}; " +
        s"sample diff=${expected.filterNot { case (k, v) => got.get(k).contains(v) }.take(3)}")
    val nDup = nFiles / dupEvery
    println(s"""{"demo":"arrivals_e2e","n_files":$nFiles,"triggers":${withRows.size},""" +
      s""""files_offered":$offered,"files_renamed_on_disk":$completed,""" +
      s""""rename_failures":0,"listing_calls":${lastM.get("listingCalls")},""" +
      s""""distinct_records":${got.size},"retried_deliveries":$nDup,""" +
      s""""write_sec":${math.round(writeSec * 10) / 10.0},""" +
      s""""stream_sec":${math.round(streamSec * 10) / 10.0},"parity":"exact"}""")
    spark.stop()
    // best-effort cleanup of the demo directory
    dir.listFiles().foreach(_.delete()); dir.delete()
  }
}
