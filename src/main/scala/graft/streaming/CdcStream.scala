package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming form of [[graft.api.Cdc]]: fold an unbounded changelog into
  * per-key materialized state at ingest, emitting one upsert/delete
  * record per touched key per micro-batch — the stream a downstream
  * writer applies to the base snapshot incrementally instead of
  * re-running the batch merge over the full feed.
  *
  * State per key is ONE row (the winning change so far) — the minimum
  * any changelog materialization can hold; unlike the dedup/near-dup
  * state this must not expire (a TTL would silently resurrect
  * overwritten versions on re-delivery), so state size = live-key count
  * × a few fields. Late or replayed changes are folded by the same
  * last-writer election as the batch operator, making the stream
  * ORDER-INSENSITIVE: any batch split / interleaving of the same
  * changes converges to the same final emission per key
  * (batch parity property-tested in CdcStreamSpec).
  */
object CdcStream {

  /** One changelog record: `(seq, seq2)` is the writer ordering (e.g.
    * timestamp + unique event id), `op` the change kind, `value` the
    * payload. */
  final case class Change(key: Long, seq: Long, seq2: Long, op: String, value: Double)

  /** The per-key winner retained across batches. NOTE state-store schema:
    * evolving this case class breaks checkpoint compatibility (same
    * contract as StatefulOps.FpState). */
  final case class KeyState(seq: Long, seq2: Long, op: String, value: Double)

  /** Emitted once per touched key per micro-batch: the key's CURRENT
    * materialized row (`cdc_action` = upsert) or its tombstone
    * (`cdc_action` = delete). */
  final case class Upsert(key: Long, value: Double, cdc_action: String)

  /** The same (seq, seq2, op, value) lexicographic election as the batch
    * operator's `max(struct(seq…, op, payload…))` — op/payload only break
    * exact (seq, seq2) ties, where Scala's ASCII string ordering matches
    * Spark's binary struct comparison. */
  private def winner(a: KeyState, b: KeyState): KeyState = {
    val cmp = implicitly[Ordering[(Long, Long, String, Double)]]
      .compare((a.seq, a.seq2, a.op, a.value), (b.seq, b.seq2, b.op, b.value))
    if (cmp >= 0) a else b
  }

  /** Apply the changelog stream: per micro-batch, each touched key folds
    * its arrivals into the retained winner and emits the resulting
    * upsert/delete. The LAST emission per key across the run equals the
    * batch `Cdc.applyChanges` election over all changes seen. */
  def applyChangesStream(changes: Dataset[Change],
      deleteOp: String): Dataset[Upsert] = {
    implicit val stateEnc = Encoders.product[KeyState]
    implicit val outEnc = Encoders.product[Upsert]
    implicit val keyEnc = Encoders.scalaLong
    changes.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout()) {
        (key: Long, it: Iterator[Change], state: GroupState[KeyState]) =>
          val arrived = it.map(c => KeyState(c.seq, c.seq2, c.op, c.value))
          val folded = (state.getOption.iterator ++ arrived).reduce(winner)
          state.update(folded)
          val action = if (folded.op == deleteOp) "delete" else "upsert"
          Iterator(Upsert(key, folded.value, action))
      }
  }

  // ------------------------------------------- bounded-state snapshot

  /** One snapshot row: the FULL per-key winner tuple — (seq, seq2, op,
    * value), not just the payload — because the snapshot is what late
    * arrivals re-elect against after a state trim. Tombstones (op =
    * deleteOp) are RETAINED in the snapshot: a delete must keep beating
    * late lower-seq upserts for its key; [[readSnapshot]] filters them
    * out of the production view. */
  final case class SnapRow(key: Long, seq: Long, seq2: Long, op: String, value: Double)

  /** [[applyChangesStream]] with BOUNDED state: per-key state expires
    * once the EVENT-TIME watermark passes the key's last-seen `seq`
    * plus `stateTtlMs` (the trim — on timeout the key's row is simply
    * dropped; event-time TTL is the repo's stateful-op convention —
    * processing-time timeouts at trigger-0 run timeout-check batches
    * continuously, a busy loop with no data signal). `seq` is treated
    * as epoch-millis event time and drives the watermark; the winner's
    * seq is by construction the max seen, so the deadline never moves
    * backwards. Emits the full winner tuple per touched key per batch
    * for [[mergeSnapshot]] to fold.
    *
    * Post-trim semantics: a late change for a trimmed key re-enters
    * with empty state, so the STREAM emission for that key may be a
    * stale loser — by design (its re-stamped deadline clamps to
    * watermark + 1, the streamingAttribution convention, so it trims
    * again promptly). Correctness lives in the snapshot merge, which
    * re-elects every batch row against the persisted winner; the
    * snapshot therefore equals the batch [[graft.api.Cdc.applyChanges]]
    * election over every change ever seen, for ANY trim schedule,
    * batch split, or restart (CdcStreamSpec pins snapshot-only-restart
    * parity). State size is bounded by the key count ACTIVE within one
    * TTL window instead of the live-key count — the production story
    * for a changelog whose key universe grows without bound. */
  def applyChangesStreamBounded(changes: Dataset[Change], stateTtlMs: Long,
      watermarkDelay: String = "0 seconds"): Dataset[SnapRow] = {
    require(stateTtlMs > 0, s"stateTtlMs must be positive, got $stateTtlMs")
    implicit val stateEnc = Encoders.product[KeyState]
    implicit val outEnc = Encoders.product[SnapRow]
    implicit val keyEnc = Encoders.scalaLong
    val withWm = changes
      .withColumn("__ts", timestamp_millis(col("seq")))
      .withWatermark("__ts", watermarkDelay)
      .as[Change](Encoders.product[Change])
    withWm.groupByKey(_.key)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout()) {
        (key: Long, it: Iterator[Change], state: GroupState[KeyState]) =>
          if (state.hasTimedOut) {
            state.remove() // the trim: the snapshot holds this key's winner
            Iterator.empty
          } else {
            val arrived = it.map(c => KeyState(c.seq, c.seq2, c.op, c.value))
            val folded = (state.getOption.iterator ++ arrived).reduce(winner)
            state.update(folded)
            // a late arrival's deadline may lie behind the watermark —
            // clamp to wm + 1 (setTimeoutTimestamp rejects the past)
            state.setTimeoutTimestamp(
              math.max(folded.seq + stateTtlMs, state.getCurrentWatermarkMs() + 1))
            Iterator(SnapRow(key, folded.seq, folded.seq2, folded.op, folded.value))
          }
      }
  }

  private def fs(spark: SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir).getFileSystem(
      spark.sparkContext.hadoopConfiguration)

  /** The committed snapshot version under `snapshotDir`, read from the
    * `_latest` pointer (None before the first merge). */
  def latestVersion(spark: SparkSession, snapshotDir: String): Option[Long] = {
    val f = fs(spark, snapshotDir)
    val p = new org.apache.hadoop.fs.Path(snapshotDir, "_latest")
    if (!f.exists(p)) None
    else {
      val in = f.open(p)
      try Some(new String(in.readAllBytes(), "UTF-8").trim.toLong)
      finally in.close()
    }
  }

  /** Fold one micro-batch of [[SnapRow]] winners into the persisted
    * snapshot: union with the current version, re-elect per key with
    * the SAME lexicographic struct max as the batch operator, write the
    * result as a NEW key-clustered version (Writer.writeClustered —
    * range-clustered files so key lookups and the next merge's
    * per-key election prune), then flip the `_latest` pointer
    * atomically (tmp + rename) and drop versions older than the
    * previous one. Version numbers are `latest + 1`, never the batch
    * id: the election is a per-key max, so re-merging a replayed batch
    * is IDEMPOTENT (same winners, one redundant version) — the merge
    * needs only at-least-once delivery, which is what makes blowing
    * away the entire checkpoint/state a supported restart mode.
    * Deployed as `applyChangesStreamBounded(...).writeStream
    * .foreachBatch(mergeSnapshot)` with a checkpoint; CdcStreamSpec
    * drives the same pieces by hand and pins the snapshot-only restart.
    * Version directories make the write crash-safe: a killed merge
    * leaves a dangling unreferenced directory, never a half-written
    * referenced snapshot. */
  def mergeSnapshot(spark: SparkSession, batch: DataFrame,
      snapshotDir: String, nFiles: Int = 4): Unit = {
    import org.apache.hadoop.fs.Path
    if (batch.isEmpty) return // no election changes; skip the version churn
    val f = fs(spark, snapshotDir)
    val cur = latestVersion(spark, snapshotDir)
    val next = cur.getOrElse(-1L) + 1
    val base = cur.map(v => spark.read.parquet(s"$snapshotDir/v$v"))
    val all = base.map(_.unionByName(batch)).getOrElse(batch)
    val merged = all
      .groupBy(col("key"))
      .agg(max(struct(col("seq"), col("seq2"), col("op"), col("value"))).as("__w"))
      .select(col("key"), col("__w.seq").as("seq"), col("__w.seq2").as("seq2"),
        col("__w.op").as("op"), col("__w.value").as("value"))
    graft.api.Writer.writeClustered(merged, s"$snapshotDir/v$next",
      Seq("key"), nFiles)
    val tmp = new Path(snapshotDir, s"_latest.tmp$next")
    val out = f.create(tmp, true)
    try out.write(next.toString.getBytes("UTF-8")) finally out.close()
    val ptr = new Path(snapshotDir, "_latest")
    if (f.exists(ptr)) f.delete(ptr, false)
    f.rename(tmp, ptr)
    // keep the previous version for the reader that may hold it open;
    // everything older is unreachable
    cur.foreach { prev =>
      val it = f.listStatus(new Path(snapshotDir))
      it.foreach { st =>
        val n = st.getPath.getName
        if (n.startsWith("v") && n.drop(1).forall(_.isDigit) &&
            n.drop(1).toLong < prev)
          f.delete(st.getPath, true)
      }
    }
  }

  /** The production view of the snapshot: live rows only (tombstones
    * filtered), (key, value). */
  def readSnapshot(spark: SparkSession, snapshotDir: String,
      deleteOp: String): DataFrame =
    readSnapshotRaw(spark, snapshotDir)
      .filter(col("op") =!= deleteOp).select(col("key"), col("value"))

  /** The raw snapshot: full winner tuples including tombstones — what
    * the merge elects against and what audits compare to the batch
    * election with `keepDeletes = true`. */
  def readSnapshotRaw(spark: SparkSession, snapshotDir: String): DataFrame = {
    val v = latestVersion(spark, snapshotDir).getOrElse(
      throw new IllegalStateException(s"no committed snapshot under $snapshotDir"))
    spark.read.parquet(s"$snapshotDir/v$v")
  }
}
