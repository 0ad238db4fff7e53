package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** The `localCheckpoint` lifecycle of graft's iterative operators:
  * pin ([[Ckpt.apply]]), lazy-pin ([[Ckpt.lzy]]), track
  * ([[Ckpt.tracking]]) and drop ([[Ckpt.drop]]).
  *
  * Iterative operators ([[TextDedup]]'s contraction rounds,
  * [[TextAnalysis.bpeLearn]]) truncate lineage with eager
  * localCheckpoints and drop each round's blocks as soon as the next is
  * materialized — but a COMPOSED caller like
  * `Pipeline.prepare(nearDedup = true)` also needs an end-of-call sweep
  * for the blocks that legitimately outlive their operator (the input
  * snapshot, the contraction's converged round). Diffing
  * `sc.getPersistentRDDs` snapshots for that sweep is wrong on a shared
  * SparkContext: an RDD persisted CONCURRENTLY by another thread between
  * the snapshot and the sweep would be unpersisted too, and for a
  * localCheckpoint'd frame that loss is unrecoverable (lineage is gone).
  *
  * So ownership is tracked explicitly instead: every graft checkpoint
  * site calls [[Ckpt.apply]], which registers the pinned RDD id with the
  * innermost active [[Ckpt.tracking]] scope — a thread-local
  * (`DynamicVariable`), correct here because graft's iterative operators
  * run their jobs eagerly on the calling thread. A sweep then touches
  * exactly the ids its own scope created, never a concurrent caller's.
  */
private[graft] object Ckpt {

  private val scope =
    new scala.util.DynamicVariable[Option[scala.collection.mutable.Set[Int]]](None)

  /** The materialized RDD id behind a localCheckpoint'd frame. */
  def rddId(df: DataFrame): Option[Int] = df.queryExecution.analyzed match {
    case lr: LogicalRDD => Some(lr.rdd.id)
    case _ => None
  }

  /** `df.localCheckpoint()` + register the pinned block's RDD id with
    * the active tracking scope (no-op when none is active). */
  def apply(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint()
    scope.value.foreach(set => rddId(out).foreach(set += _))
    out
  }

  /** LAZY localCheckpoint (r13 optimization, guide §1.2 "per-task
    * work"): marks the frame for local checkpointing but lets the NEXT
    * action materialize and pin it — fusing the eager variant's
    * dedicated materialization job into a job the caller was about to
    * run anyway (an iterative round's convergence aggregate, the next
    * round's join). One scheduled job saved per checkpoint site; the
    * per-round savings compound across the CC/LPA/BFS loops.
    *
    * ONLY safe where the first consumer is a single sequential action:
    * with two consumers inside ONE downstream job (the posting-list /
    * docSh multi-consumer frames), independent stages may race the
    * cache fill and re-execute the subtree — exactly the re-execution
    * the eager form exists to prevent. Keep [[apply]] there. Callers in
    * drop-per-round loops must also drop the PREVIOUS round's blocks
    * only AFTER the action that materializes the new round (lineage is
    * truncated — an early unpersist is unrecoverable). */
  def lzy(df: DataFrame): DataFrame = {
    val out = df.localCheckpoint(eager = false)
    scope.value.foreach(set => rddId(out).foreach(set += _))
    out
  }

  /** Drop a localCheckpoint'd frame's pinned blocks (a no-op on any
    * other frame). Iterative operators drop each round's frame once the
    * next round is materialized — without this they pin
    * rounds × |frame| blocks for the session's life (memory must be ∝
    * one round, not the round count). Safe only once every consumer of
    * the frame has been materialized: its lineage is gone. */
  def drop(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case lr: LogicalRDD => lr.rdd.unpersist(blocking = false)
    case _ => ()
  }

  /** Run `body` with a fresh tracking scope; returns (result, the RDD
    * ids of every checkpoint `body` created). Already-unpersisted ids
    * (operators drop their dead rounds inline) are included — sweeping
    * them again is a harmless no-op via `getPersistentRDDs.get`. */
  def tracking[A](body: => A): (A, Set[Int]) = {
    val created = scala.collection.mutable.Set.empty[Int]
    val result = scope.withValue(Some(created))(body)
    (result, created.toSet)
  }
}
