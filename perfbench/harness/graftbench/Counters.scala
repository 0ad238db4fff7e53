package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Spark execution counters per harness tag, plus job and stage spans.
  *
  * The harness sets two local properties on its own thread before each
  * timed phase: [[Counters.TagKey]] (which pass/query/phase the work
  * belongs to) and [[Counters.SpanKey]] (the span that caused it). Jobs
  * inherit them, so every stage and task is attributed where it was
  * caused, even though listener events arrive asynchronously. Work
  * started on threads the harness does not own (the streaming engine's)
  * is attributed to [[Counters.Untagged]]. */
final class Counters(trace: Trace) extends SparkListener {
  import Counters._

  final class Tally {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
    def toMap: Map[String, Long] = Map(
      "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
      "run_ms" -> runMs, "cpu_ns" -> cpuNs, "gc_ms" -> gcMs,
      "shuffle_read_bytes" -> shuffleRead, "shuffle_write_bytes" -> shuffleWrite,
      "spill_bytes" -> spill)
  }

  private val tallies = mutable.LinkedHashMap[String, Tally]()
  private val jobInfo = mutable.Map[Int, (String, Long, Long, Long)]() // tag, span, parent, start
  private val stageTag = mutable.Map[Int, (String, Long)]()             // tag, job span

  private def tally(tag: String): Tally = tallies.getOrElseUpdate(tag, new Tally)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val tag = p.flatMap(x => Option(x.getProperty(TagKey))).getOrElse(Untagged)
    val parent = p.flatMap(x => Option(x.getProperty(SpanKey))).map(_.toLong).getOrElse(0L)
    val id = trace.newId()
    jobInfo(e.jobId) = (tag, id, parent, Trace.msToNs(e.time))
    e.stageIds.foreach(s => stageTag(s) = (tag, id))
    tally(tag).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobInfo.remove(e.jobId).foreach { case (tag, id, parent, start) =>
      trace.add(Span(id, parent, tag, "job", start, Trace.msToNs(e.time)))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageTag.get(info.stageId).foreach { case (tag, jobSpan) =>
      tally(tag).stages += 1
      for (s <- info.submissionTime; c <- info.completionTime)
        trace.add(Span(trace.newId(), jobSpan, tag, "stage", Trace.msToNs(s), Trace.msToNs(c)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = tally(stageTag.get(e.stageId).map(_._1).getOrElse(Untagged))
    t.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def snapshot: Map[String, Map[String, Long]] = synchronized {
    tallies.map { case (k, v) => k -> v.toMap }.toMap
  }
}

object Counters {
  val TagKey = "graftbench.tag"
  val SpanKey = "graftbench.span"
  val Untagged = "untagged"
}
