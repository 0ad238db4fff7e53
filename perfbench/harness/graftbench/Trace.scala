package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed interval. `group` ties together every span of one query run
  * or one streaming trigger; `parent` is the span that caused this one
  * (0 = root). Times are epoch nanoseconds on one clock (see [[Trace.now]]). */
final case class Span(id: Long, parent: Long, group: String, name: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder. Spans are only kept when tracing is on and
  * once the timed region has begun (`recording`); the file is written
  * once, when the run ends, so recording never does I/O. */
final class Trace(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  @volatile var recording = false

  def newId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = if (enabled && recording) spans.add(s)

  /** Times `body`, recording it as a span under `parent` when tracing.
    * The body receives the span's own id so callers can hang children
    * (jobs, nested phases) under it. Returns the result and the seconds. */
  def timed[T](name: String, parent: Long, group: String)(body: Long => T): (T, Double) = {
    val id = newId()
    val t0 = Trace.now()
    val out = body(id)
    val t1 = Trace.now()
    add(Span(id, parent, group, name, t0, t1))
    (out, (t1 - t0) / 1e9)
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)
}

object Trace {
  // epoch-anchored monotonic clock: nanoTime deltas on a wall-clock
  // origin, so harness spans and Spark's epoch-millis event times line up
  private val originNs = System.currentTimeMillis() * 1000000L
  private val originMono = System.nanoTime()
  def now(): Long = originNs + (System.nanoTime() - originMono)
  def msToNs(ms: Long): Long = ms * 1000000L
}
