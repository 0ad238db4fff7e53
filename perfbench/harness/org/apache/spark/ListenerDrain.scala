package org.apache.spark

/** Blocks until every posted listener event has been delivered, so the
  * counters and spans read at the end of a run are complete. The bus is
  * Spark-internal, hence this file's package. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
