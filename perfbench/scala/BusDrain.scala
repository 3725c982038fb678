package org.apache.spark

/** Blocks until every event posted so far has reached the benchmark's
  * listeners, so counters are read only after the work they describe. */
object BusDrain {
  def await(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
