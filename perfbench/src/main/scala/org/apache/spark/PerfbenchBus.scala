package org.apache.spark

/** Accessor for the private[spark] listener bus: a traced run waits
  * until every queued task event is delivered before reading its
  * accumulators. */
object PerfbenchBus {
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
