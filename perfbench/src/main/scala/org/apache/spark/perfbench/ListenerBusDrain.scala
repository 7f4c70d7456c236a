package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; counters are read only after every
  * posted event has been delivered, so the benchmark waits on the bus
  * instead of sleeping a fixed time. */
object ListenerBusDrain {
  def apply(sc: SparkContext, timeoutMs: Long = 60000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
