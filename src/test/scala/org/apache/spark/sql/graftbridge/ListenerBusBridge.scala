package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext

/** Specs that count events with a SparkListener must drain the driver's
  * listener bus before reading the count; `waitUntilEmpty` is
  * `private[spark]`, so this bridge (compiled into the spark namespace)
  * re-exposes it. Draining replaces a sleep, which would race the bus. */
object ListenerBusBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
