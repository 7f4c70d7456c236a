package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerInterface

/** Test access to the listener bus's `appStatus` queue, whose events feed
  * `SparkContext.getRDDStorageInfo`: a listener added here runs on the
  * same queue thread as the status store, so a slow one makes the store
  * lag the jobs that already returned. */
object StatusQueueBridge {
  def add(sc: SparkContext, l: SparkListenerInterface): Unit = sc.listenerBus.addToStatusQueue(l)
  def remove(sc: SparkContext, l: SparkListenerInterface): Unit = sc.listenerBus.removeListener(l)
}
