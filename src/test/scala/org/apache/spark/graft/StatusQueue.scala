package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListenerInterface

/** Test access to the `private[spark]` app-status listener queue, the
  * queue that fills the status store behind `getRDDStorageInfo`: a
  * listener added here runs in line with that store's own listener, so a
  * listener that blocks holds the store back. */
object StatusQueue {
  def add(sc: SparkContext, listener: SparkListenerInterface): Unit =
    sc.listenerBus.addToStatusQueue(listener)
}
