package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Drains Spark's listener bus, whose `waitUntilEmpty` is private to the
  * `org.apache.spark` namespace: the benchmark reads its listeners only
  * after every queued event of an operation has been delivered. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
