package org.apache.spark.graft

import org.apache.spark.SparkContext
import org.apache.spark.storage.RDDBlockId

/** Bridge into the `private[spark]` block-manager master so
  * [[graft.operators.Pins]] can read what a pin stored. The master
  * learns of each block synchronously, from the task that stores it, so
  * once an eager pin's job has returned its blocks are all counted —
  * unlike `SparkContext.getRDDStorageInfo`, which reads the status store
  * the listener bus fills asynchronously and so can miss a fresh pin on
  * a loaded host. Lives in the `org.apache.spark` namespace purely for
  * access; no Spark internals are modified.
  */
object BlockBridge {
  /** Bytes (memory + disk) of RDD `rddId`'s stored blocks, over every
    * block manager. */
  def rddBytes(sc: SparkContext, rddId: Int): Long =
    sc.env.blockManager.master.getStorageStatus.iterator.map(
      _.rddBlocks.iterator.collect {
        case (RDDBlockId(`rddId`, _), b) => b.memSize + b.diskSize
      }.sum).sum
}
