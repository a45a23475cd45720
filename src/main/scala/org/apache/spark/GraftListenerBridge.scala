package org.apache.spark

import org.apache.spark.rdd.RDD
import org.apache.spark.storage.RDDBlockId

/**
 * Bridge into `private[spark]` scheduler and storage internals, the
 * sibling of [[org.apache.spark.sql.GraftBridge]]: task-metric listeners
 * post asynchronously on the listener bus, so a benchmark snapshotting
 * per-query shuffle/spill deltas must drain the bus before reading its
 * counters or the tail of one query's tasks lands in the next query's
 * bucket; and a materialised cut's size is only known to the block
 * manager master.
 */
object GraftListenerBridge {
  /** Block until every queued listener event has been delivered. */
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()

  /** Memory plus disk bytes of `rdd`'s persisted blocks, as the block
   * manager master records them: an RPC to the master, no job. Block
   * managers report each stored block before its task ends, so after the
   * job that stored them the count is complete. */
  def storedBytes(rdd: RDD[_]): Long =
    rdd.sparkContext.env.blockManager.master.getStorageStatus.iterator
      .flatMap(_.rddBlocks)
      .collect { case (RDDBlockId(id, _), s) if id == rdd.id => s.memSize + s.diskSize }
      .sum
}
