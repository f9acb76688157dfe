package org.apache.spark.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.rdd.LocalRDDCheckpointData

/** Reads of `private[spark]` state. */
object Internals {
  /** Block until every posted listener event has been delivered —
    * counters read from a listener are complete only after this. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Bytes in memory of persisted RDDs that are not local checkpoints. */
  def cachedBytes(sc: SparkContext): Long = {
    val rdds = sc.getPersistentRDDs
    sc.getRDDStorageInfo
      .filter(i => rdds.get(i.id).exists(r =>
        !r.checkpointData.exists(_.isInstanceOf[LocalRDDCheckpointData[_]])))
      .map(_.memSize).sum
  }
}
