package org.apache.spark.benchaccess

import org.apache.spark.SparkContext

/** The two pieces of Spark state the harness must observe that Spark keeps
  * package-private, hence this package. */
object Internals {

  /** Blocks until every queued listener event has been delivered, so the
    * counters read after a result belong to that result alone. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Broadcast blocks the driver's block manager still holds. */
  def broadcastBlocks(sc: SparkContext): Int =
    sc.env.blockManager.getMatchingBlockIds(_.isBroadcast).size
}
