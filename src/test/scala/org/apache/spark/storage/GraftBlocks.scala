package org.apache.spark.storage

import org.apache.spark.SparkContext

/** What a context's block managers hold, asked of each of them (the
  * block manager master is internal to Spark). */
object GraftBlocks {

  /** The ids of the RDDs with at least one block stored anywhere. */
  def rddIds(sc: SparkContext): Set[Int] =
    sc.env.blockManager.master
      .getMatchingBlockIds(_.isRDD, askStorageEndpoints = true)
      .collect { case RDDBlockId(id, _) => id }.toSet

  /** The ids of the broadcasts with at least one block (the value or a
    * piece of it) stored anywhere. */
  def broadcastIds(sc: SparkContext): Set[Long] =
    sc.env.blockManager.master
      .getMatchingBlockIds(_.isBroadcast, askStorageEndpoints = true)
      .collect { case BroadcastBlockId(id, _) => id }.toSet
}
