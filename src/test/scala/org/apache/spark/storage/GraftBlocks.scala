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
}
