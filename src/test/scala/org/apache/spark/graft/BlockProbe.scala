package org.apache.spark.graft

import org.apache.spark.SparkEnv
import org.apache.spark.storage.RDDBlockId

/** Test access to the block manager: the blocks an RDD holds right now. */
object BlockProbe {
  def rddBlocks(rddId: Int): Int =
    SparkEnv.get.blockManager.master.getMatchingBlockIds({
      case RDDBlockId(id, _) => id == rddId
      case _ => false
    }, askStorageEndpoints = true).size
}
