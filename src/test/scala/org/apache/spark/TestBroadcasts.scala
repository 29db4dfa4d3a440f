package org.apache.spark

import org.apache.spark.storage.BroadcastBlockId

/** The broadcasts whose blocks the driver's block manager holds (the
  * block manager is package-private to Spark). */
object TestBroadcasts {
  def ids(sc: SparkContext): Set[Long] =
    sc.env.blockManager.getMatchingBlockIds(_.isBroadcast)
      .collect { case BroadcastBlockId(id, _) => id }.toSet
}
