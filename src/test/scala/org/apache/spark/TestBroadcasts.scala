package org.apache.spark

import org.apache.spark.storage.BroadcastBlockId

/** The driver's block store is Spark-internal, hence this bridge in Spark's
  * package. */
object TestBroadcasts {

  /** Ids of the broadcasts whose value the driver holds in memory and which
    * is a `scala.collection.Map` (a mega-host map, for instance). */
  def liveMaps(sc: SparkContext): Set[Long] = {
    val bm = sc.env.blockManager
    bm.getMatchingBlockIds {
      case BroadcastBlockId(_, "") => true
      case _ => false
    }.iterator.flatMap {
      case id @ BroadcastBlockId(bid, _) =>
        bm.memoryStore.getValues(id).filter(_.hasNext).map(_.next()).collect {
          case _: scala.collection.Map[_, _] => bid
        }
      case _ => None
    }.toSet
  }
}
