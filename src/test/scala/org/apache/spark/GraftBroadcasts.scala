package org.apache.spark

import org.apache.spark.storage.BroadcastBlockId

/** Test access to the driver's broadcast blocks, which Spark keeps
  * package-private. */
object GraftBroadcasts {

  /** Id and value class name of every broadcast whose whole value the
    * driver's block manager still holds: a destroyed broadcast is gone. */
  def live(): Map[Long, String] = {
    val bm = SparkEnv.get.blockManager
    bm.getMatchingBlockIds {
      case BroadcastBlockId(_, "") => true
      case _ => false
    }.collect { case b @ BroadcastBlockId(id, _) =>
      // read the value as TorrentBroadcast does: one element, then
      // release the read lock, or a later destroy waits on it
      bm.getLocalValues(b).filter(_.data.hasNext).map { r =>
        val v = try r.data.next() finally bm.releaseLock(b)
        id -> v.getClass.getName
      }
    }.flatten.toMap
  }
}
