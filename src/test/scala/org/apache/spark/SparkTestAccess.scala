package org.apache.spark

import org.apache.spark.storage.BroadcastBlockId

/** Test-side access to two driver internals the public API hides. */
object SparkTestAccess {

  /** Block until every event posted so far reached every SparkListener. */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Live broadcast values of class `cls` in the driver's block manager. */
  def broadcastValues(cls: Class[_]): Int = {
    val bm = SparkEnv.get.blockManager
    bm.getMatchingBlockIds {
      case BroadcastBlockId(_, "") => true
      case _ => false
    }.count(id => bm.getLocalValues(id).exists(_.data.toList.exists(cls.isInstance)))
  }
}
