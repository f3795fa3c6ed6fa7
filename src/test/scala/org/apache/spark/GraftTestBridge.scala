package org.apache.spark

import org.apache.spark.rdd.RDD
import org.apache.spark.storage.RDDBlockId

/** Test-only bridge into `private[spark]` surface: lets specs drain the
  * async listener bus before asserting on listener-collected state
  * (job counts etc.) without sleeps, and drop one stored partition of
  * an RDD from the driver's block manager, telling the master before it
  * returns.
  */
object GraftTestBridge {
  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def dropBlock(rdd: RDD[_], partition: Int): Unit =
    rdd.sparkContext.env.blockManager.removeBlock(RDDBlockId(rdd.id, partition), tellMaster = true)
}
