package org.apache.spark

/** The two package-private reads the benchmark needs, hence this file's
  * package.
  */
object SparkInternals {
  /** Wait until every posted listener event has been delivered, so the
    * listener totals read next are exact.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Cached RDD partitions and broadcast pieces the driver's block manager
    * still holds.
    */
  def storedBlocks(): Int =
    SparkEnv.get.blockManager.getMatchingBlockIds(id => id.isRDD || id.isBroadcast).size
}
