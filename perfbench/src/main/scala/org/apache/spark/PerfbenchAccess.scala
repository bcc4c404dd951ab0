package org.apache.spark

/** The two engine internals the traced run reads that Spark keeps
  * package-private: draining the listener bus, so that every event of an
  * operation has been delivered before its counters are read, and the
  * block manager's count of live broadcast blocks. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)

  def broadcastBlocksAlive(): Int =
    SparkEnv.get.blockManager.getMatchingBlockIds(_.isBroadcast).size
}
