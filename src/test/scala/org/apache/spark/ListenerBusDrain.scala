package org.apache.spark

/** Test access to the listener bus: block until every event posted so
  * far has reached the registered listeners, so a spec can read a
  * listener's counts right after the action that produced them. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
