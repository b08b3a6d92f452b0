package org.apache.spark

/** Test access to the listener bus: `waitUntilEmpty` is `private[spark]`,
  * and a listener-based count is exact only once every posted event has
  * been delivered. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
