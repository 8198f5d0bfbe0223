package org.apache.spark

/** Test access to the driver's listener bus (private[spark]): waiting
  * for it to drain makes listener-side counts exact instead of polled. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
