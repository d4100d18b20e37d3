package org.apache.spark

/** Test access to the driver's listener bus, which is `private[spark]`:
  * events are delivered asynchronously, so a listener's counts are
  * complete only once every posted event has reached it. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
