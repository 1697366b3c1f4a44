package org.apache.spark

/** The listener bus delivers events asynchronously; counters read right
  * after an action must first wait for every event posted so far. The
  * wait is `private[spark]`, hence this one-line bridge. */
object ListenerBusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
