package org.apache.spark

/** Listener events are delivered asynchronously; counters read right after
  * an action must wait until the bus has delivered everything posted so
  * far. The bus is `private[spark]`, hence this one-line bridge. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
