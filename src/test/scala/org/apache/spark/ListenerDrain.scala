package org.apache.spark

/** Test access to the listener bus: block until every posted event has
  * reached the listeners (the bus is private to Spark). */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
