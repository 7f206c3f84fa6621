package org.apache.spark

/** The benchmark reads listener counters at operation boundaries; this
  * waits until the listener bus has delivered every event posted so far,
  * so a boundary's counts are complete. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
