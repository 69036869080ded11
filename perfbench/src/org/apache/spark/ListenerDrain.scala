package org.apache.spark

/** Waits until the listener bus has delivered every event posted so far,
  * so listener counts read right after a loop are complete. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
