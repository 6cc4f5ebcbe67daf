package org.apache.spark

/** Blocks until the listener bus has delivered every event posted so far,
  * so a spec reads its listener's counts only once they are complete.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
