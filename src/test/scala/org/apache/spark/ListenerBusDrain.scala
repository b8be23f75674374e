package org.apache.spark

/** Test-only bridge: wait until every event posted so far has reached the
  * registered listeners (`LiveListenerBus.waitUntilEmpty` is
  * `private[spark]`), so a job census is exact rather than polled. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
