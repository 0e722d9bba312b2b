package org.apache.spark

/** Waits until every event posted so far has reached the listeners
  * (`listenerBus` is private to this package). */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
