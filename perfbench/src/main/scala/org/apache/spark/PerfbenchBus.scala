package org.apache.spark

/** Waits until every event posted so far has reached the listeners.
  * The listener bus is asynchronous; reading task or streaming
  * metrics right after an action would otherwise miss its last
  * events. (`listenerBus` is package-private to `org.apache.spark`.) */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
