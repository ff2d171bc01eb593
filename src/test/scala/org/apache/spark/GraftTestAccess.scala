package org.apache.spark

/** Test-only access to SparkContext internals the public API hides:
  * draining the async listener bus before reading what a listener
  * collected. */
object GraftTestAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
