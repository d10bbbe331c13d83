package org.apache.spark

/** Test access to the listener bus: blocks until every event posted so
  * far reached every listener, so a job census taken right after an
  * action has seen all of that action's job events. */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(120000L)
}
