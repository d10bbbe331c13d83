package org.apache.spark

/** The listener bus is asynchronous; its drain hook is `private[spark]`. */
object GraftbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
