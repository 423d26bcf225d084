package org.apache.spark

/** Test access to the context's `private[spark]` listener bus. */
object GraftListenerBridge {

  /** Blocks until every event posted so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
