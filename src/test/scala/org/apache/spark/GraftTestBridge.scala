package org.apache.spark

/** Test access to `private[spark]` SparkContext internals. */
object GraftTestBridge {
  /** Block until every event posted so far reached every listener. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
