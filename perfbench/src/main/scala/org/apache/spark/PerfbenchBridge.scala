package org.apache.spark

/** Access to the listener bus, which is `private[spark]`: the traced run
  * waits for every queued event before it reads its listeners.
  */
object PerfbenchBridge {
  def waitForListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
