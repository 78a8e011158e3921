package org.apache.spark

/** Access to the listener-bus drain, so counters are read after every event
  * posted so far was delivered. In this package solely for access to the
  * `private[spark]` bus. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)
}
