package org.apache.spark

/** Access to the listener bus, which is `private[spark]`: the harness
  * reads listener-collected metrics only after every event of the work it
  * timed has been delivered. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
