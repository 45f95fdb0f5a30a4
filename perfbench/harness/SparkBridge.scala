package org.apache.spark

/** Reaches the `private[spark]` listener bus so the benchmark can wait for
  * every event of an operation to be delivered before it reads its
  * counters.
  */
object PerfBenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
