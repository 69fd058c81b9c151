package org.apache.spark

/** Listener events are delivered asynchronously; the benchmark reads its
  * per-op Spark counters only after every event the op caused has been
  * delivered. `LiveListenerBus.waitUntilEmpty` is `private[spark]`, hence
  * this one-line bridge in Spark's package. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
