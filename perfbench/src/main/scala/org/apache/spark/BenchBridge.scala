package org.apache.spark

/** The one `private[spark]` call the tracer needs: drain the listener bus,
  * so counters read after a timed region hold every event it produced.
  */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
