package org.apache.spark

/** The one scheduler internal the benchmark needs: waiting until the
  * listener bus has delivered every posted event, so a traced op's
  * counters are complete before the listener is removed.
  */
object BenchBridge {
  def drainListenerBus(sc: SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(60000L)
}
