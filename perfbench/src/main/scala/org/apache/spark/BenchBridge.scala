package org.apache.spark

/** The one internal Spark call the benchmark needs: listener events are
  * delivered asynchronously, so a span must wait for the bus to drain
  * before it reads the counters its listeners keep. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
