package org.apache.spark

/** Reaches the one listener-bus call the benchmark needs: listener
  * events are delivered asynchronously, so counts are read only after
  * the bus has drained. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
