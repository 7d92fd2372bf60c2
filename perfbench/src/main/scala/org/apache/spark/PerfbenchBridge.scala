package org.apache.spark

/** Access to the one `private[spark]` call the benchmark needs: listener
  * events are delivered asynchronously, so before reading what a listener
  * recorded the benchmark waits until the bus has delivered everything.
  */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
