package org.apache.spark

/** Bridge to the package-private listener bus: a traced span waits for the
  * events of its jobs to be delivered before it closes. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
