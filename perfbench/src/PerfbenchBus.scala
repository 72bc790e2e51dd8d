package org.apache.spark

/** Bridge to the package-private listener bus: the traced run must see
  * every queued job/task/plan event before it computes layer metrics. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
