package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until the listener
  * bus has delivered every event, so counters read after a run are complete.
  */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
