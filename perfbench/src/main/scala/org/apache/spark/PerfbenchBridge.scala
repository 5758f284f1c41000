package org.apache.spark

/** The one piece of Spark's internals the benchmark needs: waiting until
  * every listener has seen every event posted so far, so a query's
  * counters are complete at its boundary.
  */
object PerfbenchBridge {
  def awaitListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
