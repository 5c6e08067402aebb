package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until every
  * event already posted to the listener bus has been delivered, so the
  * trace read after a run is complete. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
