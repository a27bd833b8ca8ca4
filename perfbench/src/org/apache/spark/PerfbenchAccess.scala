package org.apache.spark

/** The one Spark-internal call the benchmark needs: wait until every
  * posted listener event has been delivered, so a trace written at the
  * end of a run holds every job it started. */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
