package org.apache.spark

/** The one Spark-internal call the harness needs: wait until every queued
  * listener event has been delivered, so counters are complete before they
  * are read.
  */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
