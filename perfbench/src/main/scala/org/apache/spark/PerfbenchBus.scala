package org.apache.spark

/** The one Spark-internal hook the benchmark needs: wait until every posted
  * listener event has been delivered, so the traced run's counts are final
  * before they are read. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
