package org.apache.spark

/** The one package-private hook the benchmark needs: wait until every
  * listener event posted so far has been delivered, so job records are
  * complete before spans are attributed. */
object PerfbenchAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
