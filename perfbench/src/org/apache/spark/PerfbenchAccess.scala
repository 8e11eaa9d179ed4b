package org.apache.spark

/** The one package-private call the benchmark needs: wait until every
  * posted listener event has been delivered, so counters read at an
  * operation boundary include all of that operation's events.
  */
object PerfbenchAccess {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
