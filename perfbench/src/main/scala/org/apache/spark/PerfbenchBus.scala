package org.apache.spark

/** The one Spark-private call the benchmark needs: block until every
  * listener event posted so far has been delivered, so counters read right
  * after a call include that call's jobs, stages and queries. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
