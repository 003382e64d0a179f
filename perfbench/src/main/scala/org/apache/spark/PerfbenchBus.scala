package org.apache.spark

/** The one piece of Spark-internal API the benchmark needs: block until
  * every listener event posted so far has been delivered, so the trace
  * is complete before it is written out. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
