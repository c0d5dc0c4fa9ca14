package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until every
  * posted listener event has been delivered, so a traced op's jobs,
  * stages and query-execution phases are all recorded before the next op
  * starts. Used only in traced passes. */
object PerfbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
