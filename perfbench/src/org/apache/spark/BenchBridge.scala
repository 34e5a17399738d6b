package org.apache.spark

/** The one Spark-internal hook the benchmark needs: wait until every
  * queued listener event (job, stage, task and SQL-execution events) has
  * been delivered, so the trace is complete before it is written.
  */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
