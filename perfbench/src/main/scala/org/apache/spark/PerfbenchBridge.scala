package org.apache.spark

/** The one package-private hook the benchmark needs: block until every
  * queued listener event (job, task and query-execution events) has been
  * delivered, so a traced pass is summarised only after its events land. */
object PerfbenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
