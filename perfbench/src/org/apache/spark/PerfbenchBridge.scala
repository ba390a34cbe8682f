package org.apache.spark

/** The one `private[spark]` call the benchmark needs: block until every
  * queued listener event has been delivered, so the traced aggregates
  * read complete job, task and query records. */
object PerfbenchBridge {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
