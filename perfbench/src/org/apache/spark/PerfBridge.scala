package org.apache.spark

/** The one Spark-internal call the benchmark needs: block until every
  * queued listener event has been delivered. Called only after the timed
  * window, so the traced figures are complete without a sleep inside any
  * timing.
  */
object PerfBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
