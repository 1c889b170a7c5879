package org.apache.spark

/** The one `private[spark]` call the benchmark needs: wait until every
  * queued listener event has been delivered, so that job and task
  * counters are complete before they are read. */
object BenchBridge {
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
