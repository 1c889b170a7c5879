package org.apache.spark

/** Test access to Spark's `private[spark]` listener bus. The status
  * tracker learns of jobs through that bus, asynchronously, so a read
  * right after an action can miss its last jobs; draining first makes
  * job counts exact. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
