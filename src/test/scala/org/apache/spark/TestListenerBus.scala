package org.apache.spark

/** Waits until every posted scheduler and SQL event has reached the
  * listeners, so counts read right after an action include all of its jobs.
  * The listener bus is Spark-internal, hence this bridge in Spark's package. */
object TestListenerBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
