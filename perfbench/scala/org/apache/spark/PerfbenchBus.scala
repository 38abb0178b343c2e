package org.apache.spark

/** Waits until every posted scheduler event has reached the listeners, so
  * counts read right after a job include all of its tasks. The listener bus
  * is Spark-internal, hence this one-line bridge in Spark's package. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
