package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * trace sees all job, stage and task events of the ops that already
  * returned. (`waitUntilEmpty` is package-private to Spark.) */
object PerfbenchListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
