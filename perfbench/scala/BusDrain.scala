package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Task-end events reach a listener asynchronously. The counters of a job
  * group are complete only once the listener bus has delivered every event
  * posted before the action returned; the bus is package-private, hence
  * this package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
