package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus is private to Spark; traced runs drain it so every
  * listener event of a finished measurement is counted before it is read. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
