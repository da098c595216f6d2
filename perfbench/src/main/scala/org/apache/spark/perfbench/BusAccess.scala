package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The listener bus's drain is package-private to Spark; the traced run
  * needs it so an operation's events are all counted before the next one
  * starts. */
object BusAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
