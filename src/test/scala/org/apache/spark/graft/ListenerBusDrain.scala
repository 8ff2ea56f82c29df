package org.apache.spark.graft

import org.apache.spark.SparkContext

/** Blocks until every event posted so far has reached every listener —
  * the listener bus is private to Spark, so specs that count scheduler
  * events reach it from here.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
