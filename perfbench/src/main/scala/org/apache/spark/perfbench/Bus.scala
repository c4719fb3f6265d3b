package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Waits until every posted listener event has been delivered, so the
  * benchmark's listener holds all job and stage records of the ops it
  * timed before it aggregates them. The bus is private to Spark; this
  * one-line bridge lives in Spark's package for that reason.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
