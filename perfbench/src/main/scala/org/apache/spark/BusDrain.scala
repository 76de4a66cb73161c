package org.apache.spark

/** Blocks until every listener event posted so far has been delivered.
  * The traced run calls this between queries so that each listener event
  * is recorded while the query that caused it is still the current one. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
