package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * a QueryExecutionListener has seen every query that already finished.
  */
object ListenerDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
