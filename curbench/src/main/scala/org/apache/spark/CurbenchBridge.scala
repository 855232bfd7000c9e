package org.apache.spark

/** The one engine internal the benchmark needs: waiting until every
  * listener event posted so far has been delivered, so counters read
  * right after an action are complete.
  */
object CurbenchBridge {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
