package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so
  * the traced run reads complete counters. The bus is package-private to
  * Spark; this is the one call the harness needs from inside it.
  */
object ListenerBusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
