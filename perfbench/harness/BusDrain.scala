package org.apache.spark

/** The listener bus's drain is package-private to Spark; the traced run
  * needs it so each event is counted against the unit that caused it.
  */
object BusDrain {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
