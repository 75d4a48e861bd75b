package org.apache.spark

/** Waits until the listener bus has delivered every queued event, so the
  * traced run can attribute listener records to the op that produced them.
  * The bus is package-private to Spark, hence this one-line bridge.
  */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
