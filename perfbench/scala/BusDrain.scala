package org.apache.spark

/** Blocks until the listener bus has delivered every queued event, so a
  * benchmark listener's counts are complete when they are read. The bus
  * is package-private to Spark, hence this file's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
