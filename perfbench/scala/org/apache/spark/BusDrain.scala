package org.apache.spark

/** Blocks until the listener bus has delivered every posted event, so the
  * trace listener's counts are complete before they are read. The bus is
  * internal to Spark, hence this file's package. */
object BusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
