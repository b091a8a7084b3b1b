package org.apache.spark

/** Blocks until the listener bus has delivered every posted event, so a
  * spec's listener has seen all jobs before it is read. The bus is internal
  * to Spark, hence this file's package. */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
