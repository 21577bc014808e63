package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so a
  * spec reads complete job counts. The bus is internal to Spark, hence this
  * one accessor in Spark's package.
  */
object ListenerBusDrain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
