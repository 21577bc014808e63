package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so the
  * traced run reads complete job counters. The bus is internal to Spark,
  * hence this one accessor in Spark's package.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
