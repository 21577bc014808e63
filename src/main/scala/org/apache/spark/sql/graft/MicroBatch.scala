package org.apache.spark.sql.graft

import org.apache.spark.sql.classic.{DataFrame, Dataset}
import org.apache.spark.sql.execution.LogicalRDD

/** A Spark-internal bridge, isolated with the engine's other one
  * ([[SourceFilters]]) in an `org.apache.spark.sql.*` package for
  * `private[sql]` access (the same technique the open lakehouse formats use
  * for their streaming sinks).
  *
  * A v1 streaming `Sink.addBatch` hands over a DataFrame whose logical
  * plan still contains the STREAMING source relations; re-planning any
  * transformation of it as a batch query (which the engine's MERGE must —
  * shuffles, joins, caching) trips the "streaming source without
  * writeStream.start()" analysis guard. The micro-batch's PHYSICAL rows,
  * however, are a plain RDD. Re-rooting them under a non-streaming
  * [[LogicalRDD]] — exactly what Spark's own ForeachBatchSink does before
  * invoking the user function — yields a DataFrame that behaves as a
  * normal batch input of the current epoch.
  */
object MicroBatch {

  def stripStreaming(data: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row])
      : org.apache.spark.sql.DataFrame = {
    val ds = data.asInstanceOf[Dataset[org.apache.spark.sql.Row]]
    val node = LogicalRDD.fromDataset(ds.queryExecution.toRdd, ds,
      isStreaming = false)
    Dataset.ofRows(ds.sparkSession, node)
  }
}
