package org.apache.spark.sql.graft

import org.apache.spark.sql.classic.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** A Spark-internal bridge, isolated with the engine's other one
  * ([[DatasetFactory]], below) in an `org.apache.spark.sql.*` package for
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

/** A DataFrame over a DataSource v2 table OBJECT (not a name or a path):
  * the engine's readers hand Spark a snapshot pinned in memory, and
  * `Dataset.ofRows` — the only way to root a DataFrame at a given logical
  * plan — is `private[sql]`.
  */
object DatasetFactory {
  def ofTable(spark: org.apache.spark.sql.SparkSession, table: Table): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession],
      DataSourceV2Relation.create(table, None, None))
}
