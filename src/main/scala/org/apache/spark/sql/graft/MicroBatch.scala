package org.apache.spark.sql.graft

import org.apache.spark.Partitioner
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.execution.{LogicalRDD, UnsafeRowSerializer}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.StructType

/** A Spark-internal bridge, isolated with the engine's other ones
  * ([[DatasetFactory]] and [[RowShuffle]], below) in an
  * `org.apache.spark.sql.*` package for
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

/** A DataFrame rooted at a given logical plan: `Dataset.ofRows`, the only
  * way to build one, is `private[sql]`.
  */
object DatasetFactory {

  /** Over a DataSource v2 table OBJECT (not a name or a path): the
    * engine's readers hand Spark a snapshot pinned in memory.
    */
  def ofTable(spark: org.apache.spark.sql.SparkSession, table: Table): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[SparkSession],
      DataSourceV2Relation.create(table, None, None))

  /** Over the rows `rows` computes in `schema`'s layout, each partition
    * sorted by the `sortedBy` columns: the declared ordering lets a write
    * that needs it (a partitioned file write) skip its sort.
    */
  def ofRows(spark: org.apache.spark.sql.SparkSession, rows: RDD[InternalRow],
      schema: StructType, sortedBy: Seq[String] = Nil): DataFrame = {
    val session = spark.asInstanceOf[SparkSession]
    val attrs = DataTypeUtils.toAttributes(schema)
    val order = sortedBy.map(n => SortOrder(attrs.find(_.name == n).get, Ascending))
    Dataset.ofRows(session, LogicalRDD(attrs, rows, outputOrdering = order)(session))
  }
}

/** A shuffle of SQL rows to partitions the caller numbers, in Spark SQL's
  * own exchange format (`UnsafeRowSerializer`: the row bytes, no key and
  * no object header), which is `private[sql]`.
  */
object RowShuffle {

  /** `rows` (in `schema`'s layout) moved to partition `partitionOf(row)`
    * of `numPartitions`; each partition's order is arbitrary.
    */
  def apply(rows: RDD[InternalRow], schema: StructType, numPartitions: Int)(
      partitionOf: InternalRow => Int): RDD[InternalRow] = {
    val n = numPartitions
    val keyed = rows.mapPartitions { it =>
      lazy val unsafe = UnsafeProjection.create(schema)
      it.map { r =>
        val row = r match { case u: UnsafeRow => u; case _ => unsafe(r) }
        (partitionOf(r), row.copy(): InternalRow)
      }
    }
    new ShuffledRDD[Int, InternalRow, InternalRow](keyed, new Partitioner {
      def numPartitions: Int = n
      def getPartition(key: Any): Int = key.asInstanceOf[Int]
    }).setSerializer(new UnsafeRowSerializer(schema.length)).values
  }
}
