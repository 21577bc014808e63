package graft.model

import org.apache.spark.sql.types._

/** Core data model of the CDC engine.
  *
  * The unit of work is a change event on a conversation-transcript table,
  * the Spark-native re-expression of the reference's routed message
  * (`Message(routingKey, payload)`, suro-core/.../message/Message.java:34-47):
  * the routing key becomes an explicit typed key column pair
  * (conv_id, turn_idx) and the opaque payload becomes typed columns.
  */
object Model {

  /** A single change event from the binlog/WAL tail.
    *
    * `lsn` is the log sequence number: globally increasing in the true log,
    * with duplicates possible on replay boundaries (the reference's
    * at-least-once redelivery window, S3Consumer.java:226-290). `op` is one
    * of I (insert), U (update) or D (delete); I and U are both treated as
    * upserts so that replays are idempotent (mirrors the reference's
    * ES-sink tolerance of DocumentAlreadyExistsException,
    * ElasticSearchSink.java:337).
    */
  case class ChangeEvent(
      lsn: Long,
      op: String,
      conv_id: String,
      turn_idx: Int,
      role: String,
      text: String,
      tool: Option[String],
      ts: java.sql.Timestamp)

  /** A materialized row of the target transcripts table. */
  case class Turn(
      conv_id: String,
      turn_idx: Int,
      role: String,
      text: String,
      tool: Option[String],
      ts: java.sql.Timestamp)

  /** Primary key of the transcripts table. */
  val keyColumns: Seq[String] = Seq("conv_id", "turn_idx")

  /** Ordering column used for last-writer-wins dedup. */
  val ordColumn: String = "lsn"

  /** Schema v1 of the transcripts table (before the `tool` column appears
    * via schema evolution — FIXTURES.md §1).
    */
  val turnSchemaV1: StructType = StructType(Seq(
    StructField("conv_id", StringType, nullable = false),
    StructField("turn_idx", IntegerType, nullable = false),
    StructField("role", StringType),
    StructField("text", StringType),
    StructField("ts", TimestampType)))

  /** Full transcripts schema (post schema-evolution). */
  val turnSchema: StructType = StructType(Seq(
    StructField("conv_id", StringType, nullable = false),
    StructField("turn_idx", IntegerType, nullable = false),
    StructField("role", StringType),
    StructField("text", StringType),
    StructField("tool", StringType),
    StructField("ts", TimestampType)))

  /** System column persisting each row's applying LSN in the table files —
    * the per-key half of the exactly-once story (the other half is the
    * batch-level high-water mark in the snapshot).
    */
  val lsnColumn: String = "_lsn"

  /** System column marking a delete tombstone. Tombstones make deletes final
    * under out-of-order / at-least-once delivery: a late redelivery of an
    * older insert loses the per-key LSN comparison against the tombstone
    * instead of resurrecting the row. Hidden from readers; compaction may
    * GC tombstones older than the maximum redelivery window.
    */
  val deletedColumn: String = "_deleted"

  /** System column recording which SOURCE's batch wrote each row (the
    * batch-key prefix). LSN sequences are independent per source (Kafka
    * partition offsets, per-shard binlog positions), so any consumer that
    * compares a row's `_lsn` against a high-water mark — the incremental
    * changelog above all — must compare against the row's OWN source's
    * mark; without a row-level source tag a multi-source table cannot be
    * tailed correctly (the reference keeps positions per input,
    * InputManager.java:36-56). Survivor rows carried through a
    * copy-on-write rewrite keep their original tag; rows written before
    * the column existed read as null and fall back to the global mark.
    * Dictionary-encodes to near-zero bytes in parquet (few distinct
    * values per file).
    */
  val sourceColumn: String = "_source"

  /** All system columns, in physical-schema order. */
  val systemColumns: Seq[String] = Seq(lsnColumn, deletedColumn, sourceColumn)

  /** The system columns' physical fields, appended to every table's
    * payload.
    */
  val systemFields: Seq[StructField] = Seq(
    StructField(lsnColumn, LongType, nullable = false),
    StructField(deletedColumn, BooleanType, nullable = false),
    StructField(sourceColumn, StringType, nullable = true))

  /** Physical schema v1 of the table files: payload + system columns. */
  val physicalSchemaV1: StructType = StructType(turnSchemaV1.fields ++ systemFields)

  /** Change-event schema (binlog record). */
  val changeSchema: StructType = StructType(
    StructField("lsn", LongType, nullable = false) +:
    StructField("op", StringType, nullable = false) +:
    turnSchema.fields.toSeq)

  /** Columns of a change event that carry row content (everything except
    * lsn/op).
    */
  val payloadColumns: Seq[String] = turnSchema.fieldNames.toSeq
}
