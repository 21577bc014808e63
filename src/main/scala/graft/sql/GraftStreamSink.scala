package graft.sql

import graft.model.Model
import graft.ops.MergeInto
import graft.table.ChronicleTable
import org.apache.spark.sql.{Row, Dataset}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

/** `df.writeStream.format("graft").option("path", root)` — the engine as a
  * NATIVE Structured Streaming sink, and the single-table epoch step: every
  * Structured Streaming write into one table applies its micro-batches
  * here, [[graft.cdc.CdcPipeline.startStream]] included. Each epoch applies
  * through the exactly-once MERGE under batch key `<source>-ss#<batchId>`,
  * so Spark's offset checkpoint composes with the table's replay ledger —
  * a replayed epoch after a crash/restart is skipped by its batch key,
  * which is the crash-safety contract every other engine write upholds —
  * and its commit appends one `stream` line to the metrics ledger under
  * `<root>/metrics` ([[graft.cdc.Metrics]]; served by `/stats`).
  *
  * Input rows may arrive in either change shape:
  *  - pipeline shape: `lsn` + `op` (I/U/D) + payload — the binlog tail;
  *  - SQL shape: `_lsn` (+ optional `_deleted`) + payload — change rows as
  *    `INSERT INTO` takes them ([[GraftWrite]]).
  *
  * Epoch file/offset order is not log order, so the sink applies with
  * `orderedSource = false`: correctness rides the per-key LSN guard and
  * delete tombstones, never a batch high-water mark. Options: `source`
  * (ledger identity of this stream, default "wstream" — two different
  * streams into one table need distinct names), `mor` (merge-on-read
  * epochs), `buckets` (layout when the sink creates the table on first
  * epoch).
  *
  * This is the v1 `Sink` bridge, not a DSv2 per-task StreamingWrite, by
  * DESIGN: MERGE is a whole-batch transform (batch rows shuffled to
  * their buckets, deduped there, bucket-pruned rewrite) — blind per-task
  * writers cannot express it without staging the batch to disk twice.
  * The micro-batch is re-rooted as a batch DataFrame first
  * ([[org.apache.spark.sql.graft.MicroBatch]]).
  */
private[sql] class GraftStreamSink(table: ChronicleTable, source: String,
    mergeOnRead: Boolean, buckets: Int) extends Sink {

  override def addBatch(batchId: Long, data: Dataset[Row]): Unit = {
    val batch0 = org.apache.spark.sql.graft.MicroBatch.stripStreaming(data)
    val cols = batch0.columns.toSet
    val batch =
      if (cols.contains(Model.ordColumn) && cols.contains("op")) batch0
      else if (cols.contains(Model.lsnColumn)) MergeInto.eventsOf(batch0)
      else throw new IllegalArgumentException(
        s"stream rows need either (lsn, op) or ${Model.lsnColumn} change " +
          s"columns; got ${batch0.columns.mkString(", ")}")
    if (!table.exists) {
      val payload = StructType(batch.schema.fields.filterNot(f =>
        f.name == Model.ordColumn || f.name == "op"))
      table.create(StructType(payload ++ Model.systemFields), buckets)
    }
    MergeInto(batch.sparkSession, table, batch, s"$source-ss#$batchId",
      source = s"$source-epoch-$batchId", orderedSource = false, mergeOnRead = mergeOnRead, mode = "stream")
  }

  override def toString: String = s"GraftStreamSink(${table.root})"
}

private[graft] object GraftStreamSink {

  private val handOff = new ThreadLocal[ChronicleTable]

  /** Starts a `format("graft")` query whose sink commits through `table`
    * itself rather than a fresh instance of the same root, so the caller's
    * commit hooks ([[ChronicleTable.beforePublishHook]]) cover its epochs.
    * `DataStreamWriter.start()` creates a v1 sink on the calling thread,
    * which is what hands the instance over.
    */
  def startThrough(table: ChronicleTable)(start: => StreamingQuery): StreamingQuery = {
    handOff.set(table)
    try start finally handOff.remove()
  }

  private[sql] def tableFor(root: String): ChronicleTable =
    Option(handOff.get).filter(_.root == root).getOrElse(new ChronicleTable(root))
}
