package graft.sql

import graft.model.Model
import graft.ops.MergeInto
import graft.table.ChronicleTable
import org.apache.spark.sql.{DataFrame, Row, Dataset}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.types.StructType

/** `df.writeStream.format("graft").option("path", root)` — the engine as a
  * NATIVE Structured Streaming sink: every micro-batch applies through the
  * same exactly-once MERGE as a pipeline epoch ([[graft.cdc.CdcPipeline]]'s
  * foreachBatch path, with the identical batch-key convention), so Spark's
  * offset checkpoint composes with the table's replay ledger — a replayed
  * epoch after a crash/restart is skipped by its batch key, which is the
  * crash-safety contract every other engine write upholds.
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
  * epoch), `saltBuckets` (hot-key shuffle salting).
  *
  * This is the v1 `Sink` bridge, not a DSv2 per-task StreamingWrite, by
  * DESIGN: MERGE is a whole-batch transform (dedup shuffle, guard join,
  * bucket-pruned rewrite) — blind per-task writers cannot express it
  * without staging the batch to disk twice. The micro-batch is re-rooted
  * as a batch DataFrame first ([[org.apache.spark.sql.graft.MicroBatch]]).
  */
private[sql] class GraftStreamSink(root: String, source: String,
    mergeOnRead: Boolean, buckets: Int, saltBuckets: Int) extends Sink {

  private val table = new ChronicleTable(root)

  override def addBatch(batchId: Long, data: Dataset[Row]): Unit = {
    val batch0 = org.apache.spark.sql.graft.MicroBatch.stripStreaming(data)
    // The micro-batch rides a session CLONE on which the stream engine
    // disabled AQE (ResolveWriteToStream: streaming plans don't support
    // it). The MERGE's jobs are ordinary BATCH queries planned on that
    // clone, so without this every per-epoch shuffle runs at the full
    // static partition count with no runtime coalescing — re-enable it
    // for the batch side; the stream's own incremental plan is unaffected
    // (it was analyzed before addBatch and never uses AQE).
    batch0.sparkSession.conf.set("spark.sql.adaptive.enabled", "true")
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
    MergeInto(batch.sparkSession, table, batch, s"$source-ws#$batchId",
      source = s"$source-epoch-$batchId", saltBuckets = saltBuckets,
      orderedSource = false, mergeOnRead = mergeOnRead)
  }

  override def toString: String = s"GraftStreamSink($root)"
}
