package graft.ops

import graft.model.Model
import graft.table._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Table maintenance: small-file compaction and tombstone GC.
  *
  * Every micro-batch commit adds a file per touched bucket, so a long
  * replay accretes many small files (the reference rotates and uploads
  * small files continuously and relies on downstream batching,
  * LocalFileSink.java:183-252; a lakehouse table must compact instead).
  * Compaction rewrites the buckets whose file count exceeds a threshold
  * (and every bucket holding a merge-on-read delta) and drops tombstones
  * older than `tombstoneHorizonLsn` (a tombstone only needs to outlive the
  * maximum redelivery window of the source). Victims read through the
  * readers' scan ([[ChronicleTable.readRewrite]]), merging with no shuffle.
  *
  * The rewrite is a SORT-ORDERED, SIZE-BOUNDED split (Iceberg's bin-pack +
  * sort rewrite): rows range-partition on (bucket, conv_id) into
  * ~`targetRowsPerFile` slices, so a compacted bucket becomes N files with
  * PAIRWISE-DISJOINT key ranges instead of one monolithic file (a 100 TB
  * table's bucket is TBs — it must split) — and because the manifest's
  * per-file key bounds are then genuinely selective, a point lookup
  * ([[graft.table.ChronicleTable.readKey]]) or key-range scan prunes to a
  * single file per bucket. Range partitioning's sampling pass over the
  * victims is acceptable HERE because compaction is periodic maintenance;
  * the per-batch copy-on-write commit avoids that second pass on the hot
  * path by writing each touched bucket's merge as one file from one task,
  * and a merge-on-read delta write hash-splits its batch.
  *
  * Runs through the same atomic commit protocol as MERGE, so readers always
  * see either the old or the new file set, and a crash mid-compaction
  * leaves only GC-able orphans.
  */
object Compaction {

  /** The rewrite + commit compaction and rescale share. `rows` range-
    * partition on (bucket, conv_id) into ~`targetRowsPerFile` slices
    * (count sized from the victims' manifest row count — free; capped so a
    * mis-sized target cannot explode the shuffle) and sort within them, so
    * every file covers a disjoint key range WITHIN its bucket and manifest
    * key bounds stay selective. The files replace `victims` under the key
    * `<op>#<prevFloor+1>-<version>`: unique per run, and folded away by the
    * contiguous-floor ledger compaction — periodic maintenance must not
    * accrete one ledger key per run. A `numBuckets` other than the table's
    * makes the commit a rescale.
    */
  private[ops] def rewrite(table: ChronicleTable, base: Snapshot, op: String,
      source: String, victims: Seq[DataFileMeta], rows: DataFrame,
      numBuckets: Int, targetRowsPerFile: Long): (Snapshot, Seq[DataFileMeta]) = {
    val victimRows = victims.map(_.rows).sum
    val parts = math.max(1,
      math.min((victimRows / math.max(1L, targetRowsPerFile) + 1).toInt,
        1 << 15))
    val added = StagedWrite(table, rows
      .withColumn("bucket", ChronicleTable.bucketExpr("conv_id", numBuckets))
      .repartitionByRange(parts, col("bucket"), col("conv_id"))
      .sortWithinPartitions("bucket", "conv_id", "turn_idx"))
    val key = s"$op#${base.floors.getOrElse(op, -1L) + 1}-${base.version}"
    val lineage = LineageEntry(key, source, -1L, -1L, 0, 0,
      added.map(_.rows).sum, 0L, LineageEntry.rowsByBucket(added), -1L)
    val next = table.commit(base, PendingCommit(key, victims.map(_.path),
      added, None, lineage,
      newNumBuckets = Some(numBuckets).filter(_ != base.numBuckets)))
    (next, added)
  }

  case class CompactionResult(
      snapshot: Snapshot,
      compactedBuckets: Int,
      removedFiles: Int,
      addedFiles: Int,
      /** Rows removed by the rewrite: horizon-GC'd tombstones plus — when
        * merge-on-read deltas were folded — superseded key versions the
        * LWW merge collapsed.
        */
      droppedRows: Long)

  def apply(spark: SparkSession, table: ChronicleTable,
      maxFilesPerBucket: Int = 4,
      tombstoneHorizonLsn: Long = Long.MinValue,
      /** Target rows per rewritten file. The pre-GC victim row count from
        * the manifest (free) sizes the range-partition count; the default
        * keeps small tables at one file per bucket while bounding file
        * size on large ones.
        */
      targetRowsPerFile: Long = 4000000L): CompactionResult = {
    val base = table.loadCurrent()
    val byBucket = table.filesOf(base).groupBy(_.bucket)
    // a bucket holding ANY merge-on-read delta is always a target: folding
    // deltas back into key-unique base files is what bounds the read-time
    // merge cost of the MOR write path
    val targets = byBucket.filter { case (_, fs) =>
      fs.size > maxFilesPerBucket || fs.exists(_.delta)
    }
    if (targets.isEmpty)
      return CompactionResult(base, 0, 0, 0, 0)

    val victims = targets.values.flatten.toSeq
    // The horizon filter sits ABOVE the scan's LWW merge: dropping an old
    // tombstone pre-merge would let the even-older base row it masks win
    // the merge and resurrect a deleted key
    val horizonDrop = col(Model.deletedColumn) &&
      col(Model.lsnColumn) <= lit(tombstoneHorizonLsn)
    val kept = table.readRewrite(spark, base, victims).filter(!horizonDrop)

    val (next, added) = rewrite(table, base, "compact", "compaction",
      victims, kept, base.numBuckets, targetRowsPerFile)
    val dropped = victims.map(_.rows).sum - added.map(_.rows).sum
    CompactionResult(next, targets.size, victims.size, added.size, dropped)
  }
}
