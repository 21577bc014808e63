package graft.ops

import graft.table._
import org.apache.spark.sql.SparkSession

/** Online bucket rescaling: rewrite the whole table under a new bucket
  * count through the normal atomic commit protocol.
  *
  * The bucket count chosen at table creation stops fitting as the table
  * grows — at 100 TB a 32-bucket layout serializes merge writes and makes
  * every batch touch every bucket's manifest. Iceberg solves this with
  * partition-spec evolution; here the layout is one hash transform deep,
  * so rescaling IS a full rewrite: read every live row through the
  * readers' scan (its LWW merge folds merge-on-read deltas, no shuffle),
  * re-bucket under the new transform, and commit with the previous
  * inventory removed. Readers see
  * the old or the new layout atomically; a concurrent merge that commits
  * first wins the version race and the rescale aborts cleanly (rebase is
  * impossible once its removed set changed — rerun at a quiet moment).
  *
  * The rewrite is range-split like compaction's (repartitionByRange on
  * (bucket, conv_id), ~targetRowsPerFile rows per file): a full rewrite
  * already reads the whole table, so the range sampler's extra pass is
  * proportionally cheap, and the rescaled layout starts life with
  * size-bounded files whose per-file key ranges are disjoint — manifest
  * bounds stay selective (point lookups prune to one file) from the first
  * commit of the new layout.
  */
object Rescale {

  case class RescaleResult(
      snapshot: Snapshot,
      oldNumBuckets: Int,
      newNumBuckets: Int,
      removedFiles: Int,
      addedFiles: Int)

  def apply(spark: SparkSession, table: ChronicleTable,
      newNumBuckets: Int,
      targetRowsPerFile: Long = 4000000L): RescaleResult = {
    require(newNumBuckets >= 1, "bucket count must be positive")
    val base = table.loadCurrent()
    if (newNumBuckets == base.numBuckets)
      return RescaleResult(base, base.numBuckets, newNumBuckets, 0, 0)

    val victims = table.filesOf(base)
    // the shared maintenance rewrite, bucketed under the NEW count; the
    // scan folds merge-on-read deltas, so it emits key-unique base files
    val (next, added) = Compaction.rewrite(table, base, "rescale",
      s"rescale-${base.numBuckets}-to-$newNumBuckets", victims,
      table.readRewrite(spark, base, victims), newNumBuckets, targetRowsPerFile)
    RescaleResult(next, base.numBuckets, newNumBuckets, victims.size, added.size)
  }
}
