package graft.table

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** Catalyst-facing manifest pruning: a [[FileIndex]] whose `listFiles`
  * translates the data filters Catalyst pushes to the scan into source
  * filters (Spark's own translation, as `FileSourceStrategy` does) and
  * prunes through the table's one rule, [[FilePrune]] — the
  * extension point lakehouse formats plug into Spark through (Delta's
  * TahoeFileIndex, Iceberg's SparkScanBuilder play the same role).
  *
  * With this, ANY DataFrame or SQL filter over [[ChronicleTable.read]] —
  * `WHERE conv_id = 'x'`, `WHERE ts BETWEEN a AND b`, `WHERE _lsn > c` —
  * prunes data files at PLANNING time from manifest stats, with the same
  * rule and soundness argument as the dedicated readers
  * (`readKey`/`readSlice`/`readChanges`, which remain the sharp tools:
  * they also prune at the manifest list and pick merge semantics). At
  * 100 TB the difference is a scan that opens one bucket's files versus a
  * scan that opens every live footer and discards row groups.
  *
  * Split planning and size estimation come from the manifest's per-file
  * byte counts — no filesystem stat per file (pre-upgrade entries without
  * a size are statted once, for the surviving files only:
  * [[ChronicleTable.fileBytes]]).
  */
class ChronicleFileIndex(
    spark: SparkSession,
    table: ChronicleTable,
    snapshot: Snapshot,
    files: Seq[DataFileMeta]) extends FileIndex {

  override def rootPaths: Seq[Path] = Seq(new Path(table.root))

  override def partitionSchema: StructType = new StructType()

  /** Scheme-qualified like Spark's own file indexes (DataFrame.inputFiles
    * is public API — callers parse these as URIs).
    */
  override def inputFiles: Array[String] = files.map { f =>
    val p = new Path(f.path)
    if (p.toUri.getScheme != null) f.path else s"file:${f.path}"
  }.toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = {
    val known = files.map(_.bytes).sum
    // pre-upgrade manifests carry no sizes: estimate from rows so join
    // planning still sees a sane magnitude (never 0 for a non-empty table)
    if (known > 0) known else files.map(_.rows).sum * 64L
  }

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val prune = FilePrune.of(
      dataFilters.flatMap(org.apache.spark.sql.graft.SourceFilters.translate),
      snapshot.numBuckets)
    Seq(PartitionDirectory(InternalRow.empty,
      files.filter(f => prune.keeps(f)).map(status).toArray))
  }

  private def status(f: DataFileMeta): FileStatus =
    new FileStatus(ChronicleTable.fileBytes(spark, f), false, 1,
      128L * 1024 * 1024, 0L, new Path(f.path))
}
