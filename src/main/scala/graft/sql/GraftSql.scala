package graft.sql

import graft.model.Model
import graft.table.{ChangeMarks, ChronicleTable, DataFileMeta, FilePrune, LineageEntry, PendingCommit, Snapshot}
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, Table, TableCapability, TableCatalog, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, Statistics, SupportsPushDownFilters, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.execution.datasources.{FileFormat, FilePartition, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.vectorized.ColumnarBatch

import java.util.OptionalLong
import scala.jdk.CollectionConverters._

/** The engine's SQL-warehouse surface: ChronicleTables as DataSource v2
  * BATCH tables, so plain `spark.read.format("graft").load(root)` and
  * `spark.sql("SELECT … FROM graft_cat.t")` work with no manual view
  * registration — the first thing a warehouse user reaches for, and the
  * usability gap the reference never had to fill (it is config-driven;
  * its consumers are sinks, not analysts).
  *
  * Semantics: a scan serves the snapshot's VISIBLE state — merge-on-read
  * deltas LWW-collapse per key, tombstoned rows are hidden. The system
  * columns (`_lsn`, `_source`) stay queryable. The same scan serves every
  * [[ChronicleTable]] reader, every rewrite and every batch of the
  * `graft.changes` stream, told whether to merge, to keep tombstone
  * winners, which files a rewrite removes and which changelog rows to pick
  * ([[LibraryRead]]); readers state their pruning as column filters: one
  * LWW merge, one changelog rule and one read path for the library, SQL,
  * `format("graft")` and the change stream. Its reader factory builds the
  * engine's only parquet reader.
  *
  * Scale shape:
  *  - filter pushdown prunes manifests and data files during planning
  *    through the table's one pruning rule ([[graft.table.FilePrune]],
  *    the same rule every reader uses) — `conv_id` point/range/IN (plus
  *    HASH-BUCKET pruning on equality: a point lookup opens one bucket,
  *    the `readKey` serving path through SQL), `ts` bounds (base files
  *    whose bucket's deltas are all newer), `_lsn` lower bounds (both
  *    bounds when the merge is off);
  *  - column pruning reaches the parquet reader (a two-column projection
  *    of a wide transcript table reads two column chunks), and the pushed
  *    filters ride into the reader for row-group/page pruning (only key
  *    filters below a merge-on-read bucket's LWW merge);
  *  - merge-on-read buckets read through a STREAMING SORTED MERGE: every
  *    engine write lands files sorted by (conv_id, turn_idx), so one
  *    input partition per delta-carrying bucket k-way-merges its files
  *    with O(files) memory — no shuffle, no per-bucket hash map. The
  *    files of pure-base buckets pack into partitions of about
  *    `spark.sql.files.maxPartitionBytes`, as Spark's file scans do.
  *  - statistics (bytes/rows) come from the manifest, so the optimizer
  *    can broadcast a small pruned read.
  *
  * Writes go through the same exactly-once MERGE as every pipeline batch:
  * `INSERT INTO` applies the statement as a change batch
  * ([[GraftWriteBuilder]]), and maintenance runs as stored procedures
  * (`CALL cat.compact(…)` — [[GraftProcedures]]).
  */
class GraftDataSource extends TableProvider
  with org.apache.spark.sql.sources.StreamSinkProvider {

  private def pathOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft tables need option 'path' (the table root)"))

  // A MISSING table resolves to a capability-less stub instead of failing
  // here: DataStreamWriter resolves the provider's Table BEFORE it can
  // fall back to the v1 streaming sink (which creates the table on its
  // first epoch). Batch reads of the stub still fail with the clear error,
  // just at scan time.
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val t = new ChronicleTable(pathOf(options))
    if (t.exists) t.loadCurrent().schema else Model.physicalSchemaV1
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val root = pathOf(new CaseInsensitiveStringMap(properties))
    val t = new ChronicleTable(root)
    if (t.exists) new GraftTable(t, t.loadCurrent())
    else new MissingGraftTable(root)
  }

  /** `df.writeStream.format("graft").option("path", root)` — see
    * [[GraftStreamSink]]. Append and Update modes both mean "these rows
    * are change events"; Complete (whole-result rewrite every trigger)
    * contradicts an incremental ledger and is refused.
    */
  override def createSink(sqlContext: org.apache.spark.sql.SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(partitionColumns.isEmpty,
      "graft tables hash-bucket internally; partitionBy is not supported")
    require(outputMode != org.apache.spark.sql.streaming.OutputMode.Complete(),
      "graft sink applies change events incrementally; Complete mode is " +
        "not supported (use Append or Update)")
    val opts = new CaseInsensitiveStringMap(parameters.asJava)
    new GraftStreamSink(GraftStreamSink.tableFor(pathOf(opts)),
      source = opts.getOrDefault("source", "wstream"),
      mergeOnRead = opts.getBoolean("mor", false),
      buckets = opts.getInt("buckets", 16),
      saltBuckets = opts.getInt("saltBuckets", 0))
  }
}

/** Placeholder for a root with no table yet: no read/write capabilities
  * (so the streaming-write path falls through to the v1 sink that creates
  * the table), and a loud error if a batch read reaches scan planning.
  */
private[sql] class MissingGraftTable(root: String) extends Table with SupportsRead {
  override def name(): String = s"graft($root — not created yet)"
  override def schema(): StructType = Model.physicalSchemaV1
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
      Seq(root))
}

/** What one of [[ChronicleTable]]'s readers asks of the scan: `merge`
  * LWW-merges delta-carrying buckets (off = raw rows, superseded versions
  * included), `tombstones` keeps `_deleted` winners visible, `rewrite`
  * pins exactly the files a rewrite removes ([[Rewrite]]), and `changes`
  * keeps only the rows the changelog's mark rule ships ([[ChangeMarks]];
  * `readChanges` and the change stream's batches).
  */
private[graft] case class LibraryRead(merge: Boolean = true,
    tombstones: Boolean = true, rewrite: Option[Rewrite] = None,
    changes: Option[ChangeMarks] = None)

/** The files a rewrite removes, read as ONE partition per bucket of
  * `buckets` (ascending, a superset of the files' buckets), each the sorted
  * LWW merge of the bucket's files: key-unique, sorted by (conv_id,
  * turn_idx), a bucket without a file empty. Partition i is bucket
  * `buckets(i)`, so a writer can zip other per-bucket rows against it. No
  * filter drops one of the files.
  */
private[graft] case class Rewrite(files: Seq[DataFileMeta], buckets: Seq[Int])

/** One snapshot of one ChronicleTable as a DSv2 batch table. The snapshot
  * is PINNED at resolution time (repeatable reads within a query; time
  * travel hands in an older one). `library` = a library read
  * ([[LibraryRead]]), which exposes the plain snapshot schema (no SQL
  * default-value metadata).
  */
private[graft] class GraftTable(val table: ChronicleTable,
    val snapshot: Snapshot, library: Option[LibraryRead] = None)
  extends Table with SupportsRead
  with org.apache.spark.sql.connector.catalog.SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete {

  override def name(): String = s"graft(${table.root}@v${snapshot.version})"
  override def schema(): StructType =
    if (library.isDefined) snapshot.schema
    else GraftWrite.withSqlDefaults(snapshot.schema)

  /** `SHOW TBLPROPERTIES` / `DESCRIBE EXTENDED`: the snapshot's health
    * numbers, read from the manifest (no data IO) — the SQL face of
    * `RunCdc stats`.
    */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    m.put("version", snapshot.version.toString)
    m.put("buckets", snapshot.numBuckets.toString)
    m.put("rows", snapshot.totalRows.toString)
    m.put("files", snapshot.numFiles.toString)
    m.put("has_deltas", table.hasDeltas(snapshot).toString)
    m.put("commit_time_ms", snapshot.commitTimeMs.toString)
    snapshot.hwms.foreach { case (src, lsn) => m.put(s"hwm.$src", lsn.toString) }
    m
  }

  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(table, snapshot, options, library)

  /** `INSERT INTO` = apply a change batch via the exactly-once MERGE; the
    * whole statement plans as one batch, so the V1 whole-DataFrame bridge
    * (not per-task DataWriters) is the honest shape — the merge itself
    * distributes. No truncate/overwrite capability: INSERT OVERWRITE is
    * refused in analysis ([[GraftWriteBuilder]]).
    */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new GraftWriteBuilder(table, info)

  /** `DELETE FROM cat.t WHERE …` — NOT the DSv2 group replace (that would
    * physically drop rows with no LSN discipline). The matched VISIBLE
    * rows become `_deleted = true` change events at one LSN above the
    * table's high-water mark, applied through the same exactly-once MERGE
    * as every other write: tombstones mask in the LWW read, changelog
    * tailers ship the deletes downstream, time travel keeps the pre-DELETE
    * state, and replaying the identical statement is a no-op (the victims
    * are already hidden → empty batch). `TRUNCATE TABLE` inherits the same
    * semantics via the default `truncateTable()` = delete-all. Predicates
    * Spark cannot push as source filters (expressions, subqueries) are
    * refused in analysis rather than half-applied.
    */
  override def canDeleteWhere(filters: Array[sources.Filter]): Boolean =
    filters.forall(f => GraftSql.filterColumn(f, snapshot.schema).isDefined)

  override def deleteWhere(filters: Array[sources.Filter]): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    val spark = SparkSession.active
    val cur = table.loadCurrent() // delete against the LATEST state, not
    val cond = filters.toSeq      // the possibly stale resolution snapshot
      .map(f => GraftSql.filterColumn(f, cur.schema).getOrElse(
        throw new UnsupportedOperationException(
          s"DELETE predicate not translatable to a source filter: $f")))
      .reduceOption(_ && _).getOrElse(lit(true))
    val victims = table.read(spark)
      .filter(!col(Model.deletedColumn))
      .filter(cond)
    // hwm + 1 strictly exceeds every applied event's LSN, so each
    // tombstone wins its key's LWW merge; the final payload rides along
    // (the natural shape of a delete change event)
    val changes = victims
      .drop(Model.lsnColumn, Model.deletedColumn, Model.sourceColumn)
      .withColumn(Model.lsnColumn, lit(cur.hwmLsn + 1L))
      .withColumn(Model.deletedColumn, lit(true))
    GraftWrite.insertChanges(table, changes)
  }
}

private[graft] class GraftScanBuilder(table: ChronicleTable, snap: Snapshot,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty(),
    library: Option[LibraryRead] = None)
  extends ScanBuilder with SupportsPushDownFilters
  with SupportsPushDownRequiredColumns {

  private val tableCols = snap.schema.fieldNames.toSet
  private var pushed: Array[sources.Filter] = Array.empty
  private var required: StructType = snap.schema

  /** Accept every filter whose referenced columns all exist at the top
    * level (they feed manifest pruning and the parquet reader); hand ALL
    * filters back to Spark as residuals — the engine prunes, Spark stays
    * responsible for exactness.
    */
  override def pushFilters(filters: Array[sources.Filter]): Array[sources.Filter] = {
    pushed = filters.filter(_.references.forall(tableCols.contains))
    filters
  }
  override def pushedFilters(): Array[sources.Filter] = pushed

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new GraftScan(table, snap, pushed, required, options, library)
}

private[graft] class GraftScan(table: ChronicleTable, snap: Snapshot,
    pushed: Array[sources.Filter], required: StructType,
    options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty(),
    library: Option[LibraryRead] = None)
  extends Scan with Batch with SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsRuntimeFiltering {

  private val merge = library.forall(_.merge)
  private val tombstones = library.exists(_.tombstones)
  private[graft] val changes: Option[ChangeMarks] = library.flatMap(_.changes)

  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Declared up front, so physical planning does not ask each partition
    * through [[createReaderFactory]] (Spark's default), which would build
    * the parquet readers before the query runs.
    */
  override def columnarSupportMode(): Scan.ColumnarSupportMode =
    if (columnar) Scan.ColumnarSupportMode.SUPPORTED
    else Scan.ColumnarSupportMode.UNSUPPORTED

  private val rewrite: Option[Rewrite] = library.flatMap(_.rewrite)

  /** The buckets whose partition LWW-merges its files: every bucket of a
    * rewrite, else the delta-carrying ones.
    */
  private def merged: Set[Int] =
    if (rewrite.isDefined) rewrite.get.buckets.toSet
    else if (merge) files.filter(_.delta).map(_.bucket).toSet
    else Set.empty

  /** A scan that merges no bucket, keeps tombstone winners and picks no
    * changelog rows hands on parquet's columnar batches as they are (a
    * delta-free library read). Decided once, from the pruned file set:
    * runtime filtering only drops files, so it never adds a merging bucket.
    */
  private lazy val columnar: Boolean = tombstones && changes.isEmpty &&
    merged.isEmpty && new ParquetFileFormat().supportBatch(SparkSession.active, required)

  /** `readStream` on the SAME table object serves the changelog: the
    * unified surface delegates to the DSv2 micro-batch change stream
    * ([[graft.changes]] — startingVersion / maxVersionsPerTrigger /
    * bootstrap slicing options apply as reader options). The stream
    * carries the full table schema; the dedicated `graft.changes` source
    * remains the place for a `columns` projection.
    */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    graft.changes.DefaultSource.microBatchStream(snap.schema, table.root, options)

  override def description(): String =
    s"graft(${table.root}@v${snap.version}) " +
      s"pushed=[${pushed.mkString(",")}]"

  /** Runtime (join-driven) filters on the table key: a broadcast join
    * against a small dimension hands the scan the dim's conv_id set at
    * EXECUTION time (Spark's DPP-style v2 runtime filtering), and the
    * scan re-prunes its file set by hash bucket + key range before any
    * partition runs — at 100 TB the difference between scanning the
    * joined conversations' buckets and scanning the table.
    */
  @volatile private var runtime: Array[sources.Filter] = Array.empty
  @volatile private var filesMemo: Seq[DataFileMeta] = null

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions.column("conv_id"))

  override def filter(filters: Array[sources.Filter]): Unit = {
    val tableCols = snap.schema.fieldNames.toSet
    runtime = filters.filter(_.references.forall(tableCols.contains))
    filesMemo = null // re-prune with the runtime predicates folded in
  }

  /** Manifest-pruned file set (re-computed when runtime filters land). */
  private def files: Seq[DataFileMeta] = rewrite.map(_.files).getOrElse {
    val memo = filesMemo
    if (memo != null) return memo
    val computed = table.files(snap,
      FilePrune.of((pushed ++ runtime).toSeq, snap.numBuckets, merge))
    filesMemo = computed
    computed
  }

  /** Columns the row READER must materialize beyond the projection: the
    * LWW merge keys + order + tombstone flag, and the source tag when the
    * scan picks changelog rows (pushed filters' columns are in the
    * projection — Spark re-applies every filter above the scan).
    */
  private lazy val readAll: StructType = {
    val need = required.fieldNames.toSet ++
      Model.keyColumns ++ Seq(Model.lsnColumn, Model.deletedColumn) ++
      changes.map(_ => Model.sourceColumn)
    StructType(snap.schema.fields.filter(f => need.contains(f.name)))
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val spark = SparkSession.active
    def whole(f: DataFileMeta) =
      GraftScan.wholeFile(f.path, ChronicleTable.fileBytes(spark, f))
    val buckets = merged
    val (merging, plain) = files.partition(f => buckets(f.bucket))
    // a merged bucket: ONE partition streaming-merges its files (keys never
    // span buckets, so the per-bucket merge is exact)
    val byBucket = merging.groupBy(_.bucket)
    val merges = rewrite.map(_.buckets).getOrElse(byBucket.keys.toSeq.sorted)
      .map(b => GraftPartition(byBucket.getOrElse(b, Nil).map(whole), merge = true))
    // the other files pack by size, largest first, as Spark's file scans do
    val wholes = plain.map(whole).sortBy(-_.length)
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    val split = FilePartition.maxSplitBytes(spark, wholes.map(_.length + openCost).sum)
    (merges ++ FilePartition.getFilePartitions(spark, wholes, split)
      .map(p => GraftPartition(p.files.toSeq, merge = false))).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val spark = SparkSession.active
    def reader(filters: Array[sources.Filter], schema: StructType = readAll) =
      new ParquetFileFormat().buildReaderWithPartitionValues(
        sparkSession = spark,
        dataSchema = snap.schema,
        partitionSchema = new StructType(),
        requiredSchema = schema,
        filters = filters.toSeq,
        options = Map(FileFormat.OPTION_RETURNING_BATCH -> columnar.toString),
        hadoopConf = spark.sessionState.newHadoopConf())
    if (columnar) return new GraftBatchReaderFactory(reader(pushed, required))
    // Below the LWW merge only key filters may skip row groups: a skipped
    // group failing a ts/_lsn filter may hold the version that displaces
    // (or tombstones) a base row, which would then resurface (Spark's
    // residual filters keep the result exact). Only the readers the
    // planned partitions use are built: each broadcasts its Hadoop conf.
    val keyFilters = pushed.filter(_.references.forall(Model.keyColumns.contains))
    lazy val plainRead = reader(pushed)
    lazy val mergeRead =
      if (keyFilters.length == pushed.length) plainRead else reader(keyFilters)
    val buckets = merged
    val anyPlain = files.exists(f => !buckets(f.bucket))
    val idx = readAll.fieldNames.zipWithIndex.toMap
    new GraftReaderFactory(
      readFunc = if (anyPlain) plainRead else mergeRead,
      mergeReadFunc = if (buckets.nonEmpty) mergeRead else plainRead,
      convIdx = idx("conv_id"), turnIdx = idx("turn_idx"),
      lsnIdx = idx(Model.lsnColumn),
      delIdx = if (tombstones) -1 else idx(Model.deletedColumn),
      marks = changes.orNull, srcIdx = idx.getOrElse(Model.sourceColumn, -1),
      outIdx = required.fields.map(f => idx(f.name)),
      outTypes = required.fields.map(_.dataType))
  }

  override def estimateStatistics(): Statistics = new Statistics {
    override def sizeInBytes(): OptionalLong = {
      val known = files.map(_.bytes).sum
      OptionalLong.of(if (known > 0) known else files.map(_.rows).sum * 64L)
    }
    override def numRows(): OptionalLong =
      OptionalLong.of(files.map(_.rows).sum)
  }
}

/** One scan partition: pure-base files, or ALL files of a delta-carrying
  * bucket (merge = true).
  */
private[graft] case class GraftPartition(files: Seq[PartitionedFile],
    merge: Boolean) extends InputPartition {

  /** Each file's rows (or columnar batches) through the parquet `read`. */
  def open(read: PartitionedFile => Iterator[InternalRow]): Iterator[Iterator[InternalRow]] =
    files.iterator.map(read)
}

private[sql] object GraftScan {

  /** One whole data file as Spark's parquet reader takes it. */
  def wholeFile(path: String, len: Long): PartitionedFile =
    PartitionedFile(InternalRow.empty, SparkPath.fromPathString(path), 0L, len,
      Array.empty[String], 0L, len)

  /** A partition reader over `it`; parquet record readers close themselves
    * at task completion.
    */
  def reader[T](it: Iterator[T]): PartitionReader[T] = new PartitionReader[T] {
    private var cur: T = _
    override def next(): Boolean = it.hasNext && { cur = it.next(); true }
    override def get(): T = cur
    override def close(): Unit = ()
  }
}

/** Reads partitions as rows; `delIdx` < 0 keeps tombstone winners visible,
  * non-null `marks` keep only the rows they ship (`srcIdx` < 0: the table
  * has no source tag, every row is untagged).
  */
private[sql] class GraftReaderFactory(
    readFunc: PartitionedFile => Iterator[InternalRow],
    mergeReadFunc: PartitionedFile => Iterator[InternalRow],
    convIdx: Int, turnIdx: Int, lsnIdx: Int, delIdx: Int,
    marks: ChangeMarks, srcIdx: Int,
    outIdx: Array[Int], outTypes: Array[DataType]) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftPartition]
    val rows: Iterator[InternalRow] =
      if (p.merge)
        new SortedLwwMerge(p.open(mergeReadFunc).toSeq,
          p.files.map(_.filePath.toString), convIdx, turnIdx, lsnIdx)
      else p.open(readFunc).flatten
    // visible state: tombstone winners are hidden
    val visible = if (delIdx < 0) rows else rows.filter(r => !r.getBoolean(delIdx))
    // changelog: above the merge, as readChanges' net changes are
    val it = if (marks == null) visible else visible.filter(r => marks.ships(
      if (srcIdx < 0 || r.isNullAt(srcIdx)) null else r.getUTF8String(srcIdx),
      r.getLong(lsnIdx)))
    val project = UnsafeProjection.create(
      outIdx.zip(outTypes).map { case (i, t) =>
        BoundReference(i, t, nullable = true)
      }.toSeq)
    GraftScan.reader(it.map(project))
  }
}

/** Hands on each file's parquet batches (the reader returns them typed as
  * rows, as Spark's own file scans do).
  */
private[sql] class GraftBatchReaderFactory(
    readFunc: PartitionedFile => Iterator[InternalRow]) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    throw new UnsupportedOperationException("a columnar graft scan reads batches")

  override def supportColumnarReads(partition: InputPartition): Boolean = true

  override def createColumnarReader(partition: InputPartition)
      : PartitionReader[ColumnarBatch] =
    GraftScan.reader(partition.asInstanceOf[GraftPartition].open(readFunc).flatten
      .asInstanceOf[Iterator[ColumnarBatch]])
}

/** The engine's one LWW merge, for readers, rewrites and copy-on-write
  * commits alike: a streaming k-way merge of row streams, each sorted by
  * (conv_id, turn_idx) with unique keys within a stream — the invariant
  * every engine write upholds. Per key the max-`_lsn` row wins, a tie going
  * to the earlier stream; with `lastWins` the last stream's row wins
  * whatever its `_lsn` (an ordered source's batch). Memory is O(streams)
  * (one buffered row each — buffered rows are COPIES, the parquet reader
  * reuses its row). A stream delivering out of order (a foreign file in
  * the bucket) fails every read and rewrite of the bucket, naming `files`.
  */
private[graft] class SortedLwwMerge(streams: Seq[Iterator[InternalRow]],
    files: Seq[String], convIdx: Int, turnIdx: Int, lsnIdx: Int,
    lastWins: Boolean = false)
  extends Iterator[InternalRow] {

  private val its = streams.toArray
  private val heads = its.map(it => if (it.hasNext) it.next().copy() else null)

  private def cmp(a: InternalRow, b: InternalRow): Int = {
    val c = a.getUTF8String(convIdx).compareTo(b.getUTF8String(convIdx))
    if (c != 0) c else Integer.compare(a.getInt(turnIdx), b.getInt(turnIdx))
  }

  override def hasNext: Boolean = heads.exists(_ != null)

  override def next(): InternalRow = {
    var min: InternalRow = null
    var i = 0
    while (i < heads.length) {
      val h = heads(i)
      if (h != null && (min == null || cmp(h, min) < 0)) min = h
      i += 1
    }
    var winner: InternalRow = null
    i = 0
    while (i < heads.length) {
      val h = heads(i)
      if (h != null && cmp(h, min) == 0) {
        if (winner == null || h.getLong(lsnIdx) > winner.getLong(lsnIdx) ||
            (lastWins && i == heads.length - 1))
          winner = h
        val n = if (its(i).hasNext) its(i).next().copy() else null
        if (n != null && cmp(n, h) <= 0)
          throw new IllegalStateException(
            s"unsorted or key-duplicated data file ${files(i)} in the bucket " +
              s"merge of ${files.mkString("[", ", ", "]")}: every data file " +
              "must be sorted by (conv_id, turn_idx) with unique keys")
        heads(i) = n
      }
      i += 1
    }
    winner
  }
}

/** `spark.sql.catalog.<name> = graft.sql.GraftCatalog` with
  * `spark.sql.catalog.<name>.root = <warehouse dir>`: every ChronicleTable
  * under the root (nested namespaces = subdirectories) becomes a SQL
  * table, with `VERSION AS OF` / `TIMESTAMP AS OF` time travel mapped to
  * the engine's snapshot versions and [[ChronicleTable.versionAsOf]].
  *
  * DDL/DML surface: `CREATE TABLE` (payload columns; the engine appends
  * its system columns and buckets by `TBLPROPERTIES('buckets'='N')`),
  * `INSERT INTO` as change-batch application ([[GraftWriteBuilder]]), and
  * maintenance as stored procedures (`CALL cat.compact(…)` —
  * [[GraftProcedures]]). `ALTER TABLE` supports EXACTLY the engine's
  * merge-driven evolutions — `ADD COLUMNS` (appended, nullable) and
  * lossless type widening — as metadata-only commits; drop/rename/
  * reorder/narrow stay refused (they would strand changelog tailers and
  * rewrite history), and DROP/RENAME TABLE stays an operator action on
  * storage, not SQL — a CDC ledger table vanishing via a query would
  * strand its upstream cursors.
  *
  * Metadata tables (Iceberg's idiom): `SELECT * FROM cat.t.snapshots`
  * (the retained snapshot log), `cat.t.files` (the live file inventory
  * with its manifest stats — what pruning sees), `cat.t.lineage` (the
  * per-commit lineage ledger). All three read JSON manifests only — no
  * data IO — so they plan as driver-local scans.
  *
  * SQL `MERGE INTO` / `UPDATE` are deliberately NOT implemented (Spark's
  * standard "does not support MERGE INTO TABLE" error surfaces): the DSv2
  * row-level rewrite is a group replace — matched rows are physically
  * rewritten with no LSN discipline and no tombstones, which would
  * silently break the replay ledger, late-redelivery protection, and
  * every changelog tailer. On a CDC ledger the correct MERGE is "apply
  * change events", which is exactly what `INSERT INTO` of change rows
  * does, with full exactly-once semantics. `DELETE FROM` (and `TRUNCATE
  * TABLE`) ARE supported because a delete composes honestly as change
  * events: the matched visible rows become `_deleted = true` tombstones
  * above the high-water mark through the same merge
  * ([[GraftTable.deleteWhere]]) — history, time travel and downstream
  * tailers all see a normal delete batch.
  */
class GraftCatalog extends TableCatalog
  with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catalogName: String = _
  private var root: String = _

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name needs spark.sql.catalog.$name.root"))
  }

  override def name(): String = catalogName

  private def chronicle(ident: Identifier): ChronicleTable =
    new ChronicleTable(((root +: ident.namespace()) :+ ident.name())
      .mkString("/"))

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = java.nio.file.Paths.get((root +: namespace).mkString("/"))
    if (!java.nio.file.Files.isDirectory(dir)) Array.empty
    else java.nio.file.Files.list(dir).iterator().asScala
      .filter(p => java.nio.file.Files.exists(p.resolve("meta")))
      .map(p => Identifier.of(namespace, p.getFileName.toString))
      .toArray
  }

  override def loadTable(ident: Identifier): Table = {
    val t = chronicle(ident)
    if (t.exists) return new GraftTable(t, t.loadCurrent())
    // `SELECT * FROM cat.ns.t.<meta>` arrives as Identifier(ns :+ t, <meta>):
    // when no real table lives at the full path, the trailing name may be a
    // metadata-table selector on the parent (a real table always wins)
    if (ident.namespace().nonEmpty &&
        GraftCatalog.metaNames.contains(ident.name())) {
      val parent = chronicle(Identifier.of(
        ident.namespace().init, ident.namespace().last))
      if (parent.exists)
        return GraftCatalog.metaTable(parent, ident.name())
    }
    throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
      (ident.namespace() :+ ident.name()).toSeq)
  }

  /** SQL `VERSION AS OF <v>` — the engine's snapshot version. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val t = chronicle(ident)
    new GraftTable(t, t.loadVersion(version.toLong))
  }

  /** SQL `TIMESTAMP AS OF <ts>` — micros since epoch per the DSv2
    * contract; the engine's as-of resolution is milli-grained.
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val t = chronicle(ident)
    new GraftTable(t, t.loadVersion(t.versionAsOf(timestampMicros / 1000L)))
  }

  private def refused(what: String): Nothing =
    throw new UnsupportedOperationException(
      s"graft catalog does not support $what: schema evolves through " +
        "merges (additive columns, type widening), and destroying a CDC " +
        "ledger table would strand its upstream cursors — table removal " +
        "is an operator action on storage, not SQL")

  override def capabilities()
      : java.util.Set[org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(org.apache.spark.sql.connector.catalog
      .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  /** `CREATE TABLE cat.t (conv_id string, turn_idx int, …)
    * TBLPROPERTIES ('buckets'='N')`. The user declares the PAYLOAD; the
    * engine appends its system columns (`_lsn`, `_deleted`, `_source`) and
    * owns the physical layout — `PARTITIONED BY` is refused because
    * placement is the engine's hash-bucket invariant, not a user choice.
    */
  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    if (partitions.nonEmpty)
      throw new UnsupportedOperationException(
        "graft tables hash-bucket internally on conv_id; PARTITIONED BY " +
          "is not supported — size the layout with TBLPROPERTIES('buckets'='N')")
    val sysNames = Model.systemFields.map(_.name).toSet
    val payload = schema.fields.filterNot(f => sysNames.contains(f.name))
    for ((k, t) <- Seq(("conv_id", org.apache.spark.sql.types.StringType),
        ("turn_idx", org.apache.spark.sql.types.IntegerType)))
      require(payload.exists(f => f.name == k && f.dataType == t),
        s"graft tables key on (conv_id string, turn_idx int); missing or " +
          s"mistyped $k")
    val t = chronicle(ident)
    if (t.exists)
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException((ident.namespace() :+ ident.name()).toSeq)
    val buckets = Option(properties.get("buckets")).map(_.toInt).getOrElse(16)
    require(buckets >= 1, "buckets must be positive")
    t.create(StructType(payload ++ Model.systemFields), buckets)
    new GraftTable(t, t.loadCurrent())
  }

  /** `ALTER TABLE cat.t ADD COLUMNS (tool string, …)` and
    * `ALTER TABLE cat.t ALTER COLUMN x TYPE bigint` — the SQL face of the
    * engine's merge-driven schema evolution, restricted to EXACTLY the
    * [[ChronicleTable.mergeSchemas]] rule set (new columns append
    * nullable; widenings are the lossless Iceberg promotions int->long,
    * float->double, int->double), so a SQL ALTER and a widening change
    * batch can never produce different schemas. The change lands as a
    * METADATA-ONLY commit: no data files are touched (old narrow files
    * read through Spark's native parquet up-cast), the new version is
    * time-travelable like any other, and changelog tailers adopt it
    * through the existing widening path. Everything else — drop, rename,
    * reorder, narrowing, nullability changes — stays refused: the
    * changelog contract and the sorted-file invariant both survive only
    * additive evolution.
    */
  override def alterTable(ident: Identifier,
      changes: org.apache.spark.sql.connector.catalog.TableChange*): Table = {
    import org.apache.spark.sql.connector.catalog.TableChange
    import org.apache.spark.sql.types.StructField
    val t = chronicle(ident)
    if (!t.exists)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        (ident.namespace() :+ ident.name()).toSeq)
    val base = t.loadCurrent()
    var schema = base.schema
    changes.foreach {
      case a: TableChange.AddColumn =>
        require(a.fieldNames().length == 1,
          "graft tables have no nested columns — ADD COLUMN takes a " +
            "top-level name")
        val nm = a.fieldNames()(0)
        require(a.isNullable,
          s"ADD COLUMN $nm NOT NULL is unsatisfiable on existing rows — " +
            "add it nullable")
        require(a.position() == null,
          "column order is the engine's (new columns append) — " +
            "FIRST/AFTER is not supported")
        require(!schema.fieldNames.contains(nm), s"column $nm already exists")
        schema = ChronicleTable.mergeSchemas(schema,
          StructType(Seq(StructField(nm, a.dataType(), nullable = true))))
      case u: TableChange.UpdateColumnType =>
        require(u.fieldNames().length == 1,
          "graft tables have no nested columns")
        val nm = u.fieldNames()(0)
        require(schema.fieldNames.contains(nm), s"no such column $nm")
        val before = schema(schema.fieldIndex(nm)).dataType
        val merged = ChronicleTable.mergeSchemas(schema,
          StructType(Seq(StructField(nm, u.newDataType()))))
        if (merged(merged.fieldIndex(nm)).dataType != u.newDataType())
          throw new UnsupportedOperationException(
            s"ALTER COLUMN $nm: ${before.simpleString} -> " +
              s"${u.newDataType().simpleString} is not a lossless widening " +
              "(allowed: int->bigint, float->double, int->double)")
        schema = merged
      case other =>
        refused(s"ALTER TABLE ${other.getClass.getSimpleName}")
    }
    if (schema != base.schema) {
      // Range-shaped key like compaction's: unique per run (the version
      // always advances) and folded away by the contiguous-floor ledger.
      // endLsn = -1 keeps every source mark untouched (metadata-only).
      val key = s"altersql#${base.floors.getOrElse("altersql", -1L) + 1}" +
        s"-${base.version}"
      val lineage = LineageEntry(key, "altersql",
        -1L, -1L, 0L, 0L, 0L, 0L, Map.empty, -1L)
      t.commit(base, PendingCommit(key, Nil, Nil, Some(schema), lineage))
    }
    new GraftTable(t, t.loadCurrent())
  }
  override def dropTable(ident: Identifier): Boolean = refused("DROP TABLE")
  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    refused("RENAME TABLE")

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(root, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.nonEmpty) Array.empty
    else GraftProcedures.names.map(n => Identifier.of(namespace, n)).toArray
}

/** Metadata-table construction (`cat.t.snapshots` / `.files` /
  * `.lineage`). Content comes from the table's JSON manifests only — the
  * rows are O(retained versions | live files | retained commits), bounded
  * by the same argument that bounds manifest size, so a driver-local
  * [[org.apache.spark.sql.connector.read.LocalScan]] is the honest plan
  * (Iceberg's metadata tables make the same call at this cardinality).
  */
private[sql] object GraftCatalog {

  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.types.UTF8String

  val metaNames: Set[String] = Set("snapshots", "files", "lineage")

  private def row(values: Any*): InternalRow =
    new GenericInternalRow(values.map {
      case s: String => UTF8String.fromString(s)
      case v => v
    }.toArray)

  private val snapshotsSchema = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("commit_time_ms", LongType, nullable = false),
    StructField("rows", LongType, nullable = false),
    StructField("files", IntegerType, nullable = false),
    StructField("buckets", IntegerType, nullable = false),
    StructField("hwm_lsn", LongType, nullable = false),
    StructField("has_deltas", BooleanType, nullable = false)))

  private val filesSchema = StructType(Seq(
    StructField("path", StringType, nullable = false),
    StructField("bucket", IntegerType, nullable = false),
    StructField("delta", BooleanType, nullable = false),
    StructField("rows", LongType, nullable = false),
    StructField("bytes", LongType, nullable = false),
    StructField("min_key", StringType, nullable = false),
    StructField("max_key", StringType, nullable = false),
    StructField("min_lsn", LongType, nullable = false),
    StructField("max_lsn", LongType, nullable = false),
    StructField("min_ts_ms", LongType, nullable = false),
    StructField("max_ts_ms", LongType, nullable = false)))

  private val lineageSchema = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("batch_key", StringType, nullable = false),
    StructField("source", StringType, nullable = false),
    StructField("start_lsn", LongType, nullable = false),
    StructField("end_lsn", LongType, nullable = false),
    StructField("upserts", LongType, nullable = false),
    StructField("deletes", LongType, nullable = false),
    StructField("row_count", LongType, nullable = false),
    StructField("checksum", LongType, nullable = false)))

  def metaTable(t: ChronicleTable, which: String): Table = which match {
    case "snapshots" => new GraftMetaTable(s"graft(${t.root}).snapshots",
      snapshotsSchema, () => t.versions.sorted.map { v =>
        val s = t.loadVersion(v)
        row(v, s.commitTimeMs, s.totalRows, s.numFiles, s.numBuckets,
          s.hwmLsn, t.hasDeltas(s))
      }.toArray)
    case "files" => new GraftMetaTable(s"graft(${t.root}).files",
      filesSchema, () => t.filesOf(t.loadCurrent()).map { f =>
        row(f.path, f.bucket, f.delta, f.rows, f.bytes,
          f.minKey, f.maxKey, f.minLsn, f.maxLsn, f.minTsMs, f.maxTsMs)
      }.toArray)
    case "lineage" => new GraftMetaTable(s"graft(${t.root}).lineage",
      lineageSchema, () => t.fullLineage().map { e =>
        row(e.snapshotVersion, e.batchKey, e.source, e.startLsn, e.endLsn,
          e.upserts, e.deletes, e.rowCount, e.checksum)
      }.toArray)
    case other => throw new IllegalArgumentException(s"no metadata table $other")
  }
}

/** One metadata view of one ChronicleTable as a read-only DSv2 table whose
  * scan is a driver-local row set (content re-read at scan build, so a
  * cached analysis never serves stale metadata).
  */
private[sql] class GraftMetaTable(name0: String, schema0: StructType,
    content: () => Array[InternalRow]) extends Table with SupportsRead {
  override def name(): String = name0
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new org.apache.spark.sql.connector.read.LocalScan {
      override def rows(): Array[InternalRow] = content()
      override def readSchema(): StructType = schema0
      override def description(): String = name0
    }
}

private[sql] object GraftSql {

  /** EXACT translation of a pushed source filter back to a Catalyst
    * Column, for `DELETE FROM … WHERE` victim selection. None = shape not
    * covered → the DELETE refuses in analysis (never half-applies).
    * Unlike [[graft.table.FilePrune.of]] (pruning, allowed to be
    * lossy-conservative), this must be exact: the resulting condition
    * SELECTS the rows to tombstone.
    */
  def filterColumn(f: sources.Filter,
      schema: StructType): Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.functions.{col, lit}
    def ok(n: String) = schema.fieldNames.contains(n)
    f match {
      case sources.EqualTo(a, v) if ok(a) => Some(col(a) === lit(v))
      case sources.EqualNullSafe(a, v) if ok(a) => Some(col(a) <=> lit(v))
      case sources.In(a, vs) if ok(a) =>
        Some(col(a).isInCollection(vs.toSeq))
      case sources.GreaterThan(a, v) if ok(a) => Some(col(a) > lit(v))
      case sources.GreaterThanOrEqual(a, v) if ok(a) => Some(col(a) >= lit(v))
      case sources.LessThan(a, v) if ok(a) => Some(col(a) < lit(v))
      case sources.LessThanOrEqual(a, v) if ok(a) => Some(col(a) <= lit(v))
      case sources.IsNull(a) if ok(a) => Some(col(a).isNull)
      case sources.IsNotNull(a) if ok(a) => Some(col(a).isNotNull)
      case sources.StringStartsWith(a, v) if ok(a) => Some(col(a).startsWith(v))
      case sources.StringEndsWith(a, v) if ok(a) => Some(col(a).endsWith(v))
      case sources.StringContains(a, v) if ok(a) => Some(col(a).contains(v))
      case sources.And(l, r) =>
        for (a <- filterColumn(l, schema); b <- filterColumn(r, schema))
          yield a && b
      case sources.Or(l, r) =>
        for (a <- filterColumn(l, schema); b <- filterColumn(r, schema))
          yield a || b
      case sources.Not(c) => filterColumn(c, schema).map(!_)
      case _: sources.AlwaysTrue => Some(lit(true))
      case _: sources.AlwaysFalse => Some(lit(false))
      case _ => None
    }
  }
}
