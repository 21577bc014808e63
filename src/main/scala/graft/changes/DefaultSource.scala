package graft.changes

import graft.sql.{GraftScan, LibraryRead}
import graft.table.{ChangeMarks, ChronicleTable, Snapshot}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** `spark.readStream.format("graft.changes")` — the table's incremental
  * changelog as a first-class Structured Streaming SOURCE (DataSource v2
  * micro-batch stream), the always-on form of
  * [[graft.table.ChronicleTable.readChanges]]: offsets are snapshot
  * VERSIONS, each micro-batch is the net row changes committed in a
  * version range, planned from manifest metadata (per-file `_lsn` bounds
  * prune pre-cursor files at the LIST), and the stream's own checkpoint
  * carries the cursor — watermarks, stateful operators, and `foreachBatch`
  * sinks all compose downstream. This is the reference's continuous
  * notice-consumer loop (S3Consumer.java:98-158 polls the queue, receives
  * exactly the new files, replays them) re-expressed as the engine's
  * native streaming surface; Delta's `readChangeFeed` / Iceberg's
  * incremental streaming read play the same role.
  *
  * Options:
  *  - `path` (required): table root.
  *  - `startingVersion`: `"latest"` (default — tail only commits made
  *    after the stream starts), `"bootstrap"` (first batch = the full
  *    visible state, then tail; how [[graft.cdc.Chain.followStream]]
  *    initializes a downstream replica), a retained version number
  *    (resume a cursor handed over from batch [[ChronicleTable.readChanges]]),
  *    or `"@<epoch-millis|ISO-instant>"` — start from the snapshot live
  *    at that instant ([[ChronicleTable.versionAsOf]]).
  *  - `maxVersionsPerTrigger`: bound how many upstream COMMITS one
  *    micro-batch may cover (admission control — the reference's
  *    pause-aware batch draining, QueuedSink.java:96-153). Default
  *    unbounded.
  *  - `bootstrapSliceBytes` (default 16 GiB) / `bootstrapSlices`
  *    (explicit count override): a `bootstrap` start is CHUNKED into
  *    ceil(bytes / sliceBytes) disjoint `_lsn`-interval slices, one
  *    micro-batch each, so tailing a huge table never plans one
  *    table-sized batch. The pinned snapshot version, slice count and
  *    lsn bounds ride in the offsets — a crash between slices restarts
  *    at the next slice with identical intervals, exactly-once end to
  *    end. Tables without manifest lsn stats ship as one batch (no
  *    slicing axis).
  *  - `columns`: comma-separated data columns to carry (default all).
  *    The v2 STREAMING contract has no optimizer pushdown — unlike batch
  *    relations, `MicroBatchExecution` builds the scan once at stream
  *    start and `V2ScanRelationPushDown` never visits it (verified
  *    against the Spark 4.1 planner) — so a downstream `.select` cannot
  *    prune the parquet read. This option IS the projection: a tail that
  *    wants two columns of a wide transcript table reads two column
  *    chunks, not the `text` blobs. System columns (`_lsn`, `_deleted`,
  *    `_source`) always ride along — they are the change metadata and
  *    the mark filter needs them.
  *
  * Batch (fromV, toV] semantics mirror `readChanges(fromV)` evaluated at
  * `toV`, under the same marks ([[graft.table.ChangeMarks.since]]): every
  * row LIVE at `toV` whose `_lsn` exceeds ITS OWN source's high-water mark
  * in the `fromV` snapshot (a row tagged with a source that has no mark
  * at `toV` ships in neither). Each surviving row version is
  * emitted exactly once across the stream's lifetime (later batches raise
  * the marks past it; copy-on-write rewrites and compactions re-add files
  * but never un-mark rows), tombstones ride along as `_deleted = true`
  * rows where the table retains them (merge-on-read mode — the delete-
  * propagation contract of [[ChronicleTable.readChanges]]), and
  * merge-on-read SUPERSEDED versions within one range are NOT collapsed
  * (the batch is a raw changelog; downstream appliers LWW on `_lsn`, which
  * [[graft.ops.MergeInto]] does per batch anyway). System columns
  * (`_lsn`, `_deleted`, `_source`) are part of the stream schema — they
  * ARE the change metadata.
  *
  * Scale shape: each batch is the readers' DSv2 scan
  * ([[graft.sql.GraftScan]]) of the `toV` snapshot with its merge off. The
  * driver reads the manifest list, prunes by the batch's `_lsn` bounds and
  * packs the surviving files into partitions of about
  * `spark.sql.files.maxPartitionBytes` — metadata + O(new files),
  * independent of table size. The same bounds skip parquet row groups, and
  * the scan keeps exactly the rows the batch's marks ship
  * ([[graft.table.ChangeMarks]], the rule `readChanges` applies too); no
  * driver-side row movement.
  *
  * Schema is FIXED at stream start (the v2 contract): upstream ADDED
  * columns are simply not read until the stream restarts; upstream type
  * WIDENING (int→long) changes the parquet physical type, so planning
  * detects it and fails with a restart instruction rather than mis-read.
  * An upstream with UNORDERED sources cannot be tailed at all (no mark
  * bounds redelivery — same rule as `readChanges`).
  */
class DefaultSource extends TableProvider {

  private def pathOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      throw new IllegalArgumentException(
        "graft.changes requires option 'path' (the table root)"))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val full = new ChronicleTable(pathOf(options)).loadCurrent().schema
    DefaultSource.projectColumns(full, Option(options.get("columns")))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new ChangesTable(schema,
      pathOf(new CaseInsensitiveStringMap(properties)), properties)
}

private[graft] object DefaultSource {

  /** The stream schema under a `columns` projection: the requested data
    * columns in TABLE order, plus the system columns (always — they are
    * the change metadata). Unknown names fail at stream construction,
    * not as an empty column mid-run.
    */
  def projectColumns(full: StructType, columns: Option[String]): StructType =
    columns.map(_.trim).filter(_.nonEmpty) match {
      case None => full
      case Some(spec) =>
        val want = spec.split(",").map(_.trim).filter(_.nonEmpty)
        val known = full.fieldNames.toSet
        val missing = want.filterNot(known.contains)
        require(missing.isEmpty,
          s"columns option names fields not in the table: " +
            s"${missing.mkString(",")} (have ${full.fieldNames.mkString(",")})")
        val keep = want.toSet ++ graft.model.Model.systemColumns
        StructType(full.fields.filter(f => keep.contains(f.name)))
    }

  /** Factory for the unified catalog/path table ([[graft.sql.GraftTable]]):
    * `readStream.format("graft")` and `readStream.table("cat.t")` serve
    * the SAME micro-batch change stream as `format("graft.changes")` —
    * one table object for batch read, batch write, stream read and stream
    * write. (The `columns` projection stays exclusive to the dedicated
    * changes source: a catalog table's stream must carry the table
    * schema.)
    */
  private[graft] def microBatchStream(schema: StructType, root: String,
      options: CaseInsensitiveStringMap): MicroBatchStream =
    new ChangesMicroBatchStream(schema, root, options)
}

private[changes] class ChangesTable(schema0: StructType, root: String,
    properties: java.util.Map[String, String]) extends Table with SupportsRead {

  override def name(): String = s"graft.changes($root)"
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // table properties carry the reader options; scan options override
    val merged = new java.util.HashMap[String, String](properties)
    merged.putAll(options.asCaseSensitiveMap())
    new ScanBuilder {
      override def build(): Scan =
        new ChangesScan(schema0, root, new CaseInsensitiveStringMap(merged))
    }
  }
}

private[changes] class ChangesScan(schema0: StructType, root: String,
    options: CaseInsensitiveStringMap) extends Scan {
  override def readSchema(): StructType = schema0
  override def description(): String = s"graft.changes($root)"
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new ChangesMicroBatchStream(schema0, root, options)
}

/** Stream offset = table snapshot version (the changelog cursor), plus —
  * during a CHUNKED bootstrap — the slice position and the slicing inputs
  * (count + lsn bounds of the pinned bootstrap snapshot). The inputs ride
  * IN the offset so a restarted query replays identical slice intervals
  * from the WAL even after the table advanced: `slice = i` means slices
  * 0..i of `slices` have been emitted; `slice = slices-1` hands over to
  * the plain tail regime at `version`. A plain offset has `slices = 0`.
  */
private[changes] case class VersionOffset(version: Long,
    slice: Int = -1, slices: Int = 0,
    lsnMin: Long = -1L, lsnMax: Long = -1L) extends Offset {
  def inBootstrap: Boolean = slices > 0
  def bootstrapDone: Boolean = slices > 0 && slice >= slices - 1
  override def json(): String =
    if (!inBootstrap) s"""{"version":$version}"""
    else s"""{"version":$version,"slice":$slice,"slices":$slices,""" +
      s""""lsnMin":$lsnMin,"lsnMax":$lsnMax}"""
}

private[changes] object VersionOffset {
  def fromJson(s: String): VersionOffset =
    try {
      val n = graft.table.ChronicleTable.mapper.readTree(s)
      require(n.has("version"))
      VersionOffset(n.get("version").asLong(),
        slice = if (n.has("slice")) n.get("slice").asInt() else -1,
        slices = if (n.has("slices")) n.get("slices").asInt() else 0,
        lsnMin = if (n.has("lsnMin")) n.get("lsnMin").asLong() else -1L,
        lsnMax = if (n.has("lsnMax")) n.get("lsnMax").asLong() else -1L)
    } catch {
      case _: Exception => throw new IllegalArgumentException(
        s"not a graft.changes offset: $s")
    }
}

private[changes] class ChangesMicroBatchStream(schema0: StructType,
    root: String, options: CaseInsensitiveStringMap)
  extends MicroBatchStream with SupportsAdmissionControl
  with SupportsTriggerAvailableNow {

  private val table = new ChronicleTable(root)

  private val maxVersionsPerTrigger: Long = {
    val v = options.getLong("maxVersionsPerTrigger", Long.MaxValue)
    require(v > 0, s"maxVersionsPerTrigger must be positive, got $v")
    v
  }

  /** Chunked-bootstrap sizing: `startingVersion=bootstrap` ships the full
    * state as ceil(bytes / bootstrapSliceBytes) lsn-interval slices, ONE
    * PER MICRO-BATCH, instead of planning one table-sized batch
    * (`bootstrapSlices` overrides the count directly; a table without
    * manifest lsn stats has no slicing axis and ships as one batch). The
    * slice intervals are pinned in the offsets, so a crash between slices
    * restarts exactly at the next slice from the WAL.
    */
  private val bootstrapSliceBytes: Long = {
    val v = options.getLong("bootstrapSliceBytes", 16L << 30)
    require(v > 0, s"bootstrapSliceBytes must be positive, got $v")
    v
  }
  private val bootstrapSlicesOverride: Int =
    options.getInt("bootstrapSlices", 0)

  /** Trigger.AvailableNow bound: set once at query start, so the run
    * drains to a fixed target and terminates even while writers commit.
    */
  @volatile private var availableNowTarget: Option[Long] = None

  /** The CURRENT batch's scan, built by [[planInputPartitions]] for
    * [[createReaderFactory]]. Micro-batches execute strictly sequentially
    * (plan -> execute -> commit), so one slot suffices.
    */
  @volatile private[changes] var batch: GraftScan = _

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(table.loadCurrent().version)

  override def initialOffset(): Offset = {
    val cur = table.loadCurrent()
    table.requireTailable(cur)
    options.getOrDefault("startingVersion", "latest") match {
      case "latest" => VersionOffset(cur.version)
      case "bootstrap" =>
        // pin the bootstrap snapshot, slice count and lsn bounds NOW —
        // they ride in every bootstrap offset, so the WAL alone
        // reconstructs each slice's interval on restart
        val (gMin, gMax) = table.lsnBounds(cur)
        val k =
          if (bootstrapSlicesOverride > 0 && gMin >= 0L && gMax > gMin)
            bootstrapSlicesOverride
          else table.bootstrapSliceCount(cur, bootstrapSliceBytes)
        VersionOffset(cur.version, slice = -1, slices = k,
          lsnMin = gMin, lsnMax = gMax)
      case at if at.startsWith("@") =>
        // timestamp cursor: the snapshot live at that instant (fails
        // clearly when the instant predates the oldest retained version)
        VersionOffset(table.versionAsOf(ChronicleTable.instantMillis(at)))
      case v =>
        val ver = try v.toLong catch {
          case _: NumberFormatException => throw new IllegalArgumentException(
            s"startingVersion must be 'latest', 'bootstrap', '@<instant>' " +
              s"or a version number, got '$v'")
        }
        table.loadVersion(ver) // fails clearly when expired
        VersionOffset(ver)
    }
  }

  // Always allAvailable: the version cap is applied INTERNALLY by
  // latestOffset(start, limit) below (offsets are snapshot versions, and
  // no stock ReadLimit has that unit — maxFiles would mislabel it anywhere
  // Spark surfaces or composes the limit).
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[VersionOffset]
    // mid-bootstrap: emit the NEXT slice, one per micro-batch (each slice
    // is already byte-sized admission; maxVersionsPerTrigger governs the
    // tail regime that follows)
    if (s.inBootstrap && !s.bootstrapDone) return s.copy(slice = s.slice + 1)
    val cur = availableNowTarget.getOrElse(table.loadCurrent().version)
    val from = s.version
    // idle (nothing past the bootstrap target yet): return `start`
    // UNCHANGED — a plain re-encoding of the same version would differ in
    // json from a bootstrap-form offset and spin empty batches forever
    if (cur <= from) return s
    val capped =
      if (maxVersionsPerTrigger == Long.MaxValue) cur
      else math.min(cur, math.max(from, -1L) + maxVersionsPerTrigger)
    VersionOffset(math.max(capped, from))
  }

  override def reportLatestOffset(): Offset =
    VersionOffset(table.loadCurrent().version)

  override def deserializeOffset(json: String): Offset =
    VersionOffset.fromJson(json)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  /** The stream schema is pinned at start; a file written after an
    * upstream type WIDENING has a different parquet physical type, which
    * the pinned reader would mis-read — fail with the restart instruction
    * instead. ADDED columns are fine (not read until restart).
    */
  private def requireSchemaCompatible(to: Snapshot): Unit = {
    val now = to.schema.fields.map(f => f.name -> f.dataType).toMap
    val drifted = schema0.fields.filter(f => !now.get(f.name).contains(f.dataType))
    require(drifted.isEmpty,
      s"table $root schema evolved incompatibly under a running change " +
        s"stream (fields ${drifted.map(_.name).mkString(",")} changed type " +
        "or vanished) — restart the stream to adopt the new schema")
  }

  /** The batch's rows: a bootstrap slice ships every row of the pinned
    * snapshot whose `_lsn` lies in the slice's interval, a tail batch the
    * net changes of (fromV, toV] under the cursor's per-source marks —
    * both the readers' scan of the `to` snapshot, merge off, picking its
    * rows by [[ChangeMarks]], with the marks' `_lsn` bounds pushed to
    * manifest pruning and the parquet reader.
    */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val so = start.asInstanceOf[VersionOffset]
    val eo = end.asInstanceOf[VersionOffset]
    val to = table.loadVersion(eo.version)
    table.requireTailable(to)
    requireSchemaCompatible(to)
    val marks =
      if (eo.inBootstrap && eo.slice >= 0) {
        val (lo, hi) = ChronicleTable.lsnSliceInterval(
          eo.lsnMin, eo.lsnMax, eo.slice, eo.slices)
        ChangeMarks.slice(lo, hi)
      } else if (so.version < 0L) {
        // legacy (pre-sliced-checkpoint) single-batch bootstrap
        ChangeMarks.slice(Long.MinValue, Long.MaxValue)
      } else ChangeMarks.since(table, table.loadVersion(so.version), to)
    batch = new GraftScan(table, to, marks.lsnFilters.toArray, schema0,
      library = Some(LibraryRead(merge = false, changes = Some(marks))))
    batch.planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    batch.createReaderFactory()
}
