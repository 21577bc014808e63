package graft.table

import com.fasterxml.jackson.databind.{DeserializationFeature, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.sql.{GraftTable, LibraryRead, Rewrite}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID
import scala.jdk.CollectionConverters._

/** Statistics and identity of one immutable parquet data file of the table.
  *
  * `bucket` is the hash bucket of `conv_id` the file belongs to (all rows in
  * a file share a bucket), enabling co-partitioned, shuffle-pruned MERGE.
  * `minKey`/`maxKey` are conv_id bounds inside the bucket for second-level
  * file pruning (the Spark-native analogue of Iceberg manifest column
  * bounds).
  */
case class DataFileMeta(
    path: String,
    rows: Long,
    bucket: Int,
    minKey: String,
    maxKey: String,
    /** Event-time bounds (epoch millis) of rows in the file — the
      * second-level partition value for time-ranged reads and retention
      * scans (the reference's date-suffixed outputs:
      * IndexSuffixFormatter.java:27-41, DynamicRemotePrefixFormatter.java:16-50).
      * (0, 0) = stats unknown (pre-upgrade manifest) → never pruned.
      */
    minTsMs: Long = 0L,
    maxTsMs: Long = 0L,
    /** Merge-on-read DELTA file: rows here OVERLAY the bucket's base files
      * (and earlier deltas) per key under last-writer-wins on `_lsn`, with
      * `_deleted` tombstones masking base rows. A merge in MOR mode writes
      * only its batch as deltas — O(batch) write IO instead of copy-on-
      * write's O(touched files) rewrite — and compaction folds deltas back
      * into unique-key base files. False (absent in pre-MOR manifests) =
      * base file: keys unique across the bucket's base files.
      */
    delta: Boolean = false,
    /** `_lsn` bounds of rows in the file — what lets the incremental
      * changelog ([[ChronicleTable.readChanges]]) prune pre-cursor files at
      * the MANIFEST, so tailing a huge table costs metadata + O(new files)
      * instead of listing and opening every live file per poll (Iceberg's
      * incremental scan; the reference hands consumers exactly the new
      * files via its notice queue, QueueNotice.java:75-97,
      * S3Consumer.java:98-158). (-1, -1) = unknown (pre-upgrade manifest)
      * → never pruned.
      */
    minLsn: Long = -1L,
    maxLsn: Long = -1L,
    /** File size in bytes — lets scan planning (the DSv2 scan that every
      * reader, rewrite and change-stream batch plans through) pack files
      * into partitions and estimate sizes from the manifest alone, with no
      * per-file filesystem stat. 0 = unknown
      * (pre-upgrade manifest) → statted once when planned
      * ([[ChronicleTable.fileBytes]]).
      */
    bytes: Long = 0L)

/** Summary of one per-bucket manifest file in the snapshot's manifest LIST:
  * enough metadata (bucket, aggregate key/time bounds, counts) to prune the
  * whole bucket without opening its manifest. The snapshot JSON holds only
  * these summaries, so per-commit metadata IO is O(touched buckets), not
  * O(all live files) — the front-index-not-history discipline of the
  * reference's persisted queue (FileBlockingQueue.java:143-150), applied to
  * the file inventory (Iceberg's manifest-list layout).
  */
case class ManifestMeta(
    path: String,
    bucket: Int,
    numFiles: Int,
    rows: Long,
    minKey: String,
    maxKey: String,
    /** (0, 0) when ANY member file lacks ts stats — the bucket is then
      * conservatively kept by time pruning.
      */
    minTsMs: Long,
    maxTsMs: Long,
    /** Number of merge-on-read delta files in the manifest (0 = pure base:
      * the bucket reads as a plain scan, no read-time merge needed).
      */
    deltaFiles: Int = 0,
    /** Aggregate `_lsn` bounds across member files; (-1, -1) when ANY
      * member lacks them — the bucket is then conservatively kept by
      * changelog pruning.
      */
    minLsn: Long = -1L,
    maxLsn: Long = -1L)

/** On-disk content of one per-bucket manifest file. Manifest files are
  * immutable and uuid-named: a commit writes NEW manifests for the buckets
  * it touched and carries every other bucket's manifest by reference.
  */
case class BucketManifest(bucket: Int, files: Seq[DataFileMeta])

/** Per-commit lineage: the Spark-native version of the reference's upload
  * notice JSON `{bucket, filePath, size, collector}` plus CRC
  * (suro-s3/.../S3FileSink.java:144-154; MessageSetBuilder.java:132-136).
  * One record per committed micro-batch; `checksum` is
  * bit_xor(xxhash64(conv_id, turn_idx, text)) over the rows applied by the
  * batch, `rowsByBucket` the per-partition row counts.
  */
case class LineageEntry(
    batchKey: String,
    source: String,
    startLsn: Long,
    endLsn: Long,
    upserts: Long,
    deletes: Long,
    rowCount: Long,
    checksum: Long,
    rowsByBucket: Map[String, Long],
    snapshotVersion: Long)

object LineageEntry {
  /** The `rowsByBucket` of a commit adding `files`. */
  def rowsByBucket(files: Seq[DataFileMeta]): Map[String, Long] =
    files.groupBy(_.bucket.toString).map { case (b, fs) => b -> fs.map(_.rows).sum }
}

/** One immutable snapshot (version) of the table. */
case class Snapshot(
    version: Long,
    schemaJson: String,
    numBuckets: Int,
    /** Manifest list: one summary per live per-bucket manifest file. The
      * full file inventory is the concatenation of the referenced bucket
      * manifests ([[ChronicleTable.filesOf]]); embedding it here would make
      * every commit rewrite O(all files) of metadata.
      */
    manifests: Seq[ManifestMeta],
    /** batchKey -> version that committed it; the idempotent-commit ledger
      * (the reference's `processingFileSet` upload dedup,
      * RemoteFileSink.java:159-216, made durable). BOUNDED: keys of the form
      * `prefix#n` whose n is at-or-below `ledgerFloors(prefix)` are dropped
      * at commit time — only the recent non-contiguous window stays explicit,
      * so manifest size is O(live files + window), not O(all batches ever)
      * (the reference's persisted queue keeps a front index, not history:
      * FileBlockingQueue.java:143-150).
      */
    committedBatches: Map[String, Long],
    /** prefix -> highest n such that ALL batch keys `prefix#0..n` have been
      * committed (max-contiguous floor). Membership = n <= floor OR explicit
      * key — see [[ChronicleTable.isCommitted]].
      */
    ledgerFloors: Map[String, Long] = Map.empty,
    /** High-water mark of applied LSNs (monotone) across ALL sources —
      * diagnostics and the legacy fallback for [[hwmFor]].
      */
    hwmLsn: Long,
    /** Per-source LSN high-water marks, keyed by batch-key prefix (the
      * part before '#'). LSN sequences are independent PER SOURCE (Kafka
      * partition offsets, per-shard binlog positions), so the ordered-
      * source redelivery filter must compare against ITS source's mark — a
      * single global mark would silently drop a second source whose
      * sequence runs lower (the north rule's "LSN/offset high-water
      * marks", plural, and the reference's per-input positions,
      * InputManager.java:36-56).
      */
    hwmBySource: Map[String, Long] = Map.empty,
    /** Source prefixes that have committed UNORDERED batches (Structured
      * Streaming epochs, whose file-listing order is not the log order).
      * An unordered source's high-water mark does NOT bound redelivery —
      * a later epoch can legitimately carry lower LSNs — so consumers that
      * reason from marks (changelog reads, tombstone GC horizons) must
      * treat these sources conservatively.
      */
    unorderedSources: Seq[String] = Nil,
    /** Per-source consumption cursor: sourceId -> highest consumed segment
      * number. Resume slices the segment list by NUMBER past this cursor,
      * never by list index, so a committed partial trailing batch (e.g. one
      * segment when segmentsPerBatch=4) cannot cause later-arriving segments
      * to be skipped — the persisted consumer front-index of the reference's
      * disk queue (FileBlockingQueue.java:143-150), keyed per source.
      */
    sourceCursors: Map[String, Long] = Map.empty,
    /** Lineage of the commits made AT this version only (usually one entry).
      * The full ledger is the concatenation across versions
      * ([[ChronicleTable.fullLineage]]) — embedding history in every
      * manifest would make manifest IO quadratic over a long replay.
      */
    lineage: Seq[LineageEntry],
    /** Wall-clock commit time, enforced monotone in version (a clock step
      * backwards cannot reorder history: each commit stamps at least
      * parent+1 ms). 0 on manifests written before the field existed —
      * pre-upgrade versions read as committed at the epoch, so any real
      * as-of instant resolves PAST all of them (to the newest pre-upgrade
      * version, or onward to genuinely stamped ones).
      */
    commitTimeMs: Long = 0L) {
  def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]
  def totalRows: Long = manifestList.map(_.rows).sum
  def numFiles: Int = manifestList.map(_.numFiles).sum
  /** Null-safe manifests view (old manifests may lack the field). */
  def manifestList: Seq[ManifestMeta] = Option(manifests).getOrElse(Nil)
  /** Null-safe cursor view (manifests written before the field existed
    * deserialize it as null; Jackson also erases Long map values to Integer
    * for small numbers, so coerce through Number).
    */
  def cursors: Map[String, Long] = Snapshot.longMap(sourceCursors)
  def floors: Map[String, Long] = Snapshot.longMap(ledgerFloors)
  def hwms: Map[String, Long] = Snapshot.longMap(hwmBySource)
  /** Null-safe unordered-source view (pre-upgrade manifests lack the field). */
  def unordered: Set[String] = Option(unorderedSources).getOrElse(Nil).toSet
  /** The safe MOR tombstone-GC horizon for this snapshot: the MINIMUM
    * applied-LSN mark across all contributing sources — a tombstone above
    * any source's mark may still be needed to mask that source's late
    * redelivery (compaction drops tombstones regardless of writer, so the
    * horizon must be safe for every writer, not just the caller's). An
    * unordered source (or an ordered one that has not advanced a mark yet,
    * e.g. only empty batches so far) floors it to Long.MinValue: no mark
    * bounds its redelivery, so nothing may be GC'd.
    */
  def tombstoneHorizon: Long = {
    val marks = hwms
    // every source prefix seen by the ledger must be covered by a mark
    val prefixes = (floors.keys ++ committedBatches.keys.map(_.takeWhile(_ != '#')))
      .filterNot(ChronicleTable.nonSources).toSet
    if (unordered.nonEmpty || marks.isEmpty || !prefixes.forall(marks.contains))
      Long.MinValue
    else marks.values.min
  }
  /** This source's applied-LSN high-water mark: -1 for a source the table
    * has never seen. Pre-upgrade manifests (field absent -> null) fall
    * back to the global mark — those tables were single-source by
    * construction, where the two marks coincide.
    */
  def hwmFor(sourcePrefix: String): Long =
    if (hwmBySource == null) hwmLsn
    else hwms.getOrElse(sourcePrefix, -1L)
}

object Snapshot {
  /** Null-safe Long-map view: Jackson deserializes a missing field as null
    * and erases small Long values to Integer.
    */
  private[table] def longMap(m: Map[String, Long]): Map[String, Long] =
    Option(m).map(_.asInstanceOf[Map[String, Any]])
      .getOrElse(Map.empty)
      .map { case (k, v) => k -> v.asInstanceOf[Number].longValue }
}

/** What a merge hands to the table for publication. */
case class PendingCommit(
    batchKey: String,
    removedFiles: Seq[String],
    addedFiles: Seq[DataFileMeta],
    newSchema: Option[StructType],
    lineage: LineageEntry,
    /** Optional (sourceId, highest consumed segment number) cursor advance. */
    cursor: Option[(String, Long)] = None,
    /** Set ONLY by a full-rewrite rescale: the table's new bucket count
      * (every addedFile must already be bucketed by it and removedFiles
      * must cover the entire previous inventory — [[ChronicleTable.commit]]
      * re-verifies full coverage against the snapshot it actually lands on,
      * so a rescale can never rebase over a concurrent writer's files).
      */
    newNumBuckets: Option[Int] = None,
    /** Whether the committing batch came from an ORDERED source (LSNs
      * monotone across batches, so the source's high-water mark bounds
      * redelivery). False marks the source unordered in the snapshot,
      * which disables mark-based tombstone GC and changelog reads for the
      * table (see [[Snapshot.unorderedSources]]).
      */
    ordered: Boolean = true)

/** ChronicleTable — a from-scratch Iceberg-style table format.
  *
  * Layout:
  * {{{
  *   <root>/data/<uuid>/bucket=N/part-*.parquet   immutable data files
  *   <root>/meta/manifests/m-<bucket>-<uuid>.json immutable per-bucket manifests
  *   <root>/meta/v%09d.json                       snapshot manifest LISTS
  *   <root>/meta/_CURRENT                         pointer file: "v%09d"
  * }}}
  *
  * Commit protocol (two-phase, mirrors the reference's
  * rotate -> .done -> notice -> upload -> dedup pipeline, SURVEY.md §2.5):
  *  1. data files are fully written under data/, and NEW per-bucket manifest
  *     files for exactly the buckets the commit touches are written under
  *     meta/manifests/ (the "stage" phase; a crash here leaves orphans that
  *     nothing references — harmless, GC-able);
  *  2. the new manifest list v(N+1).json is created with CREATE_NEW — the
  *     optimistic-concurrency barrier. On conflict the commit RELOADS the
  *     winner and REBASES: if its removed-file set is still live there (the
  *     writers touched disjoint buckets — e.g. compaction racing a merge),
  *     fresh bucket manifests are written against the new base and the
  *     commit retries; if not, it aborts with a conflict error.
  *  3. _CURRENT is flipped via write-temp + atomic rename. A crash between
  *     (2) and (3) is healed on next load: loadCurrent() takes the highest
  *     manifest version present, not the pointer, when the pointer lags.
  *
  * Idempotence: each commit carries a `batchKey`; a batchKey already present
  * in `committedBatches` is skipped by callers, so source replays after a
  * kill-resume cannot double-apply (exactly-once over at-least-once
  * delivery — the reference's notice-remove-after-success loop,
  * S3Consumer.java:226-290, with the cursor and the data made atomic by
  * sharing one ledger).
  *
  * Scale notes (100 TB): the snapshot JSON is a manifest LIST (per-bucket
  * summaries only), so per-commit metadata IO is O(touched buckets);
  * MERGE planning prunes at the list level first and opens only surviving
  * buckets' manifests; file stats come from the write itself — each write
  * task folds its file's rows, key/ts/`_lsn` bounds and size as it writes
  * ([[graft.ops.StagedWrite]]), so a commit of any size lists nothing and
  * opens no footer.
  */
class ChronicleTable(val root: String) {
  import ChronicleTable._

  private val metaDir: Path = Paths.get(root, "meta")
  private val manifestsDir: Path = metaDir.resolve("manifests")
  private val dataDir: Path = Paths.get(root, "data")

  def exists: Boolean = Files.exists(metaDir) && listVersions.nonEmpty

  /** Create an empty table with the given initial schema. */
  def create(schema: StructType, numBuckets: Int): Snapshot = {
    Files.createDirectories(metaDir)
    Files.createDirectories(manifestsDir)
    Files.createDirectories(dataDir)
    val s0 = Snapshot(version = 0L, schemaJson = schema.json,
      numBuckets = numBuckets, manifests = Nil, committedBatches = Map.empty,
      ledgerFloors = Map.empty, hwmLsn = -1L, sourceCursors = Map.empty,
      lineage = Nil, commitTimeMs = System.currentTimeMillis())
    writeSnapshotJson(s0)
    flipPointer(0L)
    s0
  }

  private def listVersions: Seq[Long] =
    if (!Files.exists(metaDir)) Nil
    else Files.list(metaDir).iterator().asScala
      .map(_.getFileName.toString)
      .collect { case ManifestName(v) => v.toLong }
      .toSeq.sorted

  /** Load the current snapshot. Self-healing: if a crash happened between
    * manifest create and pointer flip, the highest manifest wins and the
    * pointer is repaired.
    */
  def loadCurrent(): Snapshot = {
    val latest = listVersions.lastOption.getOrElse(
      throw new IllegalStateException(s"no snapshots under $root"))
    val pointer = readPointer()
    if (pointer != latest) flipPointer(latest)
    loadVersion(latest)
  }

  /** Time travel: load a specific snapshot version. Fails with a clear
    * error if the version was expired by [[expireSnapshots]].
    */
  def loadVersion(version: Long): Snapshot = {
    val p = metaDir.resolve(f"v$version%09d.json")
    if (!Files.exists(p))
      throw new NoSuchElementException(
        s"snapshot v$version of $root does not exist (expired or never written); " +
          s"available: ${listVersions.mkString(",")}")
    mapper.readValue(Files.readString(p), classOf[Snapshot])
  }

  def versions: Seq[Long] = listVersions

  /** Timestamp time travel: the newest RETAINED version committed at or
    * before `tsMillis` (Iceberg/Delta's as-of-timestamp). Commit times are
    * monotone in version (stamped at least parent+1 ms), so this is a
    * binary search over the retained version list — O(log versions)
    * snapshot reads, no scan of history. Fails clearly when `tsMillis`
    * predates the oldest retained snapshot (earlier versions are expired
    * or were never committed by then).
    */
  def versionAsOf(tsMillis: Long): Long = {
    val vs = listVersions
    require(vs.nonEmpty, s"no snapshots under $root")
    val oldest = loadVersion(vs.head)
    if (oldest.commitTimeMs > tsMillis)
      throw new NoSuchElementException(
        s"no snapshot of $root at or before ts=$tsMillis: oldest retained " +
          s"v${oldest.version} was committed at ${oldest.commitTimeMs} " +
          "(earlier versions expired or not yet written)")
    var lo = 0
    var hi = vs.length - 1
    while (lo < hi) { // invariant: vs(lo) qualifies; answer in [lo, hi]
      val mid = (lo + hi + 1) >>> 1
      if (loadVersion(vs(mid)).commitTimeMs <= tsMillis) lo = mid
      else hi = mid - 1
    }
    vs(lo)
  }

  /** Read the table as of a wall-clock instant — see [[versionAsOf]]. */
  def readAsOf(spark: SparkSession, tsMillis: Long): DataFrame =
    read(spark, loadVersion(versionAsOf(tsMillis)))

  /** Export a snapshot's VISIBLE state as plain parquet for handoff
    * (training jobs, external warehouses): tombstoned rows dropped,
    * system columns (`_lsn`, `_deleted`, `_source`) stripped, rows
    * sorted by key within partitions. SHUFFLE-FREE: the read is already
    * partitioned by the table's files, so export cost is one scan + one
    * write at any table size. Returns the exported row count.
    */
  def exportSnapshot(spark: SparkSession, outDir: String,
      snapshot: Snapshot): Long = {
    import graft.model.Model
    import org.apache.spark.sql.functions.{col, count, lit}
    // the row count rides the write job as an Observation — re-scanning
    // the export to count it would double the job at any table size
    val obs = org.apache.spark.sql.Observation()
    read(spark, snapshot)
      .filter(!col(Model.deletedColumn))
      .drop(Model.systemColumns: _*)
      .sortWithinPartitions("conv_id", "turn_idx")
      .observe(obs, count(lit(1)).as("rows"))
      .write.mode("overwrite").parquet(outDir)
    // an all-deleted snapshot writes zero rows end-to-end; AQE's
    // empty-relation propagation then drops the CollectMetrics node and
    // the observation completes with an EMPTY row (same failure mode as
    // the merge write metrics) — empty here simply means 0 exported
    obs.get.get("rows").map(_.asInstanceOf[Long]).getOrElse(0L)
  }

  private def readPointer(): Long = {
    val p = metaDir.resolve("_CURRENT")
    if (!Files.exists(p)) -1L
    else Files.readString(p).trim.stripPrefix("v").toLong
  }

  /** Allocate a unique staging directory for a writer to put data files in. */
  def newStagingDir(): String =
    dataDir.resolve(UUID.randomUUID().toString).toString

  // ------------------------------------------------------------------
  // per-bucket manifest files
  // ------------------------------------------------------------------

  /** Bounded LRU of immutable manifest-file contents (path -> files): a
    * steady-state writer re-reads only the manifests of buckets it touches,
    * and those are hot here — commit metadata reads then cost O(touched
    * buckets) without trusting the filesystem cache.
    */
  private val manifestCache =
    new java.util.LinkedHashMap[String, Seq[DataFileMeta]](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Seq[DataFileMeta]]): Boolean =
        size() > 1024
    }

  /** The file list of one per-bucket manifest (cached; manifest files are
    * immutable, so the cache can never go stale).
    */
  private def loadManifest(path: String): Seq[DataFileMeta] = {
    manifestCache.synchronized {
      val hit = manifestCache.get(path)
      if (hit != null) return hit
    }
    val loaded = mapper
      .readValue(Files.readString(Paths.get(path)), classOf[BucketManifest])
      .files
    manifestCache.synchronized(manifestCache.put(path, loaded))
    loaded
  }

  /** The complete file inventory of a snapshot (opens every bucket
    * manifest — full-scan planning; pruned reads and MERGE planning use
    * [[files]], which opens only the surviving buckets').
    */
  def filesOf(snapshot: Snapshot): Seq[DataFileMeta] =
    snapshot.manifestList.flatMap(m => loadManifest(m.path))

  /** The files of a snapshot that `prune` keeps — the metadata-only
    * planning step of every pruned read and of MERGE. Prunes at the
    * manifest LIST first (bucket + aggregate key/ts/`_lsn` summaries), then
    * opens ONLY the surviving buckets' manifests and prunes each file:
    * planning IO is O(surviving buckets), independent of table size.
    */
  def files(snapshot: Snapshot, prune: FilePrune): Seq[DataFileMeta] =
    snapshot.manifestList.filter(m => prune.keeps(m))
      .flatMap(m => prune.keepIn(loadManifest(m.path)))

  /** Write a new immutable per-bucket manifest file; returns its summary. */
  private def writeBucketManifest(bucket: Int, files: Seq[DataFileMeta]): ManifestMeta = {
    require(files.nonEmpty, s"empty bucket manifest for bucket $bucket")
    if (!Files.exists(manifestsDir)) Files.createDirectories(manifestsDir)
    val p = manifestsDir.resolve(s"m-$bucket-${UUID.randomUUID()}.json").toString
    Files.write(Paths.get(p),
      mapper.writeValueAsBytes(BucketManifest(bucket, files)),
      StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
    manifestCache.synchronized(manifestCache.put(p, files))
    val statless = files.exists(f => f.minTsMs == 0L && f.maxTsMs == 0L)
    val lsnStatless = files.exists(f => f.minLsn < 0L || f.maxLsn < 0L)
    ManifestMeta(p, bucket, files.size, files.map(_.rows).sum,
      files.map(_.minKey).min, files.map(_.maxKey).max,
      if (statless) 0L else files.map(_.minTsMs).min,
      if (statless) 0L else files.map(_.maxTsMs).max,
      deltaFiles = files.count(_.delta),
      minLsn = if (lsnStatless) -1L else files.map(_.minLsn).min,
      maxLsn = if (lsnStatless) -1L else files.map(_.maxLsn).max)
  }

  /** Test hook: invoked after data files are durable but before the snapshot
    * pointer advances — the crash window the kill-resume fixture targets
    * (FIXTURES.md §4; the reference's S3Consumer crash-before-notice-remove,
    * SURVEY.md §3.3).
    */
  @volatile var beforePublishHook: Snapshot => Unit = _ => ()

  /** Atomically publish a commit on top of `base`. Returns the new snapshot.
    *
    * Concurrency: losing the CREATE_NEW version race triggers an automatic
    * reload-and-rebase — valid whenever the commit's removed files are all
    * still live in the winner's snapshot (disjoint-bucket writers, e.g.
    * compaction racing a streaming merge, both land). A conflict on the
    * same files (or a concurrently-committed batchKey) aborts with a clear
    * error. The reference runs sinks and maintenance concurrently as a
    * matter of course (SinkManager.java:57-91).
    */
  def commit(base: Snapshot, pending: PendingCommit): Snapshot = {
    var attempt = base
    var tries = 0
    while (true) {
      require(!ChronicleTable.isCommitted(attempt, pending.batchKey),
        s"batch ${pending.batchKey} already committed — caller must skip")
      val next = buildNext(attempt, pending)
      beforePublishHook(next)
      try {
        writeSnapshotJson(next) // CREATE_NEW: optimistic-concurrency barrier
        flipPointer(next.version)
        return next
      } catch {
        case e: FileAlreadyExistsException =>
          tries += 1
          if (tries > MaxCommitRetries)
            throw new IllegalStateException(
              s"commit of ${pending.batchKey} lost the version race " +
                s"$tries times — giving up", e)
          attempt = loadCurrent() // rebase onto the winner and revalidate
          rebaseConflict(base, attempt, pending).foreach(why =>
            throw new IllegalStateException(
              s"commit conflict for ${pending.batchKey}: $why — rerun against " +
                "the current snapshot"))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Conflicts a rebase CANNOT heal, beyond the removed-file liveness check
    * in [[buildNext]] (which already catches two writers racing over the
    * same files). Two more races are unsound even with disjoint
    * removed-file sets:
    *
    *  1. A full-rewrite RESCALE that lost the version race: the winner's
    *     files are bucketed under the OLD count; carrying them into the
    *     rescaled snapshot would hide them from every later merge's
    *     NEW-bucket manifest pruning (stale rows, missed tombstones). A
    *     rescale therefore never rebases — it must re-plan against the
    *     current snapshot.
    *  2. Two copy-on-write merges that both INSERT the same brand-new key:
    *     both remove nothing, both rebase, and the bucket ends with two
    *     key-unique-assumed base files carrying the key — duplicate rows,
    *     since delta-free reads apply no LWW merge. Detected conservatively
    *     by key-range overlap between this commit's added BASE files and
    *     base files the winner added to the same bucket since `orig` (hash
    *     buckets give near-full key ranges, so same-bucket base adds
    *     practically always abort — the safe side; merge-on-read deltas
    *     never conflict, the read-time LWW resolves them).
    */
  private def rebaseConflict(orig: Snapshot, winner: Snapshot,
      pending: PendingCommit): Option[String] = {
    if (pending.newNumBuckets.isDefined)
      return Some("a rescale cannot rebase over a concurrent commit " +
        "(the winner's files are bucketed under the old count)")
    if (pending.addedFiles.nonEmpty && winner.numBuckets != orig.numBuckets)
      return Some(s"the table was rescaled ${orig.numBuckets} -> " +
        s"${winner.numBuckets} buckets concurrently — this commit's added " +
        "files are bucketed under the old count and would be invisible to " +
        "new-layout manifest pruning")
    val addBase = pending.addedFiles.filterNot(_.delta)
    if (addBase.isEmpty) return None
    val origByBucket = orig.manifestList.map(m => m.bucket -> m).toMap
    val winByBucket = winner.manifestList.map(m => m.bucket -> m).toMap
    addBase.groupBy(_.bucket).collectFirst {
      // manifest paths are immutable: same path => identical file list, so
      // only a bucket whose manifest CHANGED since orig can carry new files
      case (b, adds) if {
        val origM = origByBucket.get(b)
        val winM = winByBucket.get(b)
        winM.exists(m => origM.forall(_.path != m.path)) && {
          val origLive = origM.map(m => loadManifest(m.path).map(_.path).toSet)
            .getOrElse(Set.empty[String])
          val winnerNew = loadManifest(winM.get.path)
            .filterNot(f => origLive(f.path) || f.delta)
          val lo = adds.map(_.minKey).min
          val hi = adds.map(_.maxKey).max
          winnerNew.exists(f => f.minKey <= hi && f.maxKey >= lo)
        }
      } => s"a concurrent writer added base files to bucket $b overlapping " +
        "this commit's key range (both may carry the same new key — base " +
        "files must stay key-unique)"
    }
  }

  /** Build the successor snapshot: rewrite ONLY the manifests of buckets
    * the commit touches, carry the rest by reference. Throws if a removed
    * file is no longer live in `base` (un-rebasable conflict).
    */
  private def buildNext(base: Snapshot, pending: PendingCommit): Snapshot = {
    val removed = pending.removedFiles.toSet
    // A full-rewrite rescale must remove the ENTIRE live inventory of the
    // snapshot it lands on: any live file outside its removed set is
    // bucketed under the old count and would be invisible to every later
    // merge's new-bucket manifest pruning (stale rows, missed tombstones).
    // This also hard-stops the rebase race the removed-liveness check below
    // cannot see — a concurrent writer that only ADDED files.
    pending.newNumBuckets.foreach { _ =>
      val uncovered = filesOf(base).map(_.path).filterNot(removed)
      if (uncovered.nonEmpty)
        throw new IllegalStateException(
          s"commit conflict for ${pending.batchKey}: rescale does not cover " +
            s"${uncovered.size} live files of v${base.version} (concurrent " +
            s"writer added ${uncovered.take(3).mkString(",")}) — rerun " +
            "against the current snapshot")
    }
    val touched = pending.removedFiles.map(bucketOfPath).toSet ++
      pending.addedFiles.map(_.bucket)
    val byBucket = base.manifestList.map(m => m.bucket -> m).toMap
    val addsByBucket = pending.addedFiles.groupBy(_.bucket)
    val newEntries = touched.toSeq.sorted.flatMap { b =>
      val old = byBucket.get(b).map(m => loadManifest(m.path)).getOrElse(Nil)
      val live = old.map(_.path).toSet
      val gone = removed.filter(r => bucketOfPath(r) == b && !live(r))
      if (gone.nonEmpty)
        throw new IllegalStateException(
          s"commit conflict for ${pending.batchKey}: removed files no longer " +
            s"live in bucket $b (concurrent writer rewrote them): " +
            gone.take(3).mkString(","))
      val files = old.filterNot(f => removed(f.path)) ++
        addsByBucket.getOrElse(b, Nil)
      if (files.isEmpty) None else Some(writeBucketManifest(b, files))
    }
    val (floors, window) = ChronicleTable.compactLedger(base.floors,
      base.committedBatches + (pending.batchKey -> (base.version + 1)))
    val srcPrefix = pending.batchKey.takeWhile(_ != '#')
    val hwms =
      if (pending.lineage.endLsn < 0) base.hwms
      else base.hwms + (srcPrefix ->
        math.max(base.hwmFor(srcPrefix), pending.lineage.endLsn))
    val unordered =
      if (pending.ordered) base.unordered
      else base.unordered + srcPrefix
    Snapshot(
      version = base.version + 1,
      schemaJson = pending.newSchema.map(_.json).getOrElse(base.schemaJson),
      numBuckets = pending.newNumBuckets.getOrElse(base.numBuckets),
      manifests = base.manifestList.filterNot(m => touched(m.bucket)) ++ newEntries,
      committedBatches = window,
      ledgerFloors = floors,
      hwmLsn = math.max(base.hwmLsn, pending.lineage.endLsn),
      hwmBySource = hwms,
      unorderedSources = unordered.toSeq.sorted,
      sourceCursors = base.cursors ++ pending.cursor.map { case (src, seg) =>
        src -> math.max(seg, base.cursors.getOrElse(src, -1L))
      },
      lineage = Seq(pending.lineage.copy(snapshotVersion = base.version + 1)),
      commitTimeMs = math.max(base.commitTimeMs + 1L, System.currentTimeMillis()))
  }

  /** Expire all but the newest `keepLast` snapshots: their snapshot JSONs
    * are deleted, and any bucket-manifest or data file referenced ONLY by
    * expired versions is deleted from disk. COW + time travel otherwise
    * pins every rewritten generation of every bucket forever — at 10^10
    * events a replay would retain ~every file ever written. The reference
    * deletes local files aggressively after upload
    * (RemoteFileSink.java:151-216) and caps the disk queue
    * (FileBlockingQueue.java:83-150); this is the table-format equivalent
    * (Iceberg's expire_snapshots).
    *
    * Returns (expired versions, deleted data files). Time-travel reads of
    * expired versions fail with a clear error afterwards.
    */
  def expireSnapshots(keepLast: Int): (Seq[Long], Seq[String]) = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val vs = listVersions
    val expired = vs.dropRight(keepLast)
    if (expired.isEmpty) return (Nil, Nil)
    val retained = vs.takeRight(keepLast).map(loadVersion)
    val liveManifests = retained.flatMap(_.manifestList.map(_.path)).toSet
    val liveData = retained.flatMap(s => filesOf(s).map(_.path)).toSet
    val expiredSnaps = expired.map(loadVersion)
    val deadManifests = expiredSnaps.flatMap(_.manifestList.map(_.path))
      .distinct.filterNot(liveManifests)
    val deadData = expiredSnaps.flatMap(s => filesOf(s).map(_.path))
      .distinct.filterNot(liveData)
    // delete snapshot JSONs first: a crash mid-way leaves only unreferenced
    // manifest/data files, which gcOrphans reclaims — never a snapshot
    // pointing at deleted files
    expired.foreach(v => Files.deleteIfExists(metaDir.resolve(f"v$v%09d.json")))
    deadManifests.foreach(p => Files.deleteIfExists(Paths.get(p)))
    deadData.foreach(p => Files.deleteIfExists(Paths.get(p)))
    (expired, deadData)
  }

  private def writeSnapshotJson(s: Snapshot): Unit = {
    val p = metaDir.resolve(f"v${s.version}%09d.json")
    Files.write(p, mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(s),
      StandardOpenOption.CREATE_NEW, StandardOpenOption.WRITE)
  }

  private def flipPointer(version: Long): Unit = {
    val tmp = metaDir.resolve(s"_CURRENT.tmp.${UUID.randomUUID()}")
    Files.writeString(tmp, f"v$version%09d")
    Files.move(tmp, metaDir.resolve("_CURRENT"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Does the snapshot carry merge-on-read delta files (decidable from the
    * manifest LIST alone — no manifest opens)?
    */
  def hasDeltas(snapshot: Snapshot): Boolean =
    snapshot.manifestList.exists(_.deltaFiles > 0)

  /** Read a snapshot as a DataFrame. Missing columns in older files (written
    * before a schema evolution) surface as nulls: the reader is driven by
    * the snapshot schema, not the file schemas (Iceberg-style schema-on-read;
    * the reference's implicit new-JSON-field appearance, SURVEY.md §1.3,
    * made explicit).
    *
    * Every reader is the DSv2 scan of `format("graft")` and SQL
    * ([[graft.sql.GraftScan]]) over the snapshot. Filters Catalyst pushes
    * down — `conv_id` equality/range, `ts` bounds, `_lsn` lower bounds,
    * from the readers below, DataFrame code or SQL over a registered view
    * — prune manifests and data files from their stats during planning,
    * through the table's one rule ([[FilePrune]]): a key filter opens one
    * bucket manifest.
    *
    * A delta-carrying bucket reads as ONE partition that streams a sorted
    * k-way last-writer-wins merge on `_lsn` over its files (every engine
    * write lands files sorted by key) — the same LWW the write path
    * applies, deferred to read, with no shuffle: base rows a newer delta
    * displaces disappear, `_deleted` tombstone winners stay visible so
    * callers' `!_deleted` filter hides them. Delta-free buckets read their
    * files packed into partitions as Spark's file scans do — reads pay the
    * merge only between compactions.
    */
  def read(spark: SparkSession, snapshot: Snapshot): DataFrame =
    scan(spark, snapshot, LibraryRead())

  /** The DSv2 scan of `snapshot` as one of the readers asks for it. */
  private def scan(spark: SparkSession, snapshot: Snapshot,
      spec: LibraryRead): DataFrame =
    org.apache.spark.sql.graft.DatasetFactory.ofTable(spark,
      new GraftTable(this, snapshot, Some(spec)))

  /** The rows a rewrite carries forward from `victims`, the files its
    * commit removes: the readers' scan pinned to exactly those files,
    * tombstone winners kept, one merged, sorted, key-unique partition per
    * bucket of `buckets` in ascending order (a bucket without a victim
    * reads empty; [[graft.sql.Rewrite]]). A victim delta brings its whole
    * bucket (the merge unit), or a key's base file left in place would gain
    * a twin.
    */
  private[graft] def readRewrite(spark: SparkSession, snapshot: Snapshot,
      victims: Seq[DataFileMeta],
      buckets: Seq[Int] = Nil): DataFrame = {
    val deltaBuckets = victims.filter(_.delta).map(_.bucket).toSet
    val removed = victims.map(_.path).toSet
    require(deltaBuckets.isEmpty ||
      files(snapshot, FilePrune(Some(deltaBuckets))).forall(f => removed(f.path)),
      s"a rewrite of $root removing a delta file must remove its whole bucket")
    scan(spark, snapshot, LibraryRead(rewrite = Some(Rewrite(victims,
      (victims.map(_.bucket) ++ buckets).distinct.sorted))))
  }

  def read(spark: SparkSession): DataFrame = read(spark, loadCurrent())

  /** Time-sliced read of event-time range [fromMs, toMs] (epoch millis,
    * inclusive): a `ts` filter the scan prunes files by (untouched days'
    * files never reach it) and Spark applies exactly. The second-level
    * partition pruning of the table: the Spark-native analogue of the
    * reference's date-suffixed sink partitioning
    * (IndexSuffixFormatter.java:27-41; S3 `date(yyyyMMdd)` prefixes,
    * DynamicRemotePrefixFormatter.java:16-50). With merge-on-read deltas
    * present, every delta file is kept, and so is each base file that some
    * delta of its bucket is not newer than ([[FilePrune]]).
    */
  def readSlice(spark: SparkSession, fromMs: Long, toMs: Long): DataFrame =
    read(spark).filter(col("ts") >= new java.sql.Timestamp(fromMs) &&
      col("ts") < new java.sql.Timestamp(toMs + 1L))

  /** Incremental (changelog) read: the NET row changes applied after
    * snapshot `sinceVersion` (exclusive) up to the current snapshot — every
    * current row whose `_lsn` exceeds the since-snapshot's high-water mark
    * FOR THE ROW'S OWN SOURCE. LSN sequences are independent per source, so
    * each row's `_source` tag selects the mark it is compared against — a
    * single global mark would silently omit every post-cursor row of a
    * source whose sequence runs below another's. Rows written before the
    * `_source` column existed (null tag) compare against the global mark;
    * a legacy table WITHOUT the column at all must be single-source (the
    * two mark shapes coincide there — multi-source legacy tables error).
    * This is how a downstream pipeline stage tails this table instead of
    * re-reading it (the reference chains suro servers via SuroSink,
    * SuroClient.java / SuroSink.java:15-38, keeping positions per input,
    * InputManager.java:36-56; Iceberg calls it an incremental scan).
    *
    * The marks are the changelog's one rule ([[ChangeMarks.since]], shared
    * with the change stream's tail batches), applied per row inside the
    * scan after its merge-on-read LWW fold. METADATA-PRUNED: the lowest
    * mark rides as an `_lsn` column filter, so files whose maxLsn is
    * at-or-below every relevant mark are pruned from manifest stats —
    * tailing a huge table costs metadata + O(new files) per poll. Pruning
    * below the merge-on-read LWW fold is sound: a pruned file's rows can
    * neither BE a surviving change nor displace/tombstone one (they lose
    * the LWW comparison to any row that passes the filter).
    *
    * Semantics are NET changes at read time: a key updated twice since
    * `sinceVersion` appears once with its latest version. Deletes appear as
    * `_deleted` tombstone rows where the table retains them (merge-on-read
    * mode, or unordered CoW); the ordered CoW path erases deleted rows
    * physically, so its changelog carries upserts only — a downstream
    * tailer that must observe deletes needs merge-on-read mode (tombstones
    * retained up to the GC horizon). `sinceVersion` must still be retained
    * (expiry makes older cursors unreadable, with a clear error). Tables
    * that cannot be tailed ([[requireTailable]]) error clearly.
    */
  def readChanges(spark: SparkSession, sinceVersion: Long): DataFrame = {
    val since = loadVersion(sinceVersion)
    val cur = loadCurrent()
    val marks = ChangeMarks.since(this, since, cur)
    scan(spark, cur, LibraryRead(changes = Some(marks)))
      .filter(col(graft.model.Model.lsnColumn) > marks.floor)
  }

  /** Refuse a snapshot whose changelog cannot be tailed by `_lsn` marks —
    * the guard of [[readChanges]], the change stream and chains alike:
    *  - UNORDERED sources: their marks do not bound redelivery, so a
    *    mark-based changelog would be wrong;
    *  - a legacy table whose rows carry no `_source` tag can be filtered
    *    only against the GLOBAL mark, which is sound solely for a
    *    single-source table — a pre-upgrade multi-source table would
    *    silently drop rows of a source whose LSN sequence runs below it.
    */
  def requireTailable(snap: Snapshot): Unit = {
    require(snap.unordered.isEmpty,
      s"table $root has unordered sources ${snap.unordered.mkString(",")}: " +
        "their high-water marks do not bound redelivery, so a mark-based " +
        "changelog would be wrong — tail the source directly instead")
    if (!snap.schema.fieldNames.contains(graft.model.Model.sourceColumn))
      require(snap.hwms.size <= 1,
        s"table $root is multi-source (${snap.hwms.keys.mkString(",")}) but " +
          "its rows carry no _source tag (written pre-upgrade) — " +
          "per-source changelog filtering is impossible; compact/rewrite " +
          "the table to stamp the tag")
  }

  /** Global `_lsn` bounds across a snapshot's files, from manifest stats
    * alone: (min, max), or (-1, -1) when NO manifest carries bounds.
    * Manifests without bounds (pre-upgrade members) don't narrow the
    * result — callers slicing by these bounds must keep their first/last
    * interval open-ended (Long.MinValue / Long.MaxValue), which also
    * covers any unstatted rows.
    */
  def lsnBounds(snapshot: Snapshot): (Long, Long) = {
    val known = snapshot.manifestList.filter(m => m.minLsn >= 0L && m.maxLsn >= 0L)
    if (known.isEmpty) (-1L, -1L)
    else (known.map(_.minLsn).min, known.map(_.maxLsn).max)
  }

  /** Slice count of a CHUNKED bootstrap of `snapshot` (chain poll and
    * change stream alike): ceil(bytes / `sliceBytes`), capped by
    * `maxSlices`, by the FILE count (a file is the atomic scan unit — finer
    * slicing just multiplies near-empty batches) and by the lsn width; 1
    * when the manifests carry no lsn bounds (no slicing axis — pre-upgrade
    * tables).
    */
  def bootstrapSliceCount(snapshot: Snapshot, sliceBytes: Long,
      maxSlices: Long = Long.MaxValue): Int = {
    val (gMin, gMax) = lsnBounds(snapshot)
    if (sliceBytes <= 0L || gMin < 0L || gMax <= gMin) return 1
    val files = filesOf(snapshot)
    val wanted = 1L + (files.map(_.bytes.max(0L)).sum - 1L).max(0L) / sliceBytes
    Seq(wanted, maxSlices, files.size.toLong.max(1L), gMax - gMin + 1,
      Int.MaxValue.toLong).min.toInt.max(1)
  }

  /** RAW scan of a snapshot restricted to rows with `_lsn` in [lo, hi]:
    * the readers' DSv2 scan with its merge off, whose `_lsn` filter prunes
    * files by lsn-bounds overlap and selects the rows exactly. NO
    * merge-on-read collapse and NO tombstone drop — rows ship as changelog
    * rows (superseded versions and retained tombstones included), for
    * consumers that LWW on `_lsn` downstream anyway. This is the unit of
    * the CHUNKED chain bootstrap ([[graft.cdc.Chain.pollOnce]]): a huge
    * upstream ships as K disjoint lsn intervals instead of one table-sized
    * batch, each interval's scan touching only the files it intersects —
    * the reference's notice-at-a-time consumer granularity
    * (S3Consumer.java:226-290) applied to the initial sync. The change
    * stream's bootstrap slices are the same intervals, picked inside its
    * scan by [[ChangeMarks.slice]].
    */
  def scanLsnInterval(spark: SparkSession, snapshot: Snapshot,
      lo: Long, hi: Long): DataFrame =
    scan(spark, snapshot, LibraryRead(merge = false))
      .filter(col(graft.model.Model.lsnColumn).between(lo, hi))

  /** The changelog as a Structured Streaming SOURCE — the always-on form
    * of [[readChanges]]: offsets are snapshot versions, each micro-batch
    * is the manifest-pruned net changes of a version range, the stream's
    * checkpoint carries the cursor. See [[graft.changes.DefaultSource]]
    * for semantics and options.
    *
    * `startingVersion`: `"latest"` (tail new commits only), `"bootstrap"`
    * (full state first — CHUNKED into `bootstrapSliceBytes`-sized
    * lsn-interval micro-batches (`bootstrapSlices` overrides the count) —
    * then tail), or a retained version number. `maxVersionsPerTrigger`
    * bounds commits per micro-batch in the tail regime (admission
    * control).
    */
  def readChangeStream(spark: SparkSession,
      startingVersion: String = "latest",
      maxVersionsPerTrigger: Long = Long.MaxValue,
      columns: Seq[String] = Nil,
      bootstrapSliceBytes: Long = 16L << 30,
      bootstrapSlices: Int = 0): DataFrame = {
    val r = spark.readStream.format("graft.changes")
      .option("path", root)
      .option("startingVersion", startingVersion)
      .option("maxVersionsPerTrigger", maxVersionsPerTrigger)
      .option("bootstrapSliceBytes", bootstrapSliceBytes)
      .option("bootstrapSlices", bootstrapSlices max 0)
    (if (columns.nonEmpty) r.option("columns", columns.mkString(","))
     else r).load()
  }

  /** Point lookup: every current row of ONE key (a conversation's visible
    * turns), planned from metadata alone — the key's hash bucket is
    * computed driver-side ([[ChronicleTable.bucketOf]] mirrors the write
    * path's [[ChronicleTable.bucketExpr]]), so planning (the scan's
    * [[FilePrune]] of the key filter) opens exactly one bucket manifest
    * and the scan touches only that bucket's files whose
    * key range covers the key: O(files-in-one-bucket) regardless of table
    * size — the serving-path read a 100 TB transcript store needs (the
    * reference's ES sink serves exactly this doc-id lookup,
    * ElasticSearchSink.java / DefaultIndexInfoBuilder.java:66-73).
    * Merge-on-read deltas in the bucket LWW-merge inside the one scan task
    * (no shuffle: one Spark job, one task); key-range pruning is sound for
    * them too (a delta file whose range excludes the key cannot displace
    * or tombstone it). Tombstoned keys return no rows — the scan hides
    * their winners.
    */
  def readKey(spark: SparkSession, convId: String): DataFrame =
    scan(spark, loadCurrent(), LibraryRead(tombstones = false))
      .filter(col("conv_id") === convId)

  /** The complete lineage ledger: every commit's entry across all
    * RETAINED snapshot versions, in commit order (expiry drops the history
    * of expired versions along with their manifests).
    */
  def fullLineage(): Seq[LineageEntry] =
    listVersions.flatMap(v => loadVersion(v).lineage)

  /** Delete data files and bucket manifests no snapshot references (crash
    * leftovers from the stage phase, manifests from lost commit races).
    * Returns deleted data-file paths. Mirrors the reference's
    * LocalFileSink.cleanUp recovery of improperly-closed files
    * (LocalFileSink.java:313-353).
    *
    * `minAgeMs` guards the staged-write race: a CONCURRENT writer's files
    * are also "unreferenced" between its stage and its commit (staging
    * dirs live under data/), and deleting them would publish a manifest
    * of missing files. Only files older than the threshold are deleted —
    * Iceberg's `remove_orphan_files ... older_than` discipline; true
    * crash leftovers are old by the time maintenance sees them. Pass 0
    * only when no concurrent writer can exist (tests, offline repair).
    */
  def gcOrphans(minAgeMs: Long = 3600000L): Seq[String] = {
    val cutoff = System.currentTimeMillis() - minAgeMs
    def oldEnough(p: String): Boolean =
      try Files.getLastModifiedTime(Paths.get(p)).toMillis <= cutoff
      catch { case _: java.io.IOException => false } // vanished: someone else's
    val snaps = listVersions.map(loadVersion)
    val liveManifests = snaps.flatMap(_.manifestList.map(_.path)).toSet
    val liveData = snaps.flatMap(s => filesOf(s).map(_.path)).toSet
    val orphanManifests =
      if (!Files.exists(manifestsDir)) Nil
      else Files.list(manifestsDir).iterator().asScala
        .map(_.toString).filter(_.endsWith(".json"))
        .filterNot(liveManifests).filter(oldEnough).toSeq
    orphanManifests.foreach(p => Files.deleteIfExists(Paths.get(p)))
    if (!Files.exists(dataDir)) return Nil
    val all = Files.walk(dataDir).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map(_.toString).toSeq
    val orphans = all.filterNot(liveData).filter(oldEnough)
    orphans.foreach(p => Files.deleteIfExists(Paths.get(p)))
    orphans
  }
}

object ChronicleTable {
  private val ManifestName = """v(\d+)\.json""".r
  private val NumberedKey = """(.+)#(\d+)""".r
  private val RangeKey = """(.+)#(\d+)-(\d+)""".r
  private val BucketDir = """.*/bucket=(\d+)/[^/]+$""".r

  /** How many times a conflicted commit reloads and rebases before giving
    * up (each retry implies a concurrent writer made progress, so this
    * never livelocks — someone always wins).
    */
  private val MaxCommitRetries = 5

  /** Epoch millis of an `@<epoch-millis|ISO-8601 instant>` argument — the
    * timestamp cursor that `RunCdc state|export|changes` and the change
    * stream's `startingVersion` take (resolve it with [[versionAsOf]]).
    */
  def instantMillis(at: String): Long = {
    val spec = at.stripPrefix("@")
    try spec.toLong catch {
      case _: NumberFormatException =>
        try java.time.Instant.parse(spec).toEpochMilli catch {
          case _: java.time.format.DateTimeParseException =>
            throw new IllegalArgumentException(
              s"'@…' takes epoch millis or an ISO-8601 instant, got '$at'")
        }
    }
  }

  /** Length of a data file for split planning: the manifest's byte count,
    * or — for a pre-upgrade entry without one — one filesystem stat (only
    * files that survived pruning reach here).
    */
  private[graft] def fileBytes(spark: SparkSession, f: DataFileMeta): Long =
    if (f.bytes > 0L) f.bytes
    else {
      val p = new org.apache.hadoop.fs.Path(f.path)
      p.getFileSystem(spark.sessionState.newHadoopConf()).getFileStatus(p).getLen
    }

  /** Bucket of a data file, from its `bucket=N` partition directory. */
  private[graft] def bucketOfPath(p: String): Int = p match {
    case BucketDir(b) => b.toInt
    case _ => -1
  }

  /** The unit range a batch key covers: `p#n` covers [n, n] (one batch
    * index), `p#lo-hi` covers [lo, hi] (a segment range — the
    * MultiSinkPipeline's deterministic batch identity). Keys of neither
    * shape have no range and always stay explicit in the ledger.
    */
  private def keyRange(k: String): Option[(String, Long, Long)] = k match {
    case RangeKey(p, lo, hi) => Some((p, lo.toLong, hi.toLong))
    case NumberedKey(p, n) => Some((p, n.toLong, n.toLong))
    case _ => None
  }

  /** Ledger key prefixes that are not sources: maintenance commits
    * (compaction, rescale, SQL `ALTER TABLE`) and the chain's cursor-only
    * placeholder (`_chain`, never carries rows).
    */
  val nonSources: Set[String] = Set("compact", "rescale", "altersql", "_chain")

  /** Units each source has committed into `snap`: its ledger prefix's
    * contiguous floor (0..floor) plus the window's keys beyond it. A
    * numbered key `p#n` is one unit — one pipeline batch or stream epoch; a
    * range key `p#lo-hi` spans hi-lo+1 (segments, upstream or table
    * versions); a key of neither shape counts once.
    */
  def committedUnits(snap: Snapshot): Map[String, Long] = {
    val window = snap.committedBatches.keys.toSeq.map(k => keyRange(k) match {
      case Some((p, lo, hi)) =>
        p -> (hi - math.max(lo, snap.floors.getOrElse(p, -1L) + 1L) + 1L).max(0L)
      case None => k.takeWhile(_ != '#') -> 1L
    })
    (snap.floors.toSeq.map { case (p, f) => p -> (f + 1L) } ++ window)
      .filterNot(u => nonSources(u._1))
      .groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Has `batchKey` been committed into `snap`? Either fully covered by the
    * max-contiguous floor of its prefix, or in the explicit recent window.
    */
  def isCommitted(snap: Snapshot, batchKey: String): Boolean =
    snap.committedBatches.contains(batchKey) || keyRange(batchKey).exists {
      case (prefix, _, hi) => snap.floors.get(prefix).exists(_ >= hi)
    }

  /** Advance per-prefix contiguous floors and drop the keys they cover.
    * A floor f means units 0..f of the prefix are all committed; it
    * advances over ranges that tile contiguously from f+1 (sorted by lo),
    * so both one-unit batch keys and segment-range keys stay O(window) in
    * the manifest instead of O(all batches ever).
    */
  private[table] def compactLedger(floors: Map[String, Long],
      ledger: Map[String, Long]): (Map[String, Long], Map[String, Long]) = {
    val ranged = ledger.keys.flatMap(keyRange)
    val byPrefix = ranged.groupBy(_._1)
    val newFloors = floors ++ byPrefix.map { case (prefix, ks) =>
      val byLo = ks.toSeq.sortBy(_._2)
      var floor = floors.getOrElse(prefix, -1L)
      byLo.foreach { case (_, lo, hi) =>
        if (lo <= floor + 1 && hi > floor) floor = hi
      }
      prefix -> floor
    }.filter(_._2 >= 0)
    val window = ledger.filter { case (k, _) =>
      keyRange(k) match {
        case Some((p, _, hi)) => newFloors.getOrElse(p, -1L) < hi
        case None => true
      }
    }
    (newFloors, window)
  }

  /** The i-th of `k` disjoint `_lsn` intervals covering [gMin, gMax] —
    * the deterministic slicing axis of the chunked bootstrap (chain poll
    * and change-stream alike). The first/last intervals are open-ended
    * (Long.MinValue / Long.MaxValue) so rows outside the manifest-known
    * bounds (files without lsn stats) are still covered exactly once.
    * Pure integer math on the four inputs: replaying the same inputs
    * reproduces the same intervals bit-for-bit.
    */
  def lsnSliceInterval(gMin: Long, gMax: Long, i: Int, k: Int): (Long, Long) = {
    require(k >= 1 && i >= 0 && i < k, s"slice $i of $k")
    if (k == 1 || gMin < 0L || gMax < gMin) return (Long.MinValue, Long.MaxValue)
    val width = BigInt(gMax) - BigInt(gMin) + 1
    val lo = if (i == 0) Long.MinValue
             else (BigInt(gMin) + width * i / k).toLong
    val hi = if (i == k - 1) Long.MaxValue
             else (BigInt(gMin) + width * (i + 1) / k - 1).toLong
    (lo, hi)
  }

  private[graft] val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m.configure(DeserializationFeature.FAIL_ON_UNKNOWN_PROPERTIES, false)
    m
  }

  /** Lossless widening between two primitive types, or None when neither
    * losslessly holds the other: int->long, float->double, int->double
    * (an int is exactly representable in a double's 53-bit mantissa).
    * long->double is NOT here — longs above 2^53 would silently round
    * (Iceberg's promotion set excludes it for the same reason). Files
    * written at the NARROW type stay readable because Spark's parquet
    * reader natively up-casts when the requested schema is wider.
    */
  private def widen(a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType): Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    if (a == b) Some(a)
    else Set(a, b) match {
      case s if s == Set[DataType](IntegerType, LongType) => Some(LongType)
      case s if s == Set[DataType](FloatType, DoubleType) => Some(DoubleType)
      case s if s == Set[DataType](IntegerType, DoubleType) => Some(DoubleType)
      case _ => None // long->double (lossy > 2^53), int<->float et al: reject
    }
  }

  /** Merge table schema with an incoming batch schema: existing columns
    * keep their position; genuinely new columns append (nullable); a
    * column present in both at different PRIMITIVE widths widens to the
    * larger type when LOSSLESS (int->long, float->double, int->double —
    * Iceberg's schema-evolution promotions; the snapshot schema drives
    * every read, and the parquet reader up-casts narrow old files
    * natively). Any other type conflict — including long->double, which
    * rounds above 2^53 — is rejected: the engine does not silently coerce.
    */
  def mergeSchemas(table: StructType, batch: StructType): StructType = {
    val existing = table.fieldNames.toSet
    val byName = batch.fields.map(f => f.name -> f).toMap
    val merged = table.fields.map { f =>
      byName.get(f.name) match {
        case Some(bf) if bf.dataType != f.dataType =>
          widen(f.dataType, bf.dataType) match {
            case Some(t) => f.copy(dataType = t)
            case None => throw new IllegalArgumentException(
              s"incompatible schema change for ${f.name}: " +
                s"${f.dataType.simpleString} vs ${bf.dataType.simpleString}")
          }
        case _ => f
      }
    }
    val added = batch.fields.filterNot(f => existing.contains(f.name))
      .map(f => StructField(f.name, f.dataType, nullable = true))
    StructType(merged ++ added)
  }

  /** Bucket assignment expression — the table's partition transform.
    * Deterministic across sessions (xxhash64 with fixed seed 42).
    */
  def bucketExpr(keyCol: String, numBuckets: Int): org.apache.spark.sql.Column =
    pmod(xxhash64(col(keyCol)), lit(numBuckets)).cast("int")

  /** Driver-side mirror of [[bucketExpr]] for a single key — evaluates the
    * SAME Catalyst expression (xxhash64 seed 42, pmod) on a literal, so
    * the two can never drift. Powers metadata-only point-lookup planning.
    */
  def bucketOf(key: String, numBuckets: Int): Int = {
    import org.apache.spark.sql.catalyst.expressions.{Literal, Pmod, XxHash64}
    val h = new XxHash64(Seq(Literal.create(key,
      org.apache.spark.sql.types.StringType)))
    Pmod(h, Literal.create(numBuckets.toLong,
        org.apache.spark.sql.types.LongType))
      .eval(org.apache.spark.sql.catalyst.InternalRow.empty)
      .asInstanceOf[Long].toInt
  }
}
