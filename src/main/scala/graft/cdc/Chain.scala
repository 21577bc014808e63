package graft.cdc

import graft.model.Model
import graft.ops.{MergeInto, MergeResult}
import graft.table.{ChronicleTable, Snapshot}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Pipeline chaining: a downstream ChronicleTable TAILS an upstream one
  * through the incremental changelog — the reference forwards a server's
  * traffic into another suro server via SuroSink/SuroClient
  * (SuroSink.java:15-38), re-expressed as table-to-table change shipping
  * with exactly-once, per-source marks intact.
  *
  * Protocol per poll:
  *   1. the last consumed upstream VERSION rides the downstream table's
  *      own cursor ledger (`cursors("chain<-" + srcRoot)`), so the chain
  *      has no side checkpoint to fall out of sync with the data;
  *   2. `src.readChanges(lastV)` yields the net changes — each row filtered
  *      against ITS OWN source's high-water mark (multi-source correct);
  *   3. changes are re-shaped into change events (tombstone -> D, live row
  *      -> U with its original `_lsn`) and MERGEd into the downstream table
  *      PER SOURCE, with batchKey prefix = the original source prefix —
  *      the downstream table's per-source marks mirror the upstream's, so
  *      it can itself be chained further;
  *   4. the cursor advance rides ONLY the last source's commit: a crash
  *      mid-poll leaves the cursor at the old version, the replayed poll
  *      re-reads the same deterministic range, and already-committed
  *      sources skip via their batchKey ledgers (the same
  *      replay-then-dedup loop as the reference's notice consumer,
  *      S3Consumer.java:226-290).
  *
  * Delete visibility follows the upstream table's changelog contract
  * ([[ChronicleTable.readChanges]]): a merge-on-read upstream ships
  * tombstones (deletes propagate); an ordered CoW upstream erases deletes
  * physically, so its chain is upsert-only.
  *
  * At 100 TB the poll is metadata + O(new files) per tail (manifest `_lsn`
  * bounds prune pre-cursor files), which is exactly the reference's
  * notice-queue property: consumers receive the new files, never a
  * listing of the table.
  */
object Chain {

  /** Namespace of chain cursor keys in the downstream table's cursor map. */
  val cursorPrefix: String = "chain<-"

  /** Namespace of STREAM-chain cursor keys ([[followStream]] — position is
    * the stream's batch id; the authoritative cursor is the streaming
    * checkpoint, this marker claims the feed mode and shows progress).
    */
  val streamCursorPrefix: String = "chainstream<-"

  /** The downstream cursor key for an upstream root. */
  def cursorKey(srcRoot: String): String = s"$cursorPrefix$srcRoot"

  private def isChainCursor(k: String): Boolean =
    k.startsWith(cursorPrefix) || k.startsWith(streamCursorPrefix)

  /** A table is either CHAIN-FED or PIPELINE-FED, never both. A chain's
    * ledger keys reuse the upstream source's own prefix with snapshot-
    * VERSION ranges (`binlog#2-5`); a direct pipeline's keys use the same
    * prefix with BATCH indexes (`binlog#3`). Folding both unit semantics
    * into one contiguous floor silently marks un-applied direct batches as
    * committed (data loss), so the two feed modes are mutually exclusive
    * per table, detected through the cursor namespace: chains record
    * `chain<-<root>` cursors, pipelines record `<sourceId>` segment
    * cursors. Multi-chain and multi-source-pipeline tables stay legal.
    */
  def requireNotChainFed(t: ChronicleTable, who: String): Unit =
    if (t.exists) requireNotChainFed(t, t.loadCurrent(), who)

  /** [[requireNotChainFed]] against a snapshot of `t` the caller holds. */
  def requireNotChainFed(t: ChronicleTable, snap: Snapshot, who: String): Unit = {
    val chains = snap.cursors.keys.filter(isChainCursor)
    require(chains.isEmpty,
      s"table ${t.root} is chain-fed (${chains.mkString(",")}): $who would " +
        "collide with the chain's ledger floors (version-range keys vs " +
        "batch-index keys under one prefix) — drain into a separate table " +
        "and chain it, or drop the chain first")
  }

  /** The checks both chain modes make before anything ships, returning the
    * downstream's cursors: the upstream must be tailable — failing BEFORE
    * the bootstrap, not on poll 2 ([[ChronicleTable.requireTailable]] —
    * readChanges would refuse then, and shipping the full state first would
    * strand a half-initialized downstream) — and the downstream
    * (created if absent) must be fed by no pipeline and not by the other
    * chain mode, whose cursors carry `otherPrefix`.
    */
  private def openDownstream(src: ChronicleTable, cur: graft.table.Snapshot,
      dst: ChronicleTable, numBuckets: Int, otherPrefix: String,
      otherFed: String, hint: String): Map[String, Long] = {
    src.requireTailable(cur)
    if (!dst.exists) dst.create(Model.physicalSchemaV1, numBuckets)
    val cursors = dst.loadCurrent().cursors
    val other = cursors.keys.filter(_.startsWith(otherPrefix))
    require(other.isEmpty,
      s"table ${dst.root} is $otherFed (${other.mkString(",")}): $hint")
    val direct = cursors.keys.filterNot(isChainCursor)
    require(direct.isEmpty,
      s"table ${dst.root} is pipeline-fed (cursors ${direct.mkString(",")})" +
        ": chaining into it would collide with the pipeline's batch-index " +
        "ledger keys — see Chain.requireNotChainFed")
    cursors
  }

  case class ChainResult(
      fromVersion: Long,
      toVersion: Long,
      sources: Seq[String],
      merges: Seq[MergeResult])

  /** Default bootstrap slice size (bytes of upstream data per slice).
    * The first poll of a fresh downstream ships the upstream's FULL
    * visible state; at 100 TB one merge carrying the whole table would
    * exhaust shuffle/disk long before the incremental regime begins, so
    * the bootstrap is CHUNKED into ceil(bytes / this) exactly-once
    * lsn-interval slices (see [[pollOnce]]). Larger = fewer commits,
    * bigger per-slice merges; the default trades ~6k slices for a 100 TB
    * table against merge batches a large cluster digests comfortably.
    */
  val DefaultBootstrapSliceBytes: Long = 16L << 30

  /** Ship all changes committed upstream since the last poll. None = the
    * downstream table is already caught up.
    *
    * `mergeOnRead` selects the DOWNSTREAM write mode: merge-on-read keeps
    * shipped tombstones (up to the GC horizon), so the downstream can
    * itself be chained further WITH delete propagation — a copy-on-write
    * downstream erases deletes physically and tails on as upsert-only,
    * exactly like a CoW upstream.
    *
    * BOOTSTRAP (first poll) is CHUNKED: the upstream's visible state is
    * sliced into K disjoint `_lsn` intervals (K = ceil(manifest bytes /
    * `bootstrapSliceBytes`), capped at upstream version+1 so slice keys
    * can tile version units), each slice shipped as its own exactly-once
    * unit — per source, a slice's ledger key claims a version-unit
    * subrange, so the floor folds them like ordinary polls and a crash
    * between slices resumes at the next one (already-committed slices
    * skip by key; re-read rows at-or-below a source's advanced mark drop
    * in the HWM filter). Slices ship in INCREASING lsn order, which is
    * what keeps the per-source high-water marks sound mid-bootstrap:
    * every later slice's rows strictly exceed the marks the earlier
    * slices advanced. Slice scans prune at the manifest by lsn bounds
    * (O(files-in-interval) IO each) and ship RAW changelog rows
    * (superseded MOR versions and retained tombstones included) — the
    * downstream merge LWWs them per key exactly as it does for live
    * polls. An upstream whose manifests carry no lsn stats (pre-upgrade)
    * has no slicing axis and falls back to a single-batch bootstrap.
    */
  def pollOnce(spark: SparkSession, src: ChronicleTable,
      dst: ChronicleTable, numBuckets: Int = 16,
      mergeOnRead: Boolean = false,
      bootstrapSliceBytes: Long = DefaultBootstrapSliceBytes,
      /** Row-level DERIVATION applied to every shipped change set before
        * the downstream merge — the chain's map hook. The function must
        * PRESERVE the system columns (`_lsn`, `_deleted`, `_source`: each
        * output row keeps the lsn/source of the input row that derived it,
        * and derives tombstones from tombstones) so exactly-once, ledger
        * tiling and per-source marks work untouched; the payload columns
        * may change entirely (the downstream table's schema evolves to
        * them). This is how a MAINTAINED DERIVED TABLE rides the chain —
        * e.g. [[graft.dedup.SignatureIndex]] keeps a MinHash/LSH index in
        * lockstep with a document table's changelog.
        */
      transform: DataFrame => DataFrame = identity): Option[ChainResult] = {
    val cur = src.loadCurrent()
    val dstCursors = openDownstream(src, cur, dst, numBuckets,
      streamCursorPrefix, "stream-chain-fed", "poll-mode chaining would " +
        "interleave a second ledger-key scheme with the stream's batch-id " +
        "keys — keep tailing via followStream")
    val key = cursorKey(src.root)
    val lastV = dstCursors.getOrElse(key, -1L)
    if (lastV >= cur.version) return None
    var known = knownPrefixes(dst.loadCurrent())
    var shipped = Set.empty[String]

    def shipRange(changes: DataFrame, unitLo: Long, unitHi: Long,
        last: Boolean, what: String): Seq[MergeResult] = {
      val (prefixes, ms) = shipPerSource(dst, transform(changes), known,
        unitLo, unitHi, rangeKeys = true,
        if (last) Some(key -> cur.version) else None, what, mergeOnRead)
      known ++= prefixes.filterNot(_ == "_chain")
      shipped ++= prefixes
      ms
    }

    val merges: Seq[MergeResult] =
      if (lastV >= 0)
        // incremental poll: the pruned changelog, one version-unit range
        shipRange(src.readChanges(spark, lastV), lastV + 1, cur.version,
          last = true, s"chain ${src.root} v$lastV->v${cur.version}")
      else {
        // at most version+1 slice keys can tile the version-unit space
        val k = src.bootstrapSliceCount(cur, bootstrapSliceBytes,
          maxSlices = cur.version + 1)
        if (k <= 1)
          // small (or lsn-statless) upstream: one-batch bootstrap of the
          // COLLAPSED visible state, as before
          shipRange(src.read(spark, cur), 0L, cur.version, last = true,
            s"chain ${src.root} bootstrap v${cur.version}")
        else {
          val (gMin, gMax) = src.lsnBounds(cur)
          val units = BigInt(cur.version) + 1
          (0 until k).flatMap { i =>
            val (lsnLo, lsnHi) = ChronicleTable.lsnSliceInterval(gMin, gMax, i, k)
            val unitLo = (units * i / k).toLong
            val unitHi = (units * (i + 1) / k).toLong - 1
            shipRange(src.scanLsnInterval(spark, cur, lsnLo, lsnHi),
              unitLo, unitHi, last = i == k - 1,
              s"chain ${src.root} bootstrap v${cur.version} " +
                s"slice ${i + 1}/$k")
          }
        }
      }
    Some(ChainResult(lastV, cur.version, shipped.toSeq.sorted, merges))
  }

  /** Poll until caught up (each poll sees the version the previous one
    * left); returns polls performed. `maintainEveryPolls > 0` runs
    * [[maintain]] on the downstream after every Nth applying poll.
    */
  def drain(spark: SparkSession, src: ChronicleTable, dst: ChronicleTable,
      numBuckets: Int = 16, maxPolls: Int = Int.MaxValue,
      mergeOnRead: Boolean = false, maintainEveryPolls: Int = 0,
      bootstrapSliceBytes: Long = DefaultBootstrapSliceBytes,
      transform: DataFrame => DataFrame = identity): Int = {
    var n = 0
    while (n < maxPolls &&
        pollOnce(spark, src, dst, numBuckets, mergeOnRead,
          bootstrapSliceBytes, transform).isDefined) {
      n += 1
      if (maintainEveryPolls > 0 && n % maintainEveryPolls == 0)
        maintain(spark, dst, mergeOnRead)
    }
    n
  }

  /** The engine's table housekeeping recipe, run every N batches by the
    * pipeline drain ([[CdcPipeline]] `maintenanceEveryBatches`) and every
    * N polls/triggers by a chain — without it an always-on [[follow]]
    * accumulates a snapshot per poll forever and, under merge-on-read,
    * delta files between manual compactions. Compaction bounds the
    * live-file count, expiry bounds snapshot/metadata history, orphan GC
    * reclaims crash leftovers; all three go through the normal
    * commit/delete protocols, so readers only ever see committed
    * snapshots. Returns a one-line summary for logs.
    *
    * MOR tombstones may be GC'd only up to the MINIMUM high-water mark
    * across ALL of the table's sources (the snapshot's
    * `tombstoneHorizon`): compaction drops every tombstone at-or-below
    * the horizon regardless of which source wrote it, and another source
    * (whose LSN sequence may run lower) can still redeliver events the
    * dropped tombstone had to mask. Unordered or unmarked sources floor
    * the horizon to MinValue — no GC.
    *
    * Retention caveat for CASCADES: a further-downstream tail holds this
    * table's VERSION as its cursor — `retainSnapshots` must cover the
    * slowest such tail or its next poll fails with the expired-cursor
    * error (the same contract as log retention vs. consumer lag).
    */
  def maintain(spark: SparkSession, dst: ChronicleTable,
      mergeOnRead: Boolean = false, maxFilesPerBucket: Int = 8,
      retainSnapshots: Int = 10): String = {
    val horizon =
      if (mergeOnRead) dst.loadCurrent().tombstoneHorizon else Long.MinValue
    val r = graft.ops.Compaction(spark, dst, maxFilesPerBucket,
      tombstoneHorizonLsn = horizon)
    val (expired, deleted) = dst.expireSnapshots(retainSnapshots)
    dst.gcOrphans()
    s"compacted ${r.compactedBuckets} buckets (${r.removedFiles} -> " +
      s"${r.addedFiles} files), expired ${expired.size} snapshots, deleted " +
      s"${deleted.size} data files"
  }

  /** Ships one change set downstream as one merge per ORIGINAL source, in
    * deterministic order, so the downstream marks stay per-source; rows
    * written before the _source column existed (null) ship under a
    * dedicated legacy prefix. Returns the prefixes shipped and their
    * merges; `cursor` rides only the LAST merge.
    *
    * Ledger keys claim version units `[unitLo, unitHi]` (a poll's version
    * range, or a stream's batch id): a poll's key always renders the
    * range, a stream batch's single unit renders as its bare id
    * (`rangeKeys = false`). A KNOWN source with NO rows in this set still
    * gets a (metadata-only) empty commit: every prefix's keys then tile
    * contiguously across polls/slices/batches and the ledger floor folds
    * them away — without this, one quiet poll would leave a permanent gap
    * and the explicit window would grow by one key per prefix per later
    * poll. A prefix's FIRST key anchors at unit 0 (nothing was ever
    * shipped for it before, so the wider claim is vacuous) — a source
    * joining mid-stream then tiles from 0 and its floor folds immediately
    * instead of leaving a permanent pre-join gap.
    * Each merge records its line (`chain-poll`/`chain-stream`) downstream.
    */
  private def shipPerSource(dst: ChronicleTable, changes0: DataFrame,
      known: Set[String], unitLo: Long, unitHi: Long, rangeKeys: Boolean,
      cursor: Option[(String, Long)], what: String,
      mergeOnRead: Boolean): (Seq[String], Seq[MergeResult]) = {
    // All work rides the change set's session: a stream batch's is the
    // cloned micro-batch session (see the session note in MergeInto.apply).
    val spark = changes0.sparkSession
    val changes = changes0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val srcOf = coalesce(col(Model.sourceColumn), lit("_legacy"))
      val tagged = changes.select(srcOf.as("__src"))
        .distinct().collect().map(_.getString(0)).toSet
      val prefixes = (tagged ++ known).toSeq.sorted match {
        case Nil => Seq("_chain") // empty set on a fresh table: cursor-only
        case ps => ps
      }
      prefixes -> prefixes.zipWithIndex.map { case (s, i) =>
        val lo = if (known.contains(s)) unitLo else 0L
        MergeInto(spark, dst, MergeInto.eventsOf(changes.filter(srcOf === s)),
          batchKey = if (!rangeKeys && lo == unitHi) s"$s#$unitHi" else s"$s#$lo-$unitHi",
          source = what,
          cursor = if (i == prefixes.size - 1) cursor else None,
          mergeOnRead = mergeOnRead,
          mode = if (rangeKeys) "chain-poll" else "chain-stream")
      }
    } finally { changes.unpersist(); () }
  }

  /** Source prefixes the downstream table has already seen. */
  private def knownPrefixes(snap: graft.table.Snapshot): Set[String] =
    (snap.floors.keys ++ snap.hwms.keys)
      .filterNot(graft.table.ChronicleTable.nonSources).toSet

  /** Continuous tail: a Structured Streaming query whose every trigger
    * drains the upstream changelog — the always-on form of [[drain]] (the
    * reference's SuroSink forwards continuously as traffic arrives,
    * SuroSink.java:15-38). The rate source is a one-row metronome; the
    * real work runs driver-side in foreachBatch through the same
    * exactly-once [[pollOnce]], so the query's own checkpoint carries no
    * state that matters — a crash loses nothing (the chain cursor rides
    * the downstream table's ledger) and a restart resumes mid-stream.
    */
  def follow(spark: SparkSession, src: ChronicleTable, dst: ChronicleTable,
      numBuckets: Int = 16, intervalMs: Long = 1000L,
      mergeOnRead: Boolean = false,
      maintainEveryTriggers: Int = 0): org.apache.spark.sql.streaming.StreamingQuery =
    spark.readStream.format("rate").option("rowsPerSecond", 1).load()
      .writeStream
      .queryName(s"graft-chain-${dst.root.hashCode.toHexString}")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(intervalMs))
      .option("checkpointLocation", s"${dst.root}/_follow_checkpoint")
      .foreachBatch { (_: DataFrame, batchId: Long) =>
        drain(spark, src, dst, numBuckets, mergeOnRead = mergeOnRead): Unit
        if (maintainEveryTriggers > 0 && batchId > 0 &&
            batchId % maintainEveryTriggers == 0)
          maintain(spark, dst, mergeOnRead): Unit
      }
      .start()

  /** Continuous tail driven by the NATIVE change-stream source
    * ([[graft.changes.DefaultSource]], `format("graft.changes")`) instead
    * of the metronome: the source plans each micro-batch as the
    * manifest-pruned net changes of a version range, Spark's own offset
    * log carries the cursor, and the foreachBatch sink applies the batch
    * idempotently — the north star's "foreachBatch idempotent-commit
    * sink" verbatim. Versus [[follow]]: position lives in the streaming
    * checkpoint (offset WAL) rather than the downstream ledger, so the
    * batch contents are replay-stable by OFFSET (a restarted batch N
    * re-reads the same version range and its ledger keys `<src>#N` skip),
    * and the pipeline composes with stream-native rate limiting
    * (`maxVersionsPerTrigger`) and monitoring. The bootstrap ships the
    * upstream state CHUNKED into `bootstrapSliceBytes`-sized lsn-interval
    * micro-batches (never one table-sized batch), like [[pollOnce]]'s
    * sliced first poll; the slice plan rides the offset WAL, so a crash
    * mid-bootstrap resumes at the next slice.
    *
    * A stream-chained table is its own feed mode: [[pollOnce]] refuses
    * stream-chain-fed tables and vice versa (batch-id keys and
    * version-range keys under one prefix would mis-fold the ledger).
    */
  def followStream(spark: SparkSession, src: ChronicleTable,
      dst: ChronicleTable, numBuckets: Int = 16, intervalMs: Long = 1000L,
      mergeOnRead: Boolean = false,
      maxVersionsPerTrigger: Long = Long.MaxValue,
      trigger: org.apache.spark.sql.streaming.Trigger = null,
      maintainEveryTriggers: Int = 0,
      bootstrapSliceBytes: Long = DefaultBootstrapSliceBytes,
      bootstrapSlices: Int = 0): org.apache.spark.sql.streaming.StreamingQuery = {
    val trig = Option(trigger).getOrElse(
      org.apache.spark.sql.streaming.Trigger.ProcessingTime(intervalMs))
    openDownstream(src, src.loadCurrent(), dst, numBuckets, cursorPrefix,
      "poll-chain-fed", "stream chaining would interleave batch-id ledger " +
        "keys with the poll chain's version-range keys — keep tailing via " +
        "pollOnce/follow")
    val markerKey = s"$streamCursorPrefix${src.root}"
    src.readChangeStream(spark, startingVersion = "bootstrap",
        maxVersionsPerTrigger = maxVersionsPerTrigger,
        bootstrapSliceBytes = bootstrapSliceBytes,
        bootstrapSlices = bootstrapSlices)
      .writeStream
      .queryName(s"graft-chainstream-${dst.root.hashCode.toHexString}")
      .trigger(trig)
      .option("checkpointLocation", s"${dst.root}/_followstream_checkpoint")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // exactly-once per batch: ledger keys `<src>#<batchId>` — batch
        // ids are contiguous across restarts (the offset WAL), so the
        // ledger floor folds them and a replayed batch skips
        shipPerSource(dst, batch, knownPrefixes(dst.loadCurrent()),
          batchId, batchId, rangeKeys = false, Some(markerKey -> batchId),
          s"chainstream $markerKey batch $batchId", mergeOnRead)
        // same housekeeping as [[follow]]'s — batch ids are contiguous
        // across restarts, so the cadence survives a resume
        if (maintainEveryTriggers > 0 && batchId > 0 &&
            batchId % maintainEveryTriggers == 0)
          maintain(batch.sparkSession, dst, mergeOnRead): Unit
      }
      .start()
  }

  /** One-shot catch-up through the change-stream source: runs a
    * Trigger.AvailableNow [[followStream]] to completion (drains every
    * version committed before the call, then terminates) — the
    * stream-native form of [[drain]], sharing its checkpoint with
    * [[followStream]] so the two can alternate on one downstream table.
    */
  def syncStream(spark: SparkSession, src: ChronicleTable,
      dst: ChronicleTable, numBuckets: Int = 16,
      mergeOnRead: Boolean = false, maintainEveryTriggers: Int = 0,
      bootstrapSliceBytes: Long = DefaultBootstrapSliceBytes,
      bootstrapSlices: Int = 0): Unit =
    followStream(spark, src, dst, numBuckets, mergeOnRead = mergeOnRead,
      trigger = org.apache.spark.sql.streaming.Trigger.AvailableNow(),
      maintainEveryTriggers = maintainEveryTriggers,
      bootstrapSliceBytes = bootstrapSliceBytes,
      bootstrapSlices = bootstrapSlices)
      .awaitTermination()
}
