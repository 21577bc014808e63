package graft.cdc

import graft.model.Model
import graft.ops.{MergeInto, MergeResult}
import graft.sql.GraftStreamSink
import graft.table.{ChronicleTable, Snapshot}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.storage.StorageLevel

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Pipeline configuration (the engine's analogue of suro's `-m/-s/-i`
  * config trio, SuroServer.java:181-241).
  */
case class PipelineConfig(
    sourceDir: String,
    tableRoot: String,
    sourceId: String = "binlog",
    segmentsPerBatch: Int = 4,
    numBuckets: Int = 16,
    /** No effect: the merge's in-task dedup keeps O(1) state per key and
      * spills through its sort, so hot keys need no salting. Kept so
      * existing callers that name it still compile.
      */
    saltBuckets: Int = 0,
    /** Optional DSL filter gating which change events reach the table
      * (a route in suro terms); re-read from this file at EVERY batch, so
      * edits hot-swap without restart — the reference's dynamic-property
      * routing-map reload (DynamicPropertySinkConfigurator.java:41-67).
      * File content: one filter-DSL expression (see [[graft.dsl.FilterDsl]]).
      */
    routeFilterFile: Option[String] = None,
    /** Divert events failing validation (null/empty key or turn_idx < 0) to
      * <tableRoot>/quarantine/ parquet instead of silently dropping them —
      * the reference counts drops (MessageRouter.java:61-65); we keep them
      * inspectable. Off by default: the emptiness probe costs one extra
      * pass over each batch, which a trusted-source replay shouldn't pay.
      */
    quarantine: Boolean = false,
    /** Adaptive batch sizing — the reference's backpressure loop
      * (QueuedSink.checkPause computes pause = pending/throughput,
      * QueuedSink.java:51-60) re-expressed for a pull-based tailer: size
      * the NEXT micro-batch so it applies in ~targetBatchSec at the
      * measured per-segment rate, instead of a fixed segment count. A slow
      * merge (hot keys, wide rewrites, contended cluster) now feeds back
      * into intake within one batch. `segmentsPerBatch` becomes the upper
      * bound when this is on.
      */
    adaptiveBatching: Boolean = false,
    targetBatchSec: Double = 30.0,
    /** Run table maintenance (small-file compaction + snapshot expiry +
      * orphan GC) every this many applied batches; 0 = never. A 10^10-event
      * replay otherwise accretes files and snapshots without bound — the
      * reference rotates, uploads and deletes continuously as part of its
      * drain (LocalFileSink.java:183-252, RemoteFileSink.java:151-216);
      * here maintenance is a normal commit in the same ledger, safe to
      * interleave with the drain (commit conflict rebase covers the race).
      */
    maintenanceEveryBatches: Int = 0,
    compactMaxFilesPerBucket: Int = 8,
    retainSnapshots: Int = 10,
    /** Add [[CdcPipeline.startStream]]'s `stream-progress` lines to the
      * metrics ledger; every merge records its own commit line anyway.
      */
    recordMetrics: Boolean = false,
    /** Merge-on-read writes: each batch lands as DELTA files (O(batch)
      * write IO, no table reads) and reads LWW-merge base+deltas until the
      * periodic maintenance compaction folds them — the write-optimized arm
      * of the LSM trade for update-heavy replays (see
      * [[graft.ops.MergeInto]]); copy-on-write (default) stays the
      * read-optimized arm. Pair with `maintenanceEveryBatches` to bound
      * read amplification.
      */
    mergeOnRead: Boolean = false,
    /** Pause intake when the table's filesystem has less than this many
      * usable bytes free (0 = no guard): the drain returns cleanly at the
      * next batch boundary instead of failing mid-write with a corrupt
      * staging directory, and resumes from the cursor once space clears —
      * the reference pauses its Thrift intake on insufficient sink disk
      * (LocalFileSink's space checker;
      * TestPauseOnInsufficientDiskSpaceThriftServer.java).
      */
    minFreeBytes: Long = 0L)

/** The CDC micro-batch driver: binlog segment dirs -> dedup -> MERGE ->
  * snapshot commit, resumable from the table's own commit ledger.
  *
  * Offset tracking uses a SINGLE ledger living in the table manifest
  * itself: each commit records the highest consumed segment number
  * (per-source cursor) plus its batchKey. There is no second checkpoint to
  * fall out of sync with the data — the two-ledger crash window the
  * reference closes with notice-remove-after-success (S3Consumer.java:258-287)
  * is closed here by construction.
  */
class CdcPipeline(val cfg: PipelineConfig) {

  val table = new ChronicleTable(cfg.tableRoot)

  /** Creates the table, or checks that this pipeline may drain it;
    * returns its current snapshot.
    */
  def ensureTable(): Snapshot =
    if (!table.exists) table.create(Model.physicalSchemaV1, cfg.numBuckets)
    else {
      val snap = table.loadCurrent()
      Chain.requireNotChainFed(table, snap,
        s"a direct pipeline drain (source ${cfg.sourceId})")
      // an unordered source's keys (SQL `dml-…`, stream epochs) do not
      // number batches, and its mark does not bound redelivery
      require(!snap.unordered(cfg.sourceId),
        s"source ${cfg.sourceId} is an unordered source of ${cfg.tableRoot} " +
          "(written by SQL or a stream): a pipeline drain under the same id " +
          "would misread its ledger keys — use another sourceId")
      snap
    }

  def listSegments(): Seq[String] = {
    val p = Paths.get(cfg.sourceDir)
    if (!Files.exists(p)) Nil
    else Files.list(p).iterator().asScala
      .map(_.getFileName.toString)
      .filter(_.startsWith("segment="))
      .toSeq
      .sortBy(segNum)
  }

  def segNum(segment: String): Long = segment.stripPrefix("segment=").toLong

  def batchKey(batchId: Int): String = s"${cfg.sourceId}#$batchId"

  /** Highest committed batch id (for batch-key allocation): max over the
    * explicit ledger window and the compacted contiguous floor.
    */
  def lastCommittedBatch(snap: Snapshot = table.loadCurrent()): Int = {
    val prefix = s"${cfg.sourceId}#"
    val fromKeys = snap.committedBatches.keys
      .filter(_.startsWith(prefix))
      .map(_.stripPrefix(prefix).toInt)
      .foldLeft(-1)(math.max)
    math.max(fromKeys, snap.floors.getOrElse(cfg.sourceId, -1L).toInt)
  }

  /** A segment published by the network intake ([[IngestServer]]) is
    * row-oriented JSONL; generator/file segments are parquet. Detected per
    * segment so one source can mix both (e.g. a bulk parquet backfill
    * followed by live network intake).
    */
  private def isJsonlSegment(segment: String): Boolean = {
    val d = Paths.get(cfg.sourceDir, segment)
    Files.exists(d) && {
      val s = Files.list(d)
      try s.iterator().asScala.exists(_.getFileName.toString.endsWith(".jsonl"))
      finally s.close()
    }
  }

  def readBatch(spark: SparkSession, segments: Seq[String]): DataFrame = {
    val (jsonSegs, parqSegs) = segments.partition(isJsonlSegment)
    def paths(segs: Seq[String]) = segs.map(s => s"${cfg.sourceDir}/$s")
    val frames =
      (if (parqSegs.nonEmpty)
        Seq(spark.read.schema(Model.changeSchema).parquet(paths(parqSegs): _*))
      else Nil) ++
      (if (jsonSegs.nonEmpty)
        Seq(spark.read.schema(Model.changeSchema).json(paths(jsonSegs): _*))
      else Nil)
    frames.map(_.select(MergeInto.changeColumns: _*)).reduce(_ unionAll _)
  }

  // Null-safe validation split: a NULL predicate must land a row in
  // QUARANTINE, never in neither side (three-valued logic would silently
  // drop a null-keyed row from both filters — the exact failure the
  // quarantine option exists to prevent).
  private def invalidCond =
    col("conv_id").isNull || col("conv_id") === "" ||
      col("turn_idx").isNull || col("turn_idx") < 0

  /** Route the raw batch: quarantine invalid events, apply the (hot
    * reloaded) route filter. Returns the stream that reaches the MERGE.
    * The caller is expected to have persisted `batch` when quarantine is on
    * (runOnce does) so the two filter branches read the cache, not the
    * source — one source scan per batch.
    */
  def route(spark: SparkSession, batch: DataFrame, batchId: Int): DataFrame = {
    val validated =
      if (!cfg.quarantine) batch
      else {
        val bad = batch.filter(coalesce(invalidCond, lit(true)))
        // emptiness probe runs against the persisted batch (cheap); skip the
        // write entirely in the common nothing-quarantined case
        if (!bad.isEmpty) {
          bad.write.mode("overwrite")
            .parquet(s"${cfg.tableRoot}/quarantine/batch=$batchId")
        }
        batch.filter(coalesce(!invalidCond, lit(false)))
      }
    cfg.routeFilterFile match {
      case Some(f) if Files.exists(Paths.get(f)) =>
        // re-compiled every batch: editing the file hot-swaps the route
        val dsl = Files.readString(Paths.get(f)).trim
        if (dsl.isEmpty) validated
        else validated.filter(graft.dsl.FilterDsl.compile(dsl))
      case _ => validated
    }
  }

  /** Highest consumed segment number for this source (resume point).
    *
    * Tables written before the cursor existed recorded only batch ids; for
    * those the legacy index mapping (batch k = segments [k*spb,(k+1)*spb))
    * is what actually ran, so it seeds the cursor — new commits record the
    * real consumed segment number and partial trailing batches become safe.
    */
  def consumedSegment(snap: Snapshot = table.loadCurrent()): Long =
    snap.cursors.get(cfg.sourceId) match {
      case Some(c) => c // authoritative: what was actually consumed
      case None => // pre-cursor table: the index mapping is what ran
        (lastCommittedBatch(snap) + 1).toLong * cfg.segmentsPerBatch - 1
    }

  /** Current adaptive batch size (segments); meaningful only when
    * cfg.adaptiveBatching is on.
    */
  @volatile private[graft] var dynamicSpb: Int = cfg.segmentsPerBatch

  /** The backpressure policy as a pure function: given the last batch's
    * size and duration, the next batch takes as many segments as fit in
    * targetSec at the measured per-segment rate — clamped to [1, maxSpb]
    * and to at most doubling per step (suro's pause is similarly derived
    * from pending/throughput, QueuedSink.java:51-60; here the "pause" is
    * expressed as intake volume instead of sleep time).
    */
  private[graft] def nextBatchSize(lastSegments: Int, lastSec: Double,
      targetSec: Double, maxSpb: Int): Int = {
    val perSegSec = math.max(1e-9, lastSec / math.max(1, lastSegments))
    val ideal = (targetSec / perSegSec).toInt
    math.max(1, math.min(math.min(ideal, lastSegments * 2), maxSpb))
  }

  /** Usable bytes on the table's filesystem; overridable so specs can fake
    * a full disk without filling one.
    */
  @volatile private[graft] var freeSpaceProbe: () => Long = () =>
    try Files.getFileStore(Paths.get(cfg.tableRoot)).getUsableSpace
    catch { case _: java.io.IOException => Long.MaxValue }

  /** True when the disk guard says intake must pause (logged once per
    * probe). Checked at every batch boundary — never mid-write, so a
    * drain always stops on a committed snapshot.
    */
  private[cdc] def diskFull(): Boolean =
    cfg.minFreeBytes > 0L && {
      val free = freeSpaceProbe()
      val full = free < cfg.minFreeBytes
      if (full) println(s"[cdc] intake paused: ${free}B usable under " +
        s"${cfg.tableRoot} < minFreeBytes=${cfg.minFreeBytes} — drain " +
        "stops at this batch boundary; rerun after space clears")
      full
    }

  /** Process exactly one pending batch. None = nothing pending. */
  def runOnce(spark: SparkSession): Option[MergeResult] =
    drain(spark, maxBatches = 1, prepareAhead = false)._2

  /** Drain all pending segments. Returns number of batches applied. */
  def runAll(spark: SparkSession, maxBatches: Int = Int.MaxValue): Int =
    drain(spark, maxBatches, prepareAhead = false)._1

  /** Pipelined drain: batch k+1's PREPARE (scan + the map stage of its
    * one shuffle, to its buckets) runs concurrently with batch k's APPLY
    * ([[MergeInto.prepareAhead]]). Correctness is unchanged: prepare
    * touches no table state, and the dedup and the exact high-water-mark
    * redelivery filter run in the apply's write tasks (see
    * [[graft.ops.MergeInto.prepare]]). This is the engine's analogue of
    * the reference's concurrent queue-drain + uploader pool
    * (QueuedSink.run feeding RemoteFileSink's upload executor,
    * RemoteFileSink.java:151-216) — intake keeps flowing while the sink
    * flushes.
    */
  def runAllPipelined(spark: SparkSession, maxBatches: Int = Int.MaxValue): Int = {
    require(cfg.routeFilterFile.isEmpty && !cfg.quarantine,
      "pipelined drain is the trusted-source fast path; route filters and " +
        "quarantine need the sequential runAll (the batch must be routed " +
        "before the table-independent prepare)")
    drain(spark, maxBatches, prepareAhead = true)._1
  }

  /** Batches applied by this pipeline instance, whichever entry point
    * drove them — the cadence of in-drain maintenance.
    */
  private var appliedBatches = 0

  /** The one drain loop (suro's QueuedSink.run, QueuedSink.java:96-153):
    * select the next slice, apply it (the merge times and records its own
    * commit), then the per-batch tail — adaptive sizing, timing line,
    * maintenance. Returns the batches applied and the last merge.
    *
    * Slices are selected by segment NUMBER strictly past the previous
    * slice (the persisted cursor for the first) — not by position in the
    * current listing — so a partial trailing batch committed while the
    * source was drained cannot cause segments that arrive later to be
    * skipped. The slice size is re-read from `dynamicSpb` at every
    * selection; under prepare-ahead, selection runs one batch AHEAD of the
    * apply that measures the rate (that overlap is the point of the
    * pipeline), so sizing reacts with a one-batch lag.
    *
    * The drain loads one snapshot for its own bookkeeping; after that, each
    * merge's result snapshot numbers the next batch (the merge loads its
    * own commit base).
    */
  private def drain(spark: SparkSession, maxBatches: Int,
      prepareAhead: Boolean): (Int, Option[MergeResult]) = {
    @volatile var latest = ensureTable()
    val slices = Iterator.unfold(consumedSegment(latest)) { cursor =>
      val spb = if (cfg.adaptiveBatching) dynamicSpb else cfg.segmentsPerBatch
      val slice =
        if (diskFull()) Nil
        else listSegments().filter(s => segNum(s) > cursor).take(spb)
      slice.lastOption.map(last => slice -> segNum(last))
    }.take(maxBatches)
    var n = 0
    var lastResult: Option[MergeResult] = None
    def applyOne(slice: Seq[String], prepared: Option[MergeInto.Prepared]): Unit = {
      val next = lastCommittedBatch(latest) + 1
      val raw = readBatch(spark, slice)
      // quarantine splits the batch twice; persist so both read the cache
      if (cfg.quarantine) raw.persist(StorageLevel.MEMORY_AND_DISK)
      val r =
        try MergeInto(spark, table, route(spark, raw, next), batchKey(next),
          source = slice.mkString(","),
          cursor = Some(cfg.sourceId -> segNum(slice.last)),
          prepared = prepared, mergeOnRead = cfg.mergeOnRead,
          mode = if (prepareAhead) "pipelined" else "batch")
        finally if (cfg.quarantine) raw.unpersist()
      if (cfg.adaptiveBatching)
        dynamicSpb = nextBatchSize(slice.size, r.sec, cfg.targetBatchSec,
          cfg.segmentsPerBatch)
      n += 1
      appliedBatches += 1
      lastResult = Some(r)
      latest = r.snapshot
      if (verbose) println(f"[cdc] batch applied in ${r.sec}%.2fs " +
        f"(upserts=${r.upserts} deletes=${r.deletes} rewrote=${r.rewrittenFiles} added=${r.addedFiles})")
      // Periodic in-drain maintenance ([[Chain.maintain]]): a normal commit
      // in the same ledger. Safe alongside an in-flight next-batch PREPARE
      // — prepare reads no table state, and the commit-conflict rebase
      // covers the compaction-vs-merge window.
      if (cfg.maintenanceEveryBatches > 0 &&
          appliedBatches % cfg.maintenanceEveryBatches == 0) {
        val m = Chain.maintain(spark, table, cfg.mergeOnRead,
          cfg.compactMaxFilesPerBucket, cfg.retainSnapshots)
        if (verbose) println(s"[cdc] maintenance: $m")
      }
    }
    if (prepareAhead)
      MergeInto.prepareAhead(spark, slices)(slice =>
        MergeInto.prepare(spark, readBatch(spark, slice), latest.numBuckets))(
        (slice, prepared) => applyOne(slice, Some(prepared)))
    else slices.foreach(applyOne(_, None))
    (n, lastResult)
  }

  /** Per-batch timing log (set for profiling / CLI runs). */
  @volatile var verbose: Boolean = false

  /** Metrics directory (next to the table, like lineage). */
  def metricsDir: String = s"${cfg.tableRoot}/metrics"

  /** The metrics ledger as a DataFrame (rates/durations per batch/epoch,
    * alongside [[lineage]]).
    */
  def metrics(spark: SparkSession): DataFrame = Metrics.view(spark, metricsDir)

  /** The query [[startStream]] started last; its progress log carries the
    * measured epoch durations the adaptive trigger sizing feeds on.
    */
  @volatile private var lastStream: Option[StreamingQuery] = None

  /** Trigger size for the NEXT stream generation, from the mean time the
    * last one spent in the sink per epoch (`addBatch` in its progress
    * log) — the streaming face of the checkPause backpressure loop (suro
    * pauses INPUTS when a sink lags, QueuedSink.java:51-60). A running
    * file source cannot resize its trigger, but a restart from the same
    * checkpoint re-reads the option: [[runStreamAdaptive]] cycles
    * generations, each sized by the previous one's measured rate.
    */
  def adaptedMaxFilesPerTrigger(current: Int, cap: Int = 64): Int = {
    val secs = lastStream.toSeq.flatMap(_.recentProgress)
      .flatMap(p => Option(p.durationMs.get("addBatch")))
      .map(_.longValue / 1000.0)
    if (secs.isEmpty) current
    else nextBatchSize(current, secs.sum / secs.length, cfg.targetBatchSec, cap)
  }

  /** The source's segments as a stream of change events: two file sources
    * over the same segment glob, split by extension — parquet from the
    * generator/bulk path, JSONL from the network intake ([[IngestServer]]).
    * Each source checkpoints its own offsets; maxFilesPerTrigger applies
    * per source. The union is safe because the streaming MERGE is
    * order-independent (per-key LSN guard + tombstones).
    */
  private[cdc] def changeStream(spark: SparkSession,
      maxFilesPerTrigger: Int): DataFrame = {
    def sourceStream(ext: String) = spark.readStream
      .schema(Model.changeSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .option("pathGlobFilter", s"*.$ext")
    val glob = s"${cfg.sourceDir}/segment=*"
    sourceStream("parquet").parquet(glob)
      .unionAll(sourceStream("jsonl").json(glob))
      .select(MergeInto.changeColumns: _*)
  }

  /** The Structured Streaming variant of the same pipeline: Spark's file
    * source tracks offsets in its checkpoint, and each epoch is written
    * through the `format("graft")` sink ([[graft.sql.GraftStreamSink]],
    * the single-table epoch step) as ledger key `<sourceId>-ss#<epoch>` —
    * a replayed epoch after restart is skipped by that key, which is what
    * makes the composition of Spark's checkpoint and our table crash-safe.
    * Epochs commit through this pipeline's [[table]] instance.
    */
  def startStream(spark: SparkSession, checkpointDir: String,
      maxFilesPerTrigger: Int = 8): StreamingQuery = {
    ensureTable()
    val queryName = s"graft-${cfg.sourceId}"
    // progress lines of this run only; the listener leaves with the run
    val listener = Option.when(cfg.recordMetrics)(
      new Metrics.EpochListener(queryName, metricsDir, spark.streams))
    listener.foreach(spark.streams.addListener)
    val q = try GraftStreamSink.startThrough(table) {
      changeStream(spark, maxFilesPerTrigger).writeStream
        .queryName(queryName)
        .format("graft")
        .option("path", cfg.tableRoot)
        .option("checkpointLocation", checkpointDir)
        .option("source", cfg.sourceId)
        .option("mor", cfg.mergeOnRead)
        .trigger(Trigger.AvailableNow())
        .start()
    } catch { case t: Throwable => listener.foreach(spark.streams.removeListener); throw t }
    lastStream = Some(q)
    q
  }

  /** Drain the source over several stream GENERATIONS, resizing the trigger
    * between them from the measured epoch rate: generation g runs
    * AvailableNow with maxFilesPerTrigger_g, and g+1 restarts from the same
    * checkpoint with the size [[adaptedMaxFilesPerTrigger]] derived from
    * g's mean epoch duration. Returns the trigger size the NEXT generation
    * would use (the adapted steady-state intake).
    */
  def runStreamAdaptive(spark: SparkSession, checkpointDir: String,
      initialMaxFiles: Int = 8, generations: Int = 2,
      timeoutMs: Long = 300000): Int = {
    var mfpt = initialMaxFiles
    (0 until generations).foreach { _ =>
      startStream(spark, checkpointDir, mfpt).awaitTermination(timeoutMs)
      mfpt = adaptedMaxFilesPerTrigger(mfpt)
    }
    mfpt
  }

  /** Final table state in stable turn order (the verification ordering from
    * the input hint: per-turn text equality under (conv_id, turn_idx)).
    */
  def currentState(spark: SparkSession): DataFrame =
    table.read(spark)
      .filter(!col(Model.deletedColumn))
      .drop(Model.systemColumns: _*)
      .orderBy("conv_id", "turn_idx")

  /** The lineage ledger as a DataFrame (per-batch offsets, counts, checksum). */
  def lineage(spark: SparkSession): DataFrame = {
    import spark.implicits._
    table.fullLineage()
      .map(l => (l.batchKey, l.source, l.startLsn, l.endLsn, l.upserts,
        l.deletes, l.rowCount, l.checksum, l.snapshotVersion))
      .toDF("batch_key", "source", "start_lsn", "end_lsn", "upserts",
        "deletes", "row_count", "checksum", "snapshot_version")
  }
}
