package perfbench

import graft.cdc.{CdcPipeline, PipelineConfig}
import graft.ops.Compaction
import graft.source.{BinlogConfig, BinlogGenerator}
import graft.table.ChronicleTable

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** `serve_mixed` — closed loop, two threads on one session against a
  * merge-on-read table. The writer applies small parquet segments back to
  * back with `runOnce` (O(batch) delta files, no table reads) and every
  * `maintainEvery` batches runs compaction, snapshot expiry and orphan GC,
  * as an operator would schedule them. The reader issues point lookups on
  * hot, recently written keys and every `pollEvery`-th operation a
  * changelog poll that advances its cursor. The read path and compaction
  * carry the load, so a write-path gain that makes reads dearer shows here.
  */
final class ServeMixed(run: Run) extends Workload(run) {
  val name = "serve_mixed"

  val baseEvents = 30000L
  val baseSegments = 1
  val buckets = 8
  val tailSegments = 40
  val tailSegmentEvents = 100
  val maintainEvery = 4
  val pollEvery = 10
  /** Snapshots kept by expiry at least; more when the reader's changelog
    * cursor is older, so a poll never loses its starting version.
    */
  val retainSnapshots = 20
  /** Lookups pick the conversation of a random event among the last
    * `hotWindow` applied ones, so keys follow the write skew and recent
    * keys dominate.
    */
  val hotWindow = 2000

  val cfg = BinlogConfig(seed = run.seed, numEvents = baseEvents,
    numConversations = 8000, zipfS = 0.8, pUpdate = 0.25, pDelete = 0.05,
    dupPct = 1, segmentSize = baseEvents / baseSegments, filesPerSegment = 4)
  private val cdf = BinlogGenerator.zipfCdf(cfg.numConversations, cfg.zipfS)
  private lazy val deliveries = Inputs.tailDeliveries(cfg, baseEvents,
    baseSegments, tailSegments, tailSegmentEvents)

  private var src: String = _
  private var root: String = _
  private var writer: CdcPipeline = _
  private var readerTable: ChronicleTable = _
  private val readerCursor = new AtomicLong(0L)
  private val appliedThrough = new AtomicLong(0L) // first lsn past the cursor
  private var batches = 0
  private var startCursor = 0L

  // timed-part records
  private val lookupSec = mutable.ArrayBuffer[Double]()
  private val keyPlanSec = mutable.ArrayBuffer[Double]()
  private val keyExecSec = mutable.ArrayBuffer[Double]()
  private val lookupFiles = mutable.ArrayBuffer[Int]()
  private var lookupRows = 0L
  private val pollSec = mutable.ArrayBuffer[Double]()
  private val pollPlanSec = mutable.ArrayBuffer[Double]()
  private val pollExecSec = mutable.ArrayBuffer[Double]()
  private val pollFiles = mutable.ArrayBuffer[Int]()
  private val seenKeys = mutable.HashSet[(String, Int)]()
  private val maint = mutable.ArrayBuffer[(Double, Double, Double, Long, Long)]()
  private var readerWall = 0.0

  run.sizes ++= Seq("base_events" -> baseEvents, "tail_segment_events" -> tailSegmentEvents,
    "tail_segments" -> tailSegments, "maintain_every" -> maintainEvery,
    "poll_every" -> pollEvery, "buckets" -> buckets)

  def setup(rep: Int): Unit = {
    src = run.fresh("serve-src")
    root = run.fresh("serve-table")
    BinlogGenerator.writeSegments(spark, cfg, src)
    Inputs.writeTailSegments(spark, cfg, src, baseEvents, baseSegments,
      tailSegments, tailSegmentEvents)
    new CdcPipeline(PipelineConfig(src, root, segmentsPerBatch = 1, numBuckets = buckets))
      .runAllPipelined(spark, maxBatches = baseSegments)
    writer = new CdcPipeline(PipelineConfig(src, root, segmentsPerBatch = 1,
      numBuckets = buckets, mergeOnRead = true))
    readerTable = new ChronicleTable(root)
    batches = 0
    readerCursor.set(readerTable.loadCurrent().version)
    noteApplied(baseSegments - 1L)
    writeOnce()
    maintain()
    Seq(0, pollEvery - 1).foreach(readOnce)
  }

  private def noteApplied(cursor: Long): Unit =
    appliedThrough.set(baseEvents + (cursor + 1 - baseSegments) * tailSegmentEvents)

  /** One writer step: apply a segment, then maintenance when it is due. */
  private def writeOnce(): Boolean = {
    val before = writer.table.loadCurrent().version
    val (r, wall) = drainCall("runOnce", batches + 1L)(writer.runOnce(spark))
    r.foreach { m =>
      batches += 1
      val cursor = m.snapshot.cursors(writer.cfg.sourceId)
      if (drain.timed) {
        drain.commitSec += wall
        drain.callWallSec += wall
        drain.batches += 1
        drain.events += deliveries(cursor)
        drain.changes += m.upserts + m.deletes
        drain.inputBytes += drain.sizeOf(s"$src/segment=$cursor")
        drain.backlogMax = math.max(drain.backlogMax, tailSegments + baseSegments - 1 - cursor)
        run.op(true)
      }
      afterCommits(writer.table, before, batches)
      noteApplied(cursor)
      if (batches % maintainEvery == 0) maintain()
    }
    r.isDefined
  }

  private def maintain(): Unit = {
    val t = writer.table
    val trace = batches.toLong
    val since = readerCursor.get
    val cur = t.loadCurrent()
    val horizon = math.min(cur.tombstoneHorizon,
      t.loadVersion(since).hwmFor(writer.cfg.sourceId))
    val t0 = System.nanoTime()
    val c = tracer.span("maint", "compact", trace)(
      Compaction(spark, t, maxFilesPerBucket = 8, tombstoneHorizonLsn = horizon))
    val compactSec = run.since(t0)
    val t1 = System.nanoTime()
    val keep = math.max(retainSnapshots, (c.snapshot.version - since + 1).toInt)
    val (_, expiredFiles) = tracer.span("maint", "expire", trace)(t.expireSnapshots(keep))
    val expireSec = run.since(t1)
    val t2 = System.nanoTime()
    val orphans = tracer.span("maint", "gc", trace)(t.gcOrphans())
    val gcSec = run.since(t2)
    if (drain.timed) {
      val kept = t.filesOf(cur).map(_.path).toSet
      val rewritten = t.filesOf(c.snapshot).filterNot(f => kept(f.path)).map(_.bytes).sum
      maint += ((compactSec, expireSec, gcSec,
        (c.removedFiles + expiredFiles.size + orphans.size).toLong, rewritten))
    }
  }

  /** One reader step: a changelog poll every `pollEvery`-th, else a lookup. */
  private def readOnce(i: Int): Unit =
    if (i % pollEvery == pollEvery - 1) poll(i)
    else lookup(i)

  private def lookup(i: Int): Unit = {
    val hot = appliedThrough.get
    val rnd = new java.util.Random(run.seed * 1000003L + i)
    val lsn = math.max(0L, hot - 1 - rnd.nextInt(hotWindow))
    val conv = BinlogGenerator.eventAt(cfg, cdf, lsn).conv_id
    val t0 = System.nanoTime()
    val df = tracer.span("read", "key_plan", i)(readerTable.readKey(spark, conv))
    val t1 = System.nanoTime()
    val rows = tracer.span("read", "key_exec", i)(df.collect())
    val t2 = System.nanoTime()
    if (drain.timed) {
      keyPlanSec += (t1 - t0) / 1e9
      keyExecSec += (t2 - t1) / 1e9
      lookupSec += (t2 - t0) / 1e9
      lookupFiles += df.inputFiles.length
      lookupRows += rows.length
    }
  }

  private def poll(i: Int): Unit = {
    val t0 = System.nanoTime()
    val v = tracer.span("table", "loadCurrent", i)(readerTable.loadCurrent()).version
    val df = tracer.span("read", "changes_plan", i)(
      readerTable.readChanges(spark, readerCursor.get))
    val t1 = System.nanoTime()
    val keys = tracer.span("read", "changes_exec", i)(
      df.select("conv_id", "turn_idx").collect())
    val t2 = System.nanoTime()
    keys.foreach(r => seenKeys += ((r.getString(0), r.getInt(1))))
    readerCursor.set(v)
    if (drain.timed) {
      pollPlanSec += (t1 - t0) / 1e9
      pollExecSec += (t2 - t1) / 1e9
      pollSec += (t2 - t0) / 1e9
      pollFiles += df.inputFiles.length
    }
  }

  def measure(deadline: Long): Unit = {
    seenKeys.clear()
    startCursor = writer.table.loadCurrent().cursors(writer.cfg.sourceId)
    val start = tracer.now()
    drain.timed = true
    val writerEnd = new AtomicLong(start)
    val writerError = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val w = new Thread(() => {
      try {
        while (tracer.now() < deadline && writeOnce()) ()
        if (tracer.now() < deadline) {
          run.op(false)
          run.note("writer ran out of pre-generated segments before the deadline")
        }
      } catch { case t: Throwable => writerError.set(t); run.op(false) }
      finally writerEnd.set(tracer.now())
    }, "writer")
    w.start()
    Thread.currentThread.setName("reader")
    val r0 = System.nanoTime()
    var i = 0
    while (tracer.now() < deadline) {
      val ok =
        try { readOnce(i); true }
        catch { case t: Throwable => run.note(s"reader op $i failed: $t"); false }
      run.op(ok)
      i += 1
    }
    readerWall = run.since(r0)
    val readerEnd = tracer.now()
    w.join()
    drain.timed = false
    if (writerError.get != null) throw writerError.get
    run.window("writer", start, writerEnd.get)
    run.window("reader", start, readerEnd)
    poll(-1)
  }

  def report(jobs: Seq[JobRec]): Unit = {
    val (a, z) = run.windows("writer")
    reportDrain(jobs, (z - a) / 1e9, root)
    run.tail("commit_tail_s", drain.commitSec.toSeq)
    run.metric("lookup_p50_s", Stats.median(lookupSec.toSeq), "s")
    run.metric("latency_p50_s", Stats.median(lookupSec.toSeq), "s")
    run.tail("lookup_tail_s", lookupSec.toSeq)
    run.metric("lookups_per_s", lookupSec.size / math.max(1e-9, readerWall), "ops/s")
    run.metric("changes_p50_s", Stats.median(pollSec.toSeq), "s")
    run.metric("read.key_plan_s", Stats.median(keyPlanSec.toSeq), "s")
    run.metric("read.key_exec_s", Stats.median(keyExecSec.toSeq), "s")
    run.metric("read.files_per_lookup",
      lookupFiles.sum.toDouble / math.max(1, lookupFiles.size), "count")
    run.metric("read.changes_plan_s", Stats.median(pollPlanSec.toSeq), "s")
    run.metric("read.changes_exec_s", Stats.median(pollExecSec.toSeq), "s")
    run.metric("read.changes_files", pollFiles.sum.toDouble / math.max(1, pollFiles.size), "count")
    if (jobs.nonEmpty) {
      val spans = tracer.spans.filter(s => s.name == "key_exec")
      val ids = spans.map(_.id).toSet
      val examined = jobs.filter(j => ids.contains(j.span)).map(_.recordsRead).sum
      run.metric("read.rows_examined_per_row",
        examined.toDouble / math.max(1L, lookupRows), "ratio")
    }
    val m = maint.size.max(1).toDouble
    run.metric("maint.compact_s", maint.map(_._1).sum / m, "s")
    run.metric("maint.expire_s", maint.map(_._2).sum / m, "s")
    run.metric("maint.gc_s", maint.map(_._3).sum / m, "s")
    run.metric("maint.files_removed", maint.map(_._4).sum / m, "count")
    run.metric("maint.bytes_rewritten", maint.map(_._5).sum / m, "bytes")
    run.note(s"${maint.size} maintenance cycles, ${pollSec.size} changelog polls")

    val endCursor = writer.table.loadCurrent().cursors(writer.cfg.sourceId)
    val first = baseEvents + (startCursor + 1 - baseSegments) * tailSegmentEvents
    val last = baseEvents + (endCursor + 1 - baseSegments) * tailSegmentEvents
    val written = (first until last).map { l =>
      val e = BinlogGenerator.eventAt(cfg, cdf, l)
      (e.conv_id, e.turn_idx)
    }.toSet
    val missing = written.count(k => !seenKeys.contains(k))
    run.gate("every key written during the run appears in a changelog poll",
      missing == 0, s"$missing of ${written.size} written keys never polled")
    run.stateGate(writer.table,
      BinlogGenerator.referenceReduction(cfg.copy(numEvents = last)))
  }
}
