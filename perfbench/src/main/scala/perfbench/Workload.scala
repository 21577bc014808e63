package perfbench

import graft.ops.MergeInto
import graft.table.ChronicleTable

import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** One named workload. `setup` is repeated (the run reports the median
  * set-up time) and leaves the data of its last repetition for `measure`,
  * which runs until the deadline on the tracer clock. `report` turns what
  * was measured into metrics and correctness gates; `jobs` is empty in an
  * untraced run.
  */
abstract class Workload(val run: Run) {
  def name: String
  def setup(rep: Int): Unit
  def measure(deadline: Long): Unit
  def report(jobs: Seq[JobRec]): Unit

  protected def spark = run.spark
  protected def tracer = run.tracer
  protected val drain = new DrainStats

  /** One call into the drain: the merge's phase clock is reset before it and
    * read after it, and the call's wall time is returned with its result.
    */
  protected def drainCall[T](name: String, trace: Long)(f: => T): (T, Double) = {
    MergeInto.drainPhaseSeconds()
    val t0 = System.nanoTime()
    val r = tracer.span("drain", name, trace)(f)
    val wall = run.since(t0)
    drain.addPhases(MergeInto.drainPhaseSeconds())
    (r, wall)
  }

  /** Table-layer bookkeeping after commits: time a snapshot load, diff every
    * new version against its parent, and sample the live file counts.
    */
  protected def afterCommits(table: ChronicleTable, fromVersion: Long, trace: Long): Long = {
    val t0 = System.nanoTime()
    val cur = tracer.span("table", "loadCurrent", trace)(table.loadCurrent())
    drain.loadCurrentSec += run.since(t0)
    (fromVersion + 1 to cur.version).foreach(v => drain.diff(table, v - 1, v))
    drain.sampleFiles(cur)
    cur.version
  }

  /** Metrics every workload reports about its drain. */
  protected def reportDrain(jobs: Seq[JobRec], windowSec: Double, root: String): Unit = {
    val d = drain
    val b = math.max(1, d.batches)
    run.metric("events_per_s", d.events / math.max(1e-9, d.callWallSec), "events/s")
    run.metric("commit_p50_s", Stats.median(d.commitSec.toSeq), "s")
    run.metric("drain.batches", d.batches, "count")
    run.metric("drain.busy_frac", d.callWallSec / windowSec, "ratio")
    run.metric("drain.idle_s", math.max(0.0, windowSec - d.callWallSec), "s")
    run.metric("drain.backlog_max_segments", d.backlogMax.toDouble, "count")
    run.metric("drain.events_in", d.events.toDouble, "count")
    run.metric("drain.changes_applied", d.changes.toDouble, "count")
    run.metric("drain.useful_frac", d.changes.toDouble / math.max(1L, d.events), "ratio")
    Seq("prepare" -> "merge.prepare_s", "write" -> "merge.write_s",
      "stats-job" -> "merge.stats_job_s", "commit" -> "merge.commit_s").foreach {
      case (phase, m) => run.metric(m, d.phases(phase) / b, "s")
    }
    run.metric("merge.files_rewritten_per_batch", d.rewritten.toDouble / b, "count")
    run.metric("merge.files_added_per_batch", d.added.toDouble / b, "count")
    run.metric("merge.rows_written_per_change",
      d.rowsWritten.toDouble / math.max(1L, d.lineageChanges), "ratio")
    run.metric("table.load_current_s", Stats.median(d.loadCurrentSec.toSeq), "s")
    def meanOf(f: ((Int, Int, Int)) => Int) =
      if (d.fileSamples.isEmpty) 0.0 else d.fileSamples.map(f).sum.toDouble / d.fileSamples.size
    run.metric("table.files_live", meanOf(_._1), "count")
    run.metric("table.delta_files_live", meanOf(_._2), "count")
    run.metric("table.manifests_live", meanOf(_._3), "count")
    run.metric("table.bytes_written_per_input_byte",
      d.bytesWritten.toDouble / math.max(1L, d.inputBytes), "ratio")
    run.metric("table.metadata_bytes_per_commit",
      d.metadataBytes.toDouble / math.max(1, d.commitsDiffed), "bytes")
    val table = new ChronicleTable(root)
    val live = table.filesOf(table.loadCurrent()).map(_.bytes).sum
    run.metric("table.space_amp", d.sizeOf(root).toDouble / math.max(1L, live), "ratio")
    run.gate("lineage upserts + deletes equal drain.changes_applied",
      d.lineageChanges == d.changes,
      s"lineage ${d.lineageChanges}, drain ${d.changes}")
    if (jobs.nonEmpty) reportSpark(jobs)
  }

  /** Spark counters of the jobs run under drain spans, per batch. */
  private def reportSpark(jobs: Seq[JobRec]): Unit = {
    val spans = tracer.spans
    val drainSpans = spans.filter(s => s.layer == "drain" &&
      run.windows.get(s.role).exists { case (a, z) => s.start >= a && s.end <= z })
    val drainIds = drainSpans.map(_.id).toSet
    val dj = jobs.filter(j => drainIds.contains(j.span) && j.endMs >= 0L)
    val b = math.max(1, drain.batches).toDouble
    run.metric("spark.jobs_per_batch", dj.size / b, "count")
    run.metric("spark.stages_per_batch", dj.map(_.stages).sum / b, "count")
    run.metric("spark.tasks_per_batch", dj.map(_.tasks).sum / b, "count")
    val byParent = dj.groupBy(_.span)
    val gapNs = drainSpans.map { s =>
      Stats.selfTime((s.start, s.end), byParent.getOrElse(s.id, Nil)
        .map(j => (j.submitMs * 1000000L, j.endMs * 1000000L)))
    }.sum
    run.metric("spark.driver_gap_s", gapNs / 1e9 / b, "s")
    val drainWall = drainSpans.map(s => s.end - s.start).sum / 1e9
    run.metric("spark.slot_busy_frac",
      dj.map(_.runMs).sum / 1e3 / math.max(1e-9, drainWall * run.nproc), "ratio")
    val spanIds = spans.map(_.id).toSet
    val inWindow = jobs.filter(j => spanIds.contains(j.span))
    run.metric("spark.job_queue_wait_s",
      if (inWindow.isEmpty) 0.0 else inWindow.map(_.queueWaitMs).sum / 1e3 / inWindow.size, "s")
    run.metric("spark.shuffle_write_bytes", dj.map(_.shuffleWrite).sum / b, "bytes")
    run.metric("spark.shuffle_read_bytes", dj.map(_.shuffleRead).sum / b, "bytes")
    run.metric("spark.spill_bytes", dj.map(_.spill).sum / b, "bytes")
    run.metric("spark.input_bytes", dj.map(_.input).sum / b, "bytes")
    run.metric("spark.output_bytes", dj.map(_.output).sum / b, "bytes")
  }
}

/** What the drain did during the timed part of a run. */
final class DrainStats {
  val commitSec = mutable.ArrayBuffer[Double]()
  val loadCurrentSec = mutable.ArrayBuffer[Double]()
  val phases = mutable.Map[String, Double]().withDefaultValue(0.0)
  /** (live files, live delta files, live manifests) after each commit. */
  val fileSamples = mutable.ArrayBuffer[(Int, Int, Int)]()
  var callWallSec = 0.0
  var batches = 0
  var events = 0L
  var changes = 0L
  var lineageChanges = 0L
  var rowsWritten = 0L
  var rewritten = 0L
  var added = 0L
  var bytesWritten = 0L
  var inputBytes = 0L
  var metadataBytes = 0L
  var commitsDiffed = 0
  var backlogMax = 0L
  /** Set by the workload while its timed part runs; set-up commits are not
    * counted.
    */
  @volatile var timed = false

  def addPhases(m: Map[String, Double]): Unit =
    if (timed) m.foreach { case (k, v) => phases(k) += v }

  def sampleFiles(s: graft.table.Snapshot): Unit =
    if (timed) fileSamples += ((s.numFiles, s.manifestList.map(_.deltaFiles).sum,
      s.manifestList.size))

  /** Account one committed version against its parent: files removed and
    * added, bytes written, metadata written, and the commit's lineage.
    */
  def diff(table: ChronicleTable, parent: Long, version: Long): Unit = if (timed) {
    val a = table.loadVersion(parent)
    val b = table.loadVersion(version)
    val before = table.filesOf(a).map(_.path).toSet
    val after = table.filesOf(b)
    val fresh = after.filterNot(f => before.contains(f.path))
    rewritten += (before -- after.map(_.path)).size
    added += fresh.size
    bytesWritten += fresh.map(f => if (f.bytes > 0L) f.bytes else sizeOf(f.path)).sum
    val oldManifests = a.manifestList.map(_.path).toSet
    metadataBytes += sizeOf(Paths.get(table.root, "meta", f"v$version%09d.json").toString) +
      b.manifestList.map(_.path).filterNot(oldManifests).map(sizeOf).sum
    commitsDiffed += 1
    b.lineage.filterNot(_.source == "compaction").foreach { l =>
      lineageChanges += l.upserts + l.deletes
      rowsWritten += l.rowCount
    }
  }

  def sizeOf(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else if (Files.isRegularFile(p)) Files.size(p)
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }
}
