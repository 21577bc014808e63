package perfbench

import graft.cdc.{CdcPipeline, IngestConfig, IngestServer, PipelineConfig}
import graft.source.{BinlogConfig, BinlogGenerator}
import graft.table.ChronicleTable

import java.net.{HttpURLConnection, URI}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable

/** `intake_tail` — open loop. One publisher thread POSTs pre-encoded
  * JSON-lines sets to `IngestServer` on a fixed schedule, each set rolling
  * exactly one segment; a drain thread tails the same source with
  * `runOnce` into a copy-on-write table about 100 times the size of one
  * segment. This is the live-CDC path: HTTP intake, JSON parse and the
  * per-commit fixed cost (snapshot load, pruning, rewrite of touched files,
  * stats job, manifest and pointer commit, job scheduling).
  */
final class IntakeTail(run: Run) extends Workload(run) {
  val name = "intake_tail"

  val setEvents = 200
  /** 30k base events over 8k conversations (Zipf s=0.8) leave about 20k
    * live rows, about 100 times one set.
    */
  val baseEvents = 30000L
  val baseSegments = 1
  val buckets = 8
  /** One set every `periodMs`; chosen so the drain is busy about half to
    * two thirds of the time on the seed tree (see README.md).
    */
  val periodMs = 2500L
  /** A set counts as a miss when it is not visible this long after it was
    * due (or is refused, or never becomes visible).
    */
  val freshnessLimitSec = 5.0
  val warmSets = 1
  /** After the last due set the drain gets this long to make it visible. */
  val graceSec = 30.0

  val cfg = BinlogConfig(seed = run.seed, numEvents = baseEvents,
    numConversations = 8000, zipfS = 0.8, pUpdate = 0.25, pDelete = 0.05,
    dupPct = 1, segmentSize = baseEvents / baseSegments, filesPerSegment = 4)

  /** Sets due inside the timed part: at 0, period, 2 period, ... < seconds. */
  private val timedSets = ((run.seconds * 1000L + periodMs - 1) / periodMs).toInt
  private var sets: Seq[Inputs.IntakeSet] = Nil
  private var src: String = _
  private var root: String = _
  private var server: IngestServer = _
  private var pipe: CdcPipeline = _
  private var version = 0L

  // timed-part records
  private val posts = mutable.ArrayBuffer[(Long, Double, Int)]() // (lag ns, post s, code)
  private val commits = mutable.ArrayBuffer[(Long, Long)]() // (return time, cursor)
  private var start = 0L
  private var sent = 0

  run.sizes ++= Seq("set_events" -> setEvents, "base_events" -> baseEvents,
    "period_ms" -> periodMs, "sets_due" -> timedSets,
    "freshness_limit_s" -> freshnessLimitSec, "buckets" -> buckets)

  def setup(rep: Int): Unit = {
    if (server != null) server.stop()
    src = run.fresh("intake-src")
    root = run.fresh("intake-table")
    BinlogGenerator.writeSegments(spark, cfg, src)
    sets = Inputs.intakeSets(cfg, baseEvents, warmSets + timedSets, setEvents)._1
    new CdcPipeline(PipelineConfig(src, root, segmentsPerBatch = 1, numBuckets = buckets))
      .runAllPipelined(spark)
    server = IngestServer.start(IngestConfig(src, segmentEvents = setEvents), port = 0)
    pipe = new CdcPipeline(PipelineConfig(src, root, segmentsPerBatch = 4, numBuckets = buckets))
    (0 until warmSets).foreach { i =>
      post(sets(i))
      pipe.runOnce(spark)
    }
    version = pipe.table.loadCurrent().version
  }

  /** POST one set; returns (HTTP code, rolled segment or -1). */
  private def post(s: Inputs.IntakeSet): (Int, Long) = {
    val conn = URI.create(s"http://127.0.0.1:${server.port}/ingest").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    try {
      conn.setConnectTimeout(10000)
      conn.setReadTimeout(60000)
      conn.setRequestMethod("POST")
      conn.setRequestProperty("X-Graft-Crc32", s.crc.toString)
      conn.setRequestProperty("X-Graft-Batch", s.batchKey)
      conn.setDoOutput(true)
      conn.getOutputStream.write(s.body)
      val code = conn.getResponseCode
      val in = if (code >= 400) conn.getErrorStream else conn.getInputStream
      val resp = Json.mapper.readTree(in.readAllBytes())
      (code, if (code == 200) resp.path("rolledSegment").asLong(-1L) else -1L)
    } finally conn.disconnect()
  }

  private def segmentOf(timedIndex: Int): Long = baseSegments + warmSets + timedIndex

  def measure(deadline: Long): Unit = {
    val period = periodMs * 1000000L
    start = tracer.now() + 20000000L
    val n = math.max(1, ((deadline - start) / period).toInt + 1).min(timedSets)
    val published = new AtomicLong(segmentOf(-1))
    val publisherDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val publisher = new Thread(() => {
      try (0 until n).foreach { j =>
        val due = OpenLoop.due(start, period, j)
        while (tracer.now() < due) LockSupport.parkNanos(math.max(0L, due - tracer.now()))
        val sent = tracer.now()
        val t0 = System.nanoTime()
        val (code, rolled) =
          try tracer.span("intake", "post", j)(post(sets(warmSets + j)))
          catch { case _: java.io.IOException => (-1, -1L) }
        posts.synchronized(posts += ((sent - due, run.since(t0), code)))
        run.op(code == 200 && rolled == segmentOf(j))
        if (rolled >= 0L) published.set(rolled)
      } finally publisherDone.set(true)
    }, "publisher")
    Thread.currentThread.setName("drain")
    drain.timed = true
    publisher.start()
    var cursor = segmentOf(-1)
    val giveUp = OpenLoop.due(start, period, n - 1) + (graceSec * 1e9).toLong
    var batch = 0L
    while (!(publisherDone.get && cursor >= published.get) && tracer.now() < giveUp) {
      if (published.get > cursor) {
        drain.backlogMax = math.max(drain.backlogMax, published.get - cursor)
        batch += 1
        val (r, wall) =
          try drainCall("runOnce", batch)(pipe.runOnce(spark))
          catch { case t: Throwable => run.op(false); throw t }
        r.foreach { m =>
          val now = tracer.now()
          val next = m.snapshot.cursors.getOrElse(pipe.cfg.sourceId, cursor)
          commits += ((now, next))
          drain.commitSec += wall
          drain.callWallSec += wall
          drain.batches += 1
          drain.events += (next - cursor) * setEvents
          drain.changes += m.upserts + m.deletes
          drain.inputBytes += (cursor + 1 to next)
            .map(s => drain.sizeOf(s"$src/segment=$s")).sum
          run.op(true)
          cursor = next
          version = afterCommits(pipe.table, version, batch)
        }
      } else LockSupport.parkNanos(2000000L)
    }
    val end = tracer.now()
    publisher.join()
    drain.timed = false
    run.window("drain", start, end)
    run.window("publisher", start, end)
    sent = n
    run.sizes("sets_sent") = n
  }

  def report(jobs: Seq[JobRec]): Unit = {
    val n = sent
    val period = periodMs * 1000000L
    val visible = OpenLoop.visibleAt(n, segmentOf, commits.toSeq)
    val fresh = OpenLoop.freshness(start, period, visible)
    val seen = fresh.filter(_ >= 0L).map(_ / 1e9).toSeq
    val refused = posts.count(_._3 != 200)
    run.metric("freshness_p50_s", Stats.median(seen), "s")
    run.metric("latency_p50_s", Stats.median(seen), "s")
    run.tail("freshness_tail_s", seen)
    run.metric("freshness_miss_frac",
      fresh.count(f => f < 0L || f / 1e9 > freshnessLimitSec).toDouble / n, "ratio")
    val (a, z) = run.windows("drain")
    reportDrain(jobs, (z - a) / 1e9, root)
    run.tail("commit_tail_s", drain.commitSec.toSeq)
    run.metric("intake.post_p50_s", Stats.median(posts.map(_._2).toSeq), "s")
    run.metric("intake.sets_refused", refused, "count")
    run.metric("intake.send_lag_p50_s", Stats.median(posts.map(_._1 / 1e9).toSeq), "s")
    run.metric("intake.send_lag_max_s", posts.map(_._1 / 1e9).max, "s")
    server.stop()
    val fedThrough = sets.take(warmSets + n).flatMap(_.lsns).max + 1
    run.gate("every set was accepted and became visible",
      refused == 0 && visible.forall(_ >= 0L),
      s"$refused refused, ${visible.count(_ < 0L)} never visible of $n")
    run.stateGate(pipe.table,
      BinlogGenerator.referenceReduction(cfg.copy(numEvents = fedThrough)))
  }
}
