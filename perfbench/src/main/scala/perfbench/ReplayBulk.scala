package perfbench

import graft.cdc.{CdcPipeline, Metrics, PipelineConfig}
import graft.source.{BinlogConfig, BinlogGenerator}
import graft.table.ChronicleTable

import scala.jdk.CollectionConverters._

/** `replay_bulk` — closed loop. The timed part repeats one pipelined drain
  * of a pre-generated parquet binlog, cut into a few large segments, into a
  * fresh empty copy-on-write table, until the run's time is up. Dedup and
  * the sorted staged write carry nearly all the work, so this workload
  * shows shuffle, dedup and write gains and should not move for per-commit
  * fixed-cost changes.
  */
final class ReplayBulk(run: Run) extends Workload(run) {
  val name = "replay_bulk"

  /** Zipf s=1.2 keys over 20k conversations (about 40k live keys), 25%
    * updates, 5% deletes, 1% redeliveries, the `tool` column appearing
    * halfway. 200k events in 4 segments drain in about three seconds on a
    * 4-core host, so one run repeats the drain a few times.
    */
  val events = 200000L
  val segments = 4
  val buckets = 16
  val cfg = BinlogConfig(seed = run.seed, numEvents = events,
    numConversations = 20000, zipfS = 1.2, pUpdate = 0.25, pDelete = 0.05,
    dupPct = 1, evolveAtLsn = events / 2, segmentSize = events / segments,
    filesPerSegment = 4)

  private val src = run.fresh("replay-binlog")
  private lazy val deliveries = Inputs.bulkDeliveries(cfg)
  private var lastTable: String = _
  private var drains = 0
  private val drainWalls = scala.collection.mutable.ArrayBuffer[Double]()

  run.sizes ++= Seq("events" -> events, "segments" -> segments,
    "conversations" -> cfg.numConversations, "zipf_s" -> cfg.zipfS, "buckets" -> buckets)

  def setup(rep: Int): Unit = {
    BinlogGenerator.writeSegments(spark, cfg, src)
    run.delete(drainOnce())
  }

  private def drainOnce(): String = {
    val root = run.fresh("replay-table")
    val p = new CdcPipeline(PipelineConfig(src, root, segmentsPerBatch = 1,
      numBuckets = buckets, recordMetrics = true))
    drains += 1
    val (n, wall) = drainCall("runAllPipelined", drains)(p.runAllPipelined(spark))
    if (drain.timed) {
      drainWalls += wall
      run.op(true)
      drain.callWallSec += wall
      drain.batches += n
      drain.events += deliveries
      val ledger = java.nio.file.Files.readAllLines(Metrics.file(p.metricsDir)).asScala
        .filter(_.trim.nonEmpty).map(Json.mapper.readTree(_))
      drain.commitSec ++= ledger.map(_.get("sec").asDouble)
      drain.changes += ledger.map(_.get("rows").asLong).sum
      drain.inputBytes += drain.sizeOf(src)
      drain.backlogMax = math.max(drain.backlogMax, segments.toLong)
      afterCommits(p.table, 0L, drains)
    }
    root
  }

  def measure(deadline: Long): Unit = {
    Thread.currentThread.setName("drain")
    drain.timed = true
    val start = tracer.now()
    do {
      val root = drainOnce()
      if (lastTable != null) run.delete(lastTable)
      lastTable = root
    } while (tracer.now() < deadline)
    drain.timed = false
    run.window("drain", start, tracer.now())
  }

  def report(jobs: Seq[JobRec]): Unit = {
    val (a, z) = run.windows("drain")
    run.metric("latency_p50_s", Stats.median(drainWalls.toSeq), "s")
    reportDrain(jobs, (z - a) / 1e9, lastTable)
    run.tail("commit_tail_s", drain.commitSec.toSeq)
    run.note(s"${drainWalls.size} timed drains of $deliveries deliveries each")
    run.stateGate(new ChronicleTable(lastTable), BinlogGenerator.referenceReduction(cfg))
  }
}
