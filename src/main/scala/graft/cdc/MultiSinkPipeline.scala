package graft.cdc

import graft.dsl.FilterDsl
import graft.model.Model
import graft.ops.{MergeInto, MergeResult}
import graft.routing.RouteConfig
import graft.table.ChronicleTable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Multi-sink CDC fan-out: ONE change-event source feeding N independent
  * ChronicleTables, each with its own route filter, batch ledger, cursor and
  * lineage — suro's core semantic of one input fanning out to every matching
  * route's sink (MessageRouter.java:60-102; Route{sink,filter,alias} at
  * RoutingMap.java:40-132), where each sink drains independently.
  *
  * Exactly-once per sink: the batch is identified by its SEGMENT RANGE
  * (deterministic on replay), so after a crash that left some sinks
  * committed and others not, the replayed batch is skipped by the sinks
  * that already hold its batchKey and applied by the rest — convergence
  * without cross-sink coordination. The global resume point is the MINIMUM
  * cursor across sinks (the slowest sink's position).
  *
  * One source scan per batch: the micro-batch is persisted before the
  * per-route filters run, so N sink merges read the cache, not the source
  * (the reference drains one queue per sink from a shared router thread,
  * QueuedSink.java:96-153 — same single-read discipline).
  *
  * Routes must target distinct sinks (one merge per sink). An event
  * matching several routes lands in each matching sink; an event matching
  * none lands in the mandatory default sink
  * (DynamicPropertySinkConfigurator.java:54-56 enforces `default`).
  */
class MultiSinkPipeline(val cfg: PipelineConfig, val routes: Seq[RouteConfig],
    val defaultSink: String = "default",
    /** When set, the route list is RE-READ from this JSON file (the
      * [[graft.routing.Router.parseRoutes]] shape) before every batch/epoch,
      * so editing it adds or removes sinks without a restart — the
      * reference's dynamic-property sink hot-swap (SinkManager.set,
      * SinkManager.java:57-83, InputManager.java:36-56). A removed sink's
      * table stays on disk (re-adding it resumes from its own cursor); the
      * constructor `routes` serve as the fallback when the file is absent
      * or empty.
      */
    val routesFile: Option[String] = None,
    /** Cursor policy for a sink added mid-drain: `true` replays the whole
      * source through it (existing sinks skip every replayed batchKey via
      * their ledgers, so they only pay the re-scan); `false` starts it at
      * the current global cursor — the reference's live hot-add semantics
      * (a new sink sees only traffic from now on).
      */
    val backfillNewSinks: Boolean = true) {

  private def validate(rs: Seq[RouteConfig]): Seq[RouteConfig] = {
    require(rs.map(_.sink).distinct.size == rs.size,
      "routes must target distinct sinks (one route per sink)")
    require(!rs.exists(_.sink == defaultSink),
      s"'$defaultSink' is the implicit no-match sink; don't route to it explicitly")
    rs
  }
  validate(routes)

  /** The route set in force right now: the hot-reload file when present
    * (re-parsed on every call — one tiny driver-side read per batch, same
    * discipline as the route-filter hot-swap, CdcPipeline.route), else the
    * constructor routes.
    */
  def currentRoutes(): Seq[RouteConfig] = routesFile match {
    case Some(f) if java.nio.file.Files.exists(java.nio.file.Paths.get(f)) =>
      val json = java.nio.file.Files.readString(java.nio.file.Paths.get(f)).trim
      if (json.isEmpty) routes
      else validate(graft.routing.Router.parseRoutes(json))
    case _ => routes
  }

  /** The single-sink pipeline machinery is reused per sink; this shell
    * pipeline provides segment listing only.
    */
  private val shell = new CdcPipeline(cfg)

  /** Sinks of the route set in force now (dynamic under [[routesFile]]). */
  def sinkNames: Seq[String] = currentRoutes().map(_.sink) :+ defaultSink

  // Lazily-created handles: sinks can appear mid-drain, and a removed
  // sink's handle (and table) stays — only the route set is dynamic.
  private val tables =
    new java.util.concurrent.ConcurrentHashMap[String, ChronicleTable]()

  def sinkTable(name: String): ChronicleTable =
    tables.computeIfAbsent(name,
      s => new ChronicleTable(s"${cfg.tableRoot}/sinks/$s"))

  private def ensureTables(names: Seq[String]): Unit = names.foreach { s =>
    val t = sinkTable(s)
    if (!t.exists) t.create(Model.physicalSchemaV1, cfg.numBuckets)
    else Chain.requireNotChainFed(t, s"a multi-sink drain (sink $s)")
  }

  def ensureTables(): Unit = ensureTables(sinkNames)

  /** Compiled null-safe predicate per route; default = matches no route. */
  private def compiledFrom(rs: Seq[RouteConfig]): Seq[(RouteConfig, Column)] =
    rs.map { r =>
      r -> coalesce(r.filter.map(FilterDsl.compile).getOrElse(lit(true)), lit(false))
    }

  /** A route alias here labels the rows, it does NOT rewrite the key: the
    * sink MERGE dedups on (conv_id, turn_idx), so overwriting conv_id (the
    * reference's routing-key rewrite, MessageRouter.java:85-88 — lossless
    * there because its sinks are append-only) would collapse every
    * conversation in the sink to one key per turn_idx and silently drop
    * rows. The alias instead lands in a `route_alias` column, added to the
    * sink's schema by the normal evolution path — downstream readers see
    * which route produced each row, and the raw-parquet fan-out surfaces
    * ([[graft.routing.Router.fanout]]/`fanoutWrite`) keep the reference's
    * key-rewrite semantics where they are lossless.
    */
  private def aliased(df: DataFrame, r: RouteConfig): DataFrame = r.alias match {
    case Some(a) => df.withColumn("route_alias", lit(a))
    case None => df
  }

  /** Slowest sink's consumed-segment cursor = the global resume point.
    * A sink with no cursor yet (just created) counts as -1 under backfill
    * (drag the drain back to the start; ledger-skip heals existing sinks)
    * and is IGNORED otherwise (it adopts the current position at its first
    * applied batch).
    */
  def consumedSegment(names: Seq[String]): Long = {
    val cursors = names.map(s =>
      sinkTable(s).loadCurrent().cursors.get(cfg.sourceId))
    val effective = cursors.map {
      case Some(c) => c
      case None => if (backfillNewSinks) -1L else Long.MaxValue
    }
    val m = if (effective.isEmpty) -1L else effective.min
    if (m == Long.MaxValue) -1L else m
  }

  def consumedSegment(): Long = consumedSegment(sinkNames)

  /** Fan one batch out to every sink of the route set `rs` — each route's
    * matches to its sink, the no-match rest to the default sink — and
    * apply the sink merges CONCURRENTLY (at most 4 at a time). The batch
    * is persisted first, so N sink merges read the cache, not the source.
    * The sink tables are disjoint, each merge is an independent Spark job
    * graph (Spark schedules concurrent jobs from one session fairly), and
    * the per-sink batchKey ledger already makes any interleaving of
    * commits crash-consistent — so per-batch wall-clock is max(sink
    * merge), not sum. This is the reference's concurrent per-sink queue
    * drain (QueuedSink.java:96-153: every sink's writer thread drains
    * while the router keeps feeding).
    */
  private def fanOut(batch: DataFrame, rs: Seq[RouteConfig], batchKey: String,
      source: String, orderedSource: Boolean,
      cursor: Option[(String, Long)]): Seq[(String, MergeResult)] = {
    batch.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val preds = compiledFrom(rs)
      val noneMatched = preds.map { case (_, p) => !p }
        .reduceOption(_ && _).getOrElse(lit(true))
      val sinks = preds.map { case (r, pred) =>
        r.sink -> aliased(batch.filter(pred), r)
      } :+ (defaultSink -> batch.filter(noneMatched))
      applyAll(sinks.map { case (sink, rows) =>
        sink -> (() => MergeInto(batch.sparkSession, sinkTable(sink), rows,
          batchKey, source = source,
          orderedSource = orderedSource, cursor = cursor,
          mergeOnRead = cfg.mergeOnRead,
          mode = if (orderedSource) "multisink" else "multisink-stream"))
      })
    } finally batch.unpersist()
  }

  private def applyAll(work: Seq[(String, () => MergeResult)]): Seq[(String, MergeResult)] = {
    if (work.size == 1) return work.map { case (s, f) => s -> f() }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(4, work.size))
    try {
      val futures = work.map { case (s, f) =>
        s -> pool.submit(new java.util.concurrent.Callable[MergeResult] {
          def call(): MergeResult = f()
        })
      }
      // await ALL before propagating a failure: sinks that committed stay
      // committed (their ledger skips the replay); the failed sink retries
      // the same deterministic batchKey on the next drive
      val results = futures.map { case (s, fut) =>
        s -> (try Right(fut.get()) catch {
          case e: java.util.concurrent.ExecutionException => Left(e.getCause)
        })
      }
      results.collectFirst { case (_, Left(t)) => t }.foreach(t => throw t)
      results.collect { case (s, Right(r)) => s -> r }
    } finally pool.shutdown()
  }

  def runOnce(spark: SparkSession): Option[Seq[(String, MergeResult)]] = {
    // same disk guard as the single-sink drain: pause intake at the batch
    // boundary when the sinks' filesystem runs short
    if (shell.diskFull()) return None
    // one route snapshot governs the whole batch (hot-reload boundary)
    val rs = currentRoutes()
    val names = rs.map(_.sink) :+ defaultSink
    ensureTables(names)
    val cursor = consumedSegment(names)
    val slice = shell.listSegments().filter(s => shell.segNum(s) > cursor)
      .take(cfg.segmentsPerBatch)
    if (slice.isEmpty) return None

    // deterministic on replay: the batch IS its segment range
    val batchKey =
      s"${cfg.sourceId}#${shell.segNum(slice.head)}-${shell.segNum(slice.last)}"
    Some(fanOut(shell.readBatch(spark, slice), rs, batchKey,
      source = slice.mkString(","), orderedSource = true,
      cursor = Some(cfg.sourceId -> shell.segNum(slice.last))))
  }

  /** Drain all pending segments. Returns number of batches processed. */
  def runAll(spark: SparkSession, maxBatches: Int = Int.MaxValue): Int = {
    var n = 0
    while (n < maxBatches && runOnce(spark).isDefined) n += 1
    n
  }

  /** Structured Streaming variant: Spark's file source tracks offsets in
    * its checkpoint; each epoch fans out (persisted — one source read) to
    * every sink's idempotent MERGE. A replayed epoch after restart is
    * skipped per sink by its own batchKey ledger, so the crash window
    * where only SOME sinks committed an epoch heals exactly like the batch
    * path. Unordered epochs -> tombstone/LSN-guard merge mode.
    */
  def startStream(spark: SparkSession, checkpointDir: String,
      maxFilesPerTrigger: Int = 8): org.apache.spark.sql.streaming.StreamingQuery = {
    ensureTables()
    shell.changeStream(spark, maxFilesPerTrigger).writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        // per-epoch route snapshot: sink hot-add/remove reaches the stream
        // without a restart (a sink added mid-stream sees traffic from its
        // first epoch; Spark's checkpoint governs the source cursor here,
        // so backfillNewSinks applies only to the batch drain)
        val rs = currentRoutes()
        ensureTables(rs.map(_.sink) :+ defaultSink)
        fanOut(batch, rs, s"${cfg.sourceId}-ss#$id",
          source = s"stream-epoch-$id", orderedSource = false, cursor = None)
        ()
      }
      .start()
  }

  /** Final visible state of one sink, stable turn order. */
  def sinkState(spark: SparkSession, sink: String): DataFrame =
    sinkTable(sink).read(spark)
      .filter(!col(Model.deletedColumn))
      .drop(Model.systemColumns: _*)
      .orderBy("conv_id", "turn_idx")
}
