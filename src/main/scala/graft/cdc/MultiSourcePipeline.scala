package graft.cdc

import graft.table.ChronicleTable
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Multi-source intake with HOT-ADD/REMOVE: N binlog sources feeding ONE
  * ChronicleTable, the source SET re-read from a JSON file before every
  * drain cycle — the reference's `InputManager.set`
  * (InputManager.java:36-56): a config push adds or removes inputs on a
  * RUNNING server, existing inputs keep their positions, without restart.
  * The sink-side twin is [[MultiSinkPipeline]]'s `routesFile`.
  *
  * No new exactly-once machinery is needed — the table already keeps
  * everything per source: consumption cursors (`sourceCursors` keyed by
  * sourceId), ledger floors and high-water marks (batch-key prefixes), so
  * hot semantics are pure composition:
  *
  *  - ADD: a new entry starts a per-source drain from its own cursor
  *    (none yet → the whole source backfills; its batch keys are
  *    source-prefixed, nothing collides with live sources);
  *  - REMOVE: the entry simply stops being driven — its cursor and marks
  *    freeze in the snapshot (no data is touched);
  *  - RE-ADD: the same sourceId resumes from the frozen cursor; segments
  *    that arrived while it was out drain now, segments already applied
  *    skip via the ledger.
  *
  * Sources file: a JSON array `[{"id": "srcA", "dir": "/path"}, …]`.
  * Ids must be distinct (each is a ledger/cursor namespace); an id whose
  * `dir` CHANGES between reloads is rejected — pointing an existing
  * cursor at a different segment numbering would silently skip or replay
  * (give the new feed a new id instead).
  */
class MultiSourcePipeline(val tableRoot: String, val sourcesFile: String,
    val segmentsPerBatch: Int = 4, val numBuckets: Int = 16,
    val mergeOnRead: Boolean = false) {

  /** The source set in force right now (re-parsed per drain cycle — one
    * tiny driver-side read, the same discipline as the routes hot-swap).
    */
  def currentSources(): Seq[(String, String)] = {
    val p = Paths.get(sourcesFile)
    if (!Files.exists(p)) return Nil
    val json = Files.readString(p).trim
    if (json.isEmpty) return Nil
    val arr = ChronicleTable.mapper.readTree(json)
    require(arr.isArray, s"$sourcesFile must hold a JSON array of {id, dir}")
    val srcs = arr.elements().asScala.map { n =>
      require(n.has("id") && n.has("dir"),
        s"every source entry needs id and dir, got $n")
      (n.get("id").asText(), n.get("dir").asText())
    }.toSeq
    require(srcs.map(_._1).distinct.size == srcs.size,
      s"duplicate source ids in $sourcesFile — each id is a cursor/ledger " +
        "namespace")
    srcs
  }

  // Per-source drains are cached by id and PINNED to their first dir: a
  // re-pointed id would reuse a cursor against a different segment
  // numbering (silent skip/replay) — refuse instead.
  private val drains =
    new java.util.concurrent.ConcurrentHashMap[String, CdcPipeline]()

  private def drainFor(id: String, dir: String): CdcPipeline = {
    val p = drains.computeIfAbsent(id, _ => new CdcPipeline(PipelineConfig(
      dir, tableRoot, sourceId = id, segmentsPerBatch = segmentsPerBatch,
      numBuckets = numBuckets, mergeOnRead = mergeOnRead)))
    require(p.cfg.sourceDir == dir,
      s"source $id re-pointed from ${p.cfg.sourceDir} to $dir — an existing " +
        "cursor must not be replayed against a different feed; use a new id")
    p
  }

  def table: ChronicleTable = new ChronicleTable(tableRoot)

  /** One drain CYCLE: reload the source set, then apply AT MOST ONE batch
    * per current source (round-robin fairness — a deep backlog on one
    * source cannot starve the others, the reference's per-input consumer
    * threads). Returns batches applied (0 = every current source is
    * caught up).
    */
  def runOnce(spark: SparkSession): Int =
    currentSources().map { case (id, dir) =>
      drainFor(id, dir).runAll(spark, maxBatches = 1)
    }.sum

  /** Drain until every CURRENT source is caught up (the set is re-read
    * each cycle, so sources added mid-drain join the rotation and removed
    * ones leave it). Returns total batches applied.
    */
  def runAll(spark: SparkSession, maxCycles: Int = Int.MaxValue): Int = {
    var total = 0
    var cycles = 0
    var applied = -1
    while (applied != 0 && cycles < maxCycles) {
      applied = runOnce(spark)
      total += applied
      cycles += 1
    }
    total
  }
}
