package graft.cdc

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryManager}
import org.apache.spark.sql.types._

import java.nio.file.{Files, Paths, StandardOpenOption}

/** One operational metrics record per change commit — the engine's
  * live-stats surface. The reference exposes per-sink rates and health
  * over REST (`/surosinkstat`: SinkStat.java:29-41,
  * StatusServer.java:46-56, backed by Servo meters, QueuedSink.java:45);
  * here the same numbers land as an append-only JSONL ledger next to the
  * table, queryable as a DataFrame alongside lineage. Writes are
  * driver-side appends of one small line per commit — never a Spark job.
  * [[graft.ops.MergeInto]] writes every commit's line: `source` is the
  * batch key's prefix (without a stream epoch's `-ss`), `epoch` the
  * committed version. A `stream-progress` line names the query and its
  * batch id instead.
  */
case class MetricEvent(
    source: String,
    epoch: Long,
    tsMs: Long,
    rows: Long,
    sec: Double,
    upserts: Long,
    deletes: Long,
    mode: String)

object Metrics {

  private val mapper: ObjectMapper = {
    val m = new ObjectMapper()
    m.registerModule(DefaultScalaModule)
    m
  }

  val schema: StructType = StructType(Seq(
    StructField("source", StringType), StructField("epoch", LongType),
    StructField("tsMs", LongType), StructField("rows", LongType),
    StructField("sec", DoubleType), StructField("upserts", LongType),
    StructField("deletes", LongType), StructField("mode", StringType)))

  def file(dir: String): java.nio.file.Path = Paths.get(dir, "events.jsonl")

  private def append(dir: String, e: MetricEvent): Unit = synchronized {
    val p = file(dir)
    if (!Files.exists(p.getParent)) Files.createDirectories(p.getParent)
    Files.writeString(p, mapper.writeValueAsString(e) + "\n",
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** Appends one change commit's line under `<tableRoot>/metrics`. */
  def record(tableRoot: String, source: String, r: graft.ops.MergeResult,
      mode: String): Unit =
    append(s"$tableRoot/metrics", MetricEvent(source, r.snapshot.version,
      System.currentTimeMillis(), r.upserts + r.deletes, r.sec, r.upserts,
      r.deletes, mode))

  /** The metrics ledger as a DataFrame (explicit schema — no inference scan). */
  def view(spark: SparkSession, dir: String): DataFrame =
    if (!Files.exists(file(dir)))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.schema(schema).json(file(dir).toString)

  /** Per-mode summary of recent ledger events (see [[recentRates]]). */
  case class RateSummary(
      batches: Int, rows: Long, rowsPerSec: Option[Double], lastTsMs: Long)

  /** Driver-side fold of the ledger TAIL: per-mode rates over the last
    * `lastK` events of each mode, reading only the final `maxTailBytes`
    * of the file. The ledger grows one line per applied batch forever, so
    * a status poll must cost O(tail), not O(all batches ever) — a
    * monitoring system polls this every few seconds against a drain that
    * may have applied millions of micro-batches. A mode whose last event
    * fell out of the tail window is simply absent (it is not "recent").
    * The HTTP status surface ([[StatusServer]]) and `RunCdc stats` serve
    * exactly this fold.
    */
  def recentRates(dir: String, lastK: Int = 20,
      maxTailBytes: Int = 1 << 20): Map[String, RateSummary] = {
    val p = file(dir)
    if (!Files.exists(p)) return Map.empty
    val size = Files.size(p)
    val start = math.max(0L, size - maxTailBytes)
    val bytes = {
      val ch = java.nio.channels.FileChannel.open(p,
        StandardOpenOption.READ)
      try {
        val buf = java.nio.ByteBuffer.allocate((size - start).toInt)
        ch.position(start)
        while (buf.hasRemaining && ch.read(buf) >= 0) {}
        buf.array()
      } finally ch.close()
    }
    val text = new String(bytes, java.nio.charset.StandardCharsets.UTF_8)
    val lines0 = text.split('\n').iterator.filter(_.nonEmpty).toSeq
    // a mid-file start lands inside a line: drop the partial first one
    val lines = if (start > 0) lines0.drop(1) else lines0
    val events = lines.flatMap { l =>
      try Some(mapper.readValue(l, classOf[MetricEvent]))
      catch { case _: Exception => None } // torn concurrent append: skip
    }
    events.groupBy(_.mode).map { case (mode, es) =>
      val recent = es.sortBy(e => (-e.tsMs, -e.epoch)).take(lastK)
      val rows = recent.map(_.rows).sum
      val sec = recent.map(_.sec).sum
      mode -> RateSummary(recent.size, rows,
        if (sec > 0) Some(math.round(rows / sec * 10.0) / 10.0) else None,
        recent.map(_.tsMs).max)
    }
  }

  /** StreamingQueryListener recording one metrics line per progress event
    * of ONE query run — the Structured Streaming half of the surface (each
    * epoch's merge records its own commit line). It binds to the first
    * run named `queryName` that starts after it is added (Spark delivers
    * start events synchronously), so no other run of that name writes to
    * `dir`, and leaves `streams` when its run terminates.
    */
  class EpochListener(queryName: String, dir: String,
      streams: StreamingQueryManager) extends StreamingQueryListener {
    @volatile private var runId: java.util.UUID = _
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      synchronized { if (runId == null && e.name == queryName) runId = e.runId }
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.runId == runId) {
        val sec = Option(e.progress.durationMs.get("triggerExecution"))
          .map(_.toDouble / 1000).getOrElse(0.0)
        append(dir, MetricEvent(queryName, e.progress.batchId,
          System.currentTimeMillis(), e.progress.numInputRows, sec,
          -1L, -1L, "stream-progress"))
      }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      if (e.runId == runId) streams.removeListener(this)
  }
}
