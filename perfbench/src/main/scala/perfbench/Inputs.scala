package perfbench

import graft.model.Model.ChangeEvent
import graft.source.{BinlogConfig, BinlogGenerator}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import java.nio.charset.StandardCharsets
import java.time.ZoneOffset
import java.time.format.DateTimeFormatter
import java.util.zip.CRC32

/** The harness's JSON codec (the engine keeps its own mapper private). */
object Json {
  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
}

/** Workload inputs, all pure functions of the workload seed: change events
  * come from [[BinlogGenerator.eventAt]], redeliveries from
  * [[BinlogGenerator.isDuplicated]]. The engine sees only the parquet
  * segments and HTTP bodies made here.
  */
object Inputs {

  /** One message set for `IngestServer`: JSON lines in the change-event
    * shape, the CRC32 of the exact body bytes, and an idempotency key.
    */
  case class IntakeSet(index: Int, lsns: Seq[Long], body: Array[Byte],
      crc: Long, batchKey: String)

  private val isoMillis =
    DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").withZone(ZoneOffset.UTC)

  def jsonLine(e: ChangeEvent): String = {
    val o = new java.util.LinkedHashMap[String, Any]()
    o.put("lsn", e.lsn)
    o.put("op", e.op)
    o.put("conv_id", e.conv_id)
    o.put("turn_idx", e.turn_idx)
    o.put("role", e.role)
    o.put("text", e.text)
    o.put("tool", e.tool.orNull)
    o.put("ts", isoMillis.format(e.ts.toInstant))
    Json.mapper.writeValueAsString(o)
  }

  def crc32(body: Array[Byte]): Long = {
    val c = new CRC32()
    c.update(body)
    c.getValue
  }

  def encode(index: Int, events: Seq[ChangeEvent]): IntakeSet = {
    val body = events.map(jsonLine).mkString("", "\n", "\n")
      .getBytes(StandardCharsets.UTF_8)
    IntakeSet(index, events.map(_.lsn), body, crc32(body), s"perfbench#$index")
  }

  /** `count` sets of exactly `setEvents` events each, starting at log
    * position `firstLsn`. Each set opens with the redeliveries of the
    * previous set's events (about `cfg.dupPct`%), then fills up with fresh
    * events in log order, so one POST rolls exactly one segment when the
    * server's `segmentEvents` equals `setEvents`. Returns the sets and the
    * next fresh log position.
    */
  def intakeSets(cfg: BinlogConfig, firstLsn: Long, count: Int,
      setEvents: Int): (Seq[IntakeSet], Long) = {
    val cdf = BinlogGenerator.zipfCdf(cfg.numConversations, cfg.zipfS)
    var next = firstLsn
    var prev: Seq[Long] = Nil
    val sets = (0 until count).map { i =>
      val redelivered = prev.filter(BinlogGenerator.isDuplicated(cfg, _)).take(setEvents / 2)
      val fresh = next until next + (setEvents - redelivered.size)
      next += fresh.size
      prev = fresh
      encode(i, (redelivered ++ fresh).map(BinlogGenerator.eventAt(cfg, cdf, _)))
    }
    (sets, next)
  }

  /** Write log positions [firstLsn, firstLsn + segments * segmentEvents) as
    * parquet segment dirs `segment=K` numbered from `firstSegment`, each
    * event of one segment redelivered into the next with the generator's
    * duplicate rule — the small-segment tail the serve workload's writer
    * applies after the base table's large segments.
    */
  def writeTailSegments(spark: SparkSession, cfg: BinlogConfig, dir: String,
      firstLsn: Long, firstSegment: Int, segments: Int,
      segmentEvents: Int): Unit = {
    import spark.implicits._
    val cdf = spark.sparkContext.broadcast(
      BinlogGenerator.zipfCdf(cfg.numConversations, cfg.zipfS))
    val c = cfg
    spark.range(firstLsn, firstLsn + segments.toLong * segmentEvents).as[Long]
      .flatMap { lsn =>
        val ev = BinlogGenerator.eventAt(c, cdf.value, lsn)
        val seg = ((lsn - firstLsn) / segmentEvents).toInt
        val primary = (firstSegment + seg, ev)
        if (BinlogGenerator.isDuplicated(c, lsn) && seg + 1 < segments)
          Seq(primary, (firstSegment + seg + 1, ev))
        else Seq(primary)
      }
      .toDF("segment", "ev").selectExpr("segment", "ev.*")
      .repartition(math.max(1, spark.sparkContext.defaultParallelism), col("segment"))
      .sortWithinPartitions("segment", "lsn")
      .write.partitionBy("segment").mode("append").parquet(dir)
  }

  /** Deliveries (events including redeliveries) of a
    * [[BinlogGenerator.writeSegments]] log: an event is redelivered into the
    * next segment unless it sits in the last one.
    */
  def bulkDeliveries(cfg: BinlogConfig): Long =
    cfg.numEvents + (0L until cfg.numEvents).count(lsn =>
      BinlogGenerator.isDuplicated(cfg, lsn) &&
        lsn / cfg.segmentSize + 1 < cfg.numSegments)

  /** Deliveries per segment of a [[writeTailSegments]] log. */
  def tailDeliveries(cfg: BinlogConfig, firstLsn: Long, firstSegment: Int,
      segments: Int, segmentEvents: Int): Map[Long, Long] =
    (0 until segments).map { s =>
      val prevDups =
        if (s == 0) 0L
        else (firstLsn + (s - 1L) * segmentEvents until firstLsn + s.toLong * segmentEvents)
          .count(BinlogGenerator.isDuplicated(cfg, _)).toLong
      (firstSegment + s).toLong -> (segmentEvents + prevDups)
    }.toMap
}

/** Open-loop accounting for the intake workload: set `i` is due at
  * `start + i * period`, whenever the publisher manages to send it, and it
  * is visible when a commit's cursor reaches its segment. A stalled drain
  * therefore charges its stall to every set queued behind it.
  */
object OpenLoop {

  def due(start: Long, period: Long, i: Int): Long = start + i * period

  /** Visible time of each of `n` sets, given commits as (return time,
    * cursor segment) in commit order and the segment each set landed in;
    * -1 for a set no commit covered.
    */
  def visibleAt(n: Int, segmentOf: Int => Long,
      commits: Seq[(Long, Long)]): Array[Long] = {
    val out = Array.fill(n)(-1L)
    var i = 0
    commits.foreach { case (t, cursor) =>
      while (i < n && segmentOf(i) <= cursor) { out(i) = t; i += 1 }
    }
    out
  }

  /** Freshness of each set from its due time (-1 when never visible). */
  def freshness(start: Long, period: Long, visible: Array[Long]): Array[Long] =
    visible.zipWithIndex.map { case (v, i) =>
      if (v < 0) -1L else v - due(start, period, i)
    }
}
