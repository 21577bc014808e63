package graft.source

import graft.model.Model.ChangeEvent
import org.apache.spark.sql.{Dataset, SparkSession}

/** Deterministic seeded synthetic binlog (FIXTURES.md §2).
  *
  * Every attribute of event `lsn` is a pure function of (seed, lsn), so the
  * generated log is identical at any parallelism — the determinism the
  * two-cluster-size scaling protocol and the kill-resume equality test
  * depend on (SURVEY.md §7 risk (d)). Conversation choice is Zipf-skewed to
  * model hot conversations (north rule's skew handling target); duplicate
  * events are re-emitted into the following segment to model the
  * reference's at-least-once redelivery window (S3Consumer replays a whole
  * notice on crash, S3Consumer.java:226-290).
  *
  * Replaces the reference's client-side traffic source (SuroClient async
  * batcher, AsyncSuroClient.java:148-222) as the generator of test traffic.
  */
case class BinlogConfig(
    seed: Long = 42L,
    numEvents: Long = 10000L,
    numConversations: Int = 100,
    maxTurns: Int = 16,
    zipfS: Double = 1.2,
    pUpdate: Double = 0.25,
    pDelete: Double = 0.05,
    dupPct: Int = 1,
    evolveAtLsn: Long = Long.MaxValue,
    segmentSize: Long = 1000L,
    /** parquet files per segment dir — sets the read parallelism a consumer
      * sees; a real binlog tail lands as many small files.
      */
    filesPerSegment: Int = 8) {
  def numSegments: Int = ((numEvents + segmentSize - 1) / segmentSize).toInt
}

object BinlogGenerator {

  /** splitmix64 — a public-domain style bit mixer; stable across JVMs. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  private def unit(h: Long): Double = ((h >>> 11).toDouble / (1L << 53).toDouble)

  /** Zipf inverse-CDF table over conversation ids. */
  def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val total = w.sum
    val cdf = new Array[Double](n)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += w(i) / total; cdf(i) = acc; i += 1 }
    cdf(n - 1) = 1.0
    cdf
  }

  /** The event at log position `lsn` — pure in (cfg.seed, lsn). */
  def eventAt(cfg: BinlogConfig, cdf: Array[Double], lsn: Long): ChangeEvent = {
    val h1 = mix(cfg.seed ^ lsn)
    val convRank = {
      val u = unit(h1)
      val idx = java.util.Arrays.binarySearch(cdf, u)
      val pos = if (idx >= 0) idx else -idx - 1
      math.min(pos, cdf.length - 1)
    }
    // Spread hot ranks over id space so lexicographic key ranges stay useful.
    val convId = f"conv-${mix(cfg.seed ^ (convRank + 7919L)).abs % 100000000L}%08d"
    val h2 = mix(h1 ^ 0x51L)
    val turnIdx = (h2.abs % cfg.maxTurns).toInt
    val h3 = mix(h1 ^ 0x52L)
    val uOp = unit(h3)
    val op =
      if (uOp < cfg.pDelete) "D"
      else if (uOp < cfg.pDelete + cfg.pUpdate) "U"
      else "I"
    val h4 = mix(h1 ^ 0x53L)
    val role = (Seq("user", "assistant", "tool", "system"))((h4.abs % 4).toInt)
    val text = s"turn $turnIdx of $convId rev $lsn :: " +
      java.lang.Long.toHexString(mix(h1 ^ 0x54L))
    val tool =
      if (lsn >= cfg.evolveAtLsn && (h4.abs % 3) == 0)
        Some(s"tool-${(mix(h1 ^ 0x55L).abs % 5)}")
      else None
    val ts = new java.sql.Timestamp(1704067200000L + lsn * 1000L)
    ChangeEvent(lsn, op, convId, turnIdx, role, text, tool, ts)
  }

  /** True if event `lsn` is re-delivered (duplicated) into the next segment. */
  def isDuplicated(cfg: BinlogConfig, lsn: Long): Boolean =
    cfg.dupPct > 0 && (mix(cfg.seed ^ lsn ^ 0xDAB1L).abs % 100) < cfg.dupPct

  /** The full log as a Dataset — one row per (possibly duplicated) delivery,
    * with the segment each delivery lands in.
    */
  def deliveries(spark: SparkSession, cfg: BinlogConfig): Dataset[(Int, ChangeEvent)] = {
    import spark.implicits._
    val cdf = zipfCdf(cfg.numConversations, cfg.zipfS)
    val bc = spark.sparkContext.broadcast(cdf)
    spark.range(cfg.numEvents).as[Long].flatMap { lsn =>
      val ev = eventAt(cfg, bc.value, lsn)
      val seg = (lsn / cfg.segmentSize).toInt
      val primary = (seg, ev)
      if (isDuplicated(cfg, lsn) && seg + 1 < cfg.numSegments)
        Seq(primary, (seg + 1, ev))
      else Seq(primary)
    }
  }

  /** Write the log as ordered parquet segment dirs: <dir>/segment=K/...,
    * through [[graft.ops.ForkFreeLocalFileSystem]] (no forked `chmod` per
    * file, as the staged writes).
    */
  def writeSegments(spark: SparkSession, cfg: BinlogConfig, dir: String): Unit = {
    deliveries(spark, cfg)
      .toDF("segment", "ev")
      .selectExpr("segment", "ev.*")
      .repartitionByRange(math.max(1, cfg.numSegments * cfg.filesPerSegment),
        org.apache.spark.sql.functions.col("segment"),
        org.apache.spark.sql.functions.col("lsn"))
      .sortWithinPartitions("segment", "lsn")
      .write.options(graft.ops.ForkFreeLocalFileSystem.writeOptions)
      .partitionBy("segment").mode("overwrite").parquet(dir)
  }

  /** The oracle: an in-memory last-writer-wins fold of the true log
    * (FIXTURES.md §3) — sort by lsn, drop duplicate lsns, apply I/U as
    * upsert and D as delete. Used by tests to assert the engine's final
    * table state row-for-row.
    */
  def referenceReduction(cfg: BinlogConfig): Map[(String, Int), ChangeEvent] = {
    val cdf = zipfCdf(cfg.numConversations, cfg.zipfS)
    val state = scala.collection.mutable.Map[(String, Int), ChangeEvent]()
    var lsn = 0L
    while (lsn < cfg.numEvents) {
      val ev = eventAt(cfg, cdf, lsn)
      if (ev.op == "D") state.remove((ev.conv_id, ev.turn_idx))
      else state((ev.conv_id, ev.turn_idx)) = ev
      lsn += 1
    }
    state.toMap
  }
}
