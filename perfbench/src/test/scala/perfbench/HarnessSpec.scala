package perfbench

import graft.cdc.{CdcPipeline, IngestConfig, IngestServer, PipelineConfig}
import graft.source.{BinlogConfig, BinlogGenerator}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.net.{HttpURLConnection, URI}
import java.nio.file.Files

/** Self-tests of the benchmark harness: the statistics it reports and the
  * inputs it feeds the engine.
  */
class HarnessSpec extends AnyFunSuite {

  test("tail percentile: the highest one with at least ten samples beyond it") {
    assert(Stats.tailPercentile(19).isEmpty)
    assert(Stats.tailPercentile(20).contains(50))
    assert(Stats.tailPercentile(30).contains(66))
    assert(Stats.tailPercentile(100).contains(90))
    assert(Stats.tailPercentile(1000).contains(99))
    for (n <- 20 to 400; p <- Stats.tailPercentile(n)) {
      assert(Stats.beyond(n, p) >= 10, s"n=$n p=$p")
      if (p < 99) assert(Stats.beyond(n, p + 1) < 10, s"n=$n p=${p + 1}")
    }
    val xs = (1 to 30).map(_.toDouble)
    assert(Stats.percentile(xs, 66) == 20.0)
    assert(Stats.median(xs) == 15.0)
  }

  test("self time is the span minus the union of its children") {
    // children overlap each other and one runs past the span's end
    assert(Stats.selfTime((0L, 100L), Seq((10L, 30L), (20L, 40L), (90L, 120L))) == 60L)
    assert(Stats.selfTime((0L, 100L), Nil) == 100L)
    assert(Stats.unionLength(Seq((0L, 10L), (5L, 15L), (20L, 25L), (30L, 30L))) == 20L)
  }

  test("layer report: self times plus idle time add up to the role windows") {
    val ms = 1000000L
    val spans = Seq(
      Span(1, 0, 1, "drain", "runOnce", "drain", 10 * ms, 60 * ms),
      Span(2, 1, 1, "table", "loadCurrent", "drain", 12 * ms, 14 * ms),
      Span(3, 0, 2, "intake", "post", "publisher", 0, 5 * ms))
    val job = (id: Int, a: Long, b: Long) => {
      val j = new JobRec(id, 1L, a)
      j.endMs = b
      j
    }
    // two concurrent jobs under the drain span count once
    val r = LayerReport(spans, Seq(job(1, 20, 40), job(2, 30, 50)),
      Map("drain" -> (0L, 100 * ms), "publisher" -> (0L, 100 * ms)))
    val self = r.rows.map(x => x.layer -> x.selfSec).toMap
    assert(math.abs(self("spark") - 0.030) < 1e-9)
    assert(math.abs(self("drain") - 0.018) < 1e-9)
    assert(math.abs(self("table") - 0.002) < 1e-9)
    assert(math.abs(r.idleSec("drain") - 0.050) < 1e-9)
    assert(math.abs(r.idleSec("publisher") - 0.095) < 1e-9)
    assert(math.abs(r.accounted - 1.0) < 1e-9)
  }

  test("open loop: a stalled drain charges its stall to every set queued behind it") {
    val period = 100L
    // sets 0..3 land in segments 10..13; the drain commits set 0 promptly,
    // then stalls and commits sets 1..3 together at t=450; set 4 never lands
    val visible = OpenLoop.visibleAt(5, i => 10L + i, Seq((30L, 10L), (450L, 13L)))
    assert(visible.toSeq == Seq(30L, 450L, 450L, 450L, -1L))
    val fresh = OpenLoop.freshness(0L, period, visible)
    assert(fresh.toSeq == Seq(30L, 350L, 250L, 150L, -1L))
  }

  test("intake sets: fixed size, redeliveries from the previous set, fresh events in order") {
    val cfg = BinlogConfig(seed = 3, numEvents = 1000, numConversations = 50, dupPct = 20)
    val (sets, next) = Inputs.intakeSets(cfg, 1000L, 6, 40)
    assert(sets.forall(_.lsns.size == 40))
    val fresh = sets.flatMap(s => s.lsns.filter(_ >= 1000L)).distinct
    assert(fresh == (1000L until next))
    // a set's own events are those its predecessor did not carry; exactly
    // the duplicated ones among them come again in the next set
    val own = sets.head.lsns +: sets.sliding(2).map { case Seq(a, b) =>
      b.lsns.filterNot(a.lsns.contains) }.toSeq
    val redelivered = sets.indices.tail.map { i =>
      val again = sets(i).lsns.filter(sets(i - 1).lsns.contains)
      assert(again.toSet == own(i - 1).filter(BinlogGenerator.isDuplicated(cfg, _)).toSet)
      again.size
    }.sum
    assert(redelivered > 0)
  }

  test("an encoded set passes IngestServer's CRC and parse checks and round-trips") {
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val src = Files.createTempDirectory("perfbench-src").toString
    val cfg = BinlogConfig(seed = 9, numEvents = 100, numConversations = 20,
      evolveAtLsn = 0L)
    val set = Inputs.intakeSets(cfg, 0L, 1, 25)._1.head
    val srv = IngestServer.start(IngestConfig(src, segmentEvents = 25), port = 0)
    def post(body: Array[Byte], crc: Long): (Int, String) = {
      val c = URI.create(s"http://127.0.0.1:${srv.port}/ingest").toURL
        .openConnection().asInstanceOf[HttpURLConnection]
      c.setRequestMethod("POST")
      c.setRequestProperty("X-Graft-Crc32", crc.toString)
      c.setDoOutput(true)
      c.getOutputStream.write(body)
      val code = c.getResponseCode
      val in = if (code >= 400) c.getErrorStream else c.getInputStream
      try (code, new String(in.readAllBytes(), "UTF-8")) finally c.disconnect()
    }
    try {
      val corrupt = set.body.clone()
      corrupt(3) = (corrupt(3) ^ 1).toByte
      assert(post(corrupt, set.crc)._1 == 400)
      val (code, resp) = post(set.body, set.crc)
      assert(code == 200 && resp.contains("\"rolledSegment\":0"), resp)
      val p = new CdcPipeline(PipelineConfig(src, Files.createTempDirectory("perfbench-t").toString))
      val got = p.readBatch(spark, Seq("segment=0")).collect().map { r =>
        (r.getAs[Long]("lsn"), r.getAs[String]("op"), r.getAs[String]("conv_id"),
          r.getAs[Int]("turn_idx"), r.getAs[String]("role"), r.getAs[String]("text"),
          Option(r.getAs[String]("tool")), r.getAs[java.sql.Timestamp]("ts"))
      }.toSet
      val cdf = BinlogGenerator.zipfCdf(cfg.numConversations, cfg.zipfS)
      val want = set.lsns.map(BinlogGenerator.eventAt(cfg, cdf, _)).map(e =>
        (e.lsn, e.op, e.conv_id, e.turn_idx, e.role, e.text, e.tool, e.ts)).toSet
      assert(want.exists(_._7.nonEmpty))
      assert(got == want)
    } finally {
      srv.stop()
      spark.stop()
    }
  }
}
