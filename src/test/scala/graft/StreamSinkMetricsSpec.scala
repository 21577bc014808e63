package graft

import graft.cdc.{Metrics, StatusServer}
import graft.table.ChronicleTable
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.util.QueryExecutionListener

/** The `format("graft")` sink is the single-table epoch step: every epoch
  * of a plain `writeStream.format("graft")` query commits under the
  * `-ss#` ledger key, lands one `stream` line in the metrics ledger (so
  * `/stats` serves it), and plans its merge without a SQL exchange on the
  * stream's session.
  */
class StreamSinkMetricsSpec extends SparkSpec {

  import spark.implicits._

  private def writeSegment(dir: String, seg: Int, rows: Seq[(Long, String, String, Int, String)]): Unit =
    rows.toDF("lsn", "op", "conv_id", "turn_idx", "text")
      .withColumn("role", lit("user"))
      .withColumn("tool", lit(null).cast("string"))
      .withColumn("ts", lit(new java.sql.Timestamp(1704067200000L)))
      .select("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
      .coalesce(1).write.parquet(s"$dir/seg=$seg")

  /** Three one-file segments drained one file per epoch: three epochs. */
  private def drain(name: String): String = {
    val src = tmpDir(s"$name-src")
    val root = s"${tmpDir(name)}/t"
    writeSegment(src, 0, (0 until 6).map(i => (i.toLong, "I", s"c-$i", 0, s"v0-$i")))
    writeSegment(src, 1, Seq((10L, "U", "c-0", 0, "v1-0"), (11L, "D", "c-1", 0, "")))
    writeSegment(src, 2, Seq((20L, "I", "c-9", 0, "v2-9")))
    spark.readStream.schema(spark.read.parquet(s"$src/seg=0").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$src/seg=*")
      .writeStream.format("graft")
      .option("path", root)
      .option("checkpointLocation", tmpDir(s"$name-ckpt"))
      .option("buckets", "2")
      .option("source", "metered")
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination(120000)
    root
  }

  test("plain writeStream.format(graft) epochs land in the metrics ledger and /stats as mode stream") {
    val root = drain("sink-metrics")
    val t = new ChronicleTable(root)
    val epochs = t.fullLineage().filter(_.batchKey.startsWith("metered-ss#"))
    assert(epochs.map(_.batchKey).sorted == Seq("metered-ss#0", "metered-ss#1", "metered-ss#2"))

    val lines = Metrics.view(spark, s"$root/metrics").collect()
    assert(lines.length == 3 && lines.forall(_.getAs[String]("mode") == "stream"))
    assert(lines.forall(_.getAs[String]("source") == "metered"))
    // one line per committed epoch, with that commit's counts
    val byVersion = epochs.map(l => l.snapshotVersion -> (l.upserts, l.deletes)).toMap
    lines.foreach { r =>
      assert(byVersion(r.getAs[Long]("epoch")) ==
        (r.getAs[Long]("upserts"), r.getAs[Long]("deletes")))
    }

    val srv = StatusServer.start(root, port = 0)
    try {
      val conn = new java.net.URL(s"http://127.0.0.1:${srv.getAddress.getPort}/stats")
        .openConnection().asInstanceOf[java.net.HttpURLConnection]
      assert(conn.getResponseCode == 200)
      val json = ChronicleTable.mapper.readTree(conn.getInputStream)
      conn.disconnect()
      val stream = json.get("recentRates").get("stream")
      assert(stream.get("batches").asInt == 3)
      assert(stream.get("rows").asLong == epochs.map(l => l.upserts + l.deletes).sum)
    } finally srv.stop(0)
  }

  test("an epoch's merge plans no SQL exchange on the stream's session") {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.sparkSession ne spark) plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // the stream's session is cloned at start and inherits this listener
    spark.listenerManager.register(listener)
    try drain("sink-aqe") finally spark.listenerManager.unregister(listener)

    // the merge's one shuffle is its prepare's map stage, sized by the
    // table's buckets, so no epoch query leaves a shuffle to the stream
    // session's planning (adaptive or not); the window dedup of older
    // code shuffled in an adaptive plan here
    val stages = new AdaptiveSparkPlanHelper {}
    def epochPlans = plans.toArray(Array.empty[SparkPlan]).toSeq
    val deadline = System.currentTimeMillis() + 15000
    while (epochPlans.size < 3 && System.currentTimeMillis() < deadline) Thread.sleep(100)
    assert(epochPlans.size >= 3, s"${epochPlans.size} epoch queries observed")
    epochPlans.foreach { p =>
      assert(stages.find(p)(_.isInstanceOf[Exchange]).isEmpty,
        s"an epoch query shuffled in SQL:\n$p")
    }
  }
}
