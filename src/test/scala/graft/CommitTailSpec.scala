package graft

import graft.cdc.{CdcPipeline, Chain, Metrics, MultiSinkPipeline, MultiSourcePipeline, PipelineConfig}
import graft.ops.MergeInto
import graft.routing.RouteConfig
import graft.source.{BinlogConfig, BinlogGenerator}
import graft.table.ChronicleTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** One commit tail: every writer's change commits are timed and recorded
  * by the merge itself ([[graft.ops.MergeInto]]), so each table's metrics
  * ledger holds exactly one line per merge commit — with the committed
  * version as `epoch`, the batch key's source and the writer's mode — and
  * a replayed batch, which commits nothing, writes nothing.
  */
class CommitTailSpec extends SparkSpec {

  private val maintenance = Set("compact", "rescale", "altersql")

  private def lines(t: ChronicleTable) =
    Metrics.view(spark, s"${t.root}/metrics").collect().toSeq

  /** Each merge commit's line: its version, source, counts and mode. */
  private def assertOneLinePerCommit(t: ChronicleTable, mode: String,
      sources: Set[String]): Unit = {
    val commits = t.fullLineage()
      .filterNot(l => maintenance(l.batchKey.takeWhile(_ != '#')))
      .map(l => l.snapshotVersion -> l).toMap
    val ls = lines(t)
    assert(commits.nonEmpty, s"${t.root}: no merge committed")
    assert(ls.map(_.getAs[Long]("epoch")).sorted == commits.keys.toSeq.sorted,
      s"${t.root}: line epochs ${ls.map(_.getAs[Long]("epoch")).sorted} vs " +
        s"committed versions ${commits.keys.toSeq.sorted}")
    ls.foreach { r =>
      val l = commits(r.getAs[Long]("epoch"))
      assert(r.getAs[String]("mode") == mode, s"${t.root}: $r")
      assert(r.getAs[String]("source") ==
        l.batchKey.takeWhile(_ != '#').stripSuffix("-ss"), s"${t.root}: $r vs $l")
      assert((r.getAs[Long]("upserts"), r.getAs[Long]("deletes")) ==
        (l.upserts, l.deletes), s"${t.root}: $r vs $l")
      assert(r.getAs[Double]("sec") > 0)
    }
    assert(ls.map(_.getAs[String]("source")).toSet == sources, s"${t.root}")
  }

  private def binlog(name: String, events: Int, prefix: String = ""): String = {
    val cfg = BinlogConfig(numEvents = events, numConversations = 4,
      segmentSize = 100, dupPct = 5, pDelete = 0.0)
    val dir = tmpDir(name)
    if (prefix.isEmpty) BinlogGenerator.writeSegments(spark, cfg, dir)
    else {
      val raw = tmpDir(s"$name-raw")
      BinlogGenerator.writeSegments(spark, cfg, raw)
      spark.read.parquet(raw)
        .withColumn("conv_id", concat(lit(prefix), col("conv_id")))
        .write.partitionBy("segment").mode("overwrite").parquet(dir)
    }
    dir
  }

  test("pipeline drains: one batch or pipelined line per commit; a replayed batch adds none") {
    val src = binlog("tail-bl", 300)
    val batch = new CdcPipeline(PipelineConfig(src, tmpDir("tail-batch"),
      sourceId = "bl", segmentsPerBatch = 1, numBuckets = 2))
    assert(batch.runAll(spark) == 3)
    assertOneLinePerCommit(batch.table, "batch", Set("bl"))
    val piped = new CdcPipeline(PipelineConfig(src, tmpDir("tail-piped"),
      segmentsPerBatch = 1, numBuckets = 2))
    assert(piped.runAllPipelined(spark) == 3)
    assertOneLinePerCommit(piped.table, "pipelined", Set("binlog"))

    // replay of a committed batch key: skipped, no commit, no line
    val before = lines(batch.table).size
    val r = MergeInto(spark, batch.table, batch.readBatch(spark, Seq("segment=0")),
      batch.batchKey(0), "replay")
    assert(r.skipped)
    assert(lines(batch.table).size == before)
    assertOneLinePerCommit(batch.table, "batch", Set("bl"))
  }

  test("chain poll and stream: one line per per-source merge, epoch = the downstream version") {
    val up = tmpDir("tail-chain-up")
    val pA = new CdcPipeline(PipelineConfig(binlog("tail-ca", 200), up,
      sourceId = "srcA", segmentsPerBatch = 1, numBuckets = 2))
    val pB = new CdcPipeline(PipelineConfig(binlog("tail-cb", 200, "b-"), up,
      sourceId = "srcB", segmentsPerBatch = 1, numBuckets = 2))
    val polled = new ChronicleTable(tmpDir("tail-chain-poll"))
    val streamed = new ChronicleTable(tmpDir("tail-chain-stream"))
    pA.runAll(spark)
    assert(Chain.drain(spark, pA.table, polled, numBuckets = 2) == 1)
    Chain.syncStream(spark, pA.table, streamed, numBuckets = 2)
    pB.runAll(spark)
    assert(Chain.drain(spark, pA.table, polled, numBuckets = 2) == 1)
    Chain.syncStream(spark, pA.table, streamed, numBuckets = 2)

    assertOneLinePerCommit(polled, "chain-poll", Set("srcA", "srcB"))
    assertOneLinePerCommit(streamed, "chain-stream", Set("srcA", "srcB"))
    assertOneLinePerCommit(pA.table, "batch", Set("srcA", "srcB"))
  }

  test("format(graft) stream and multi-sink batch and stream: one line per commit on every table") {
    val src = binlog("tail-ms-bl", 300)
    val sinkRoot = s"${tmpDir("tail-sink")}/t"
    spark.readStream.schema(graft.model.Model.changeSchema)
      .option("maxFilesPerTrigger", 8)
      .parquet(s"$src/segment=*")
      .writeStream.format("graft")
      .option("path", sinkRoot)
      .option("checkpointLocation", tmpDir("tail-sink-ckpt"))
      .option("buckets", "2")
      .option("source", "metered")
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination(120000)
    assertOneLinePerCommit(new ChronicleTable(sinkRoot), "stream", Set("metered"))

    val routes = Seq(RouteConfig("users", Some("""xpath("role") = "user"""")))
    val batch = new MultiSinkPipeline(PipelineConfig(src, tmpDir("tail-msink"),
      segmentsPerBatch = 1, numBuckets = 2), routes)
    batch.runAll(spark)
    val streamed = new MultiSinkPipeline(PipelineConfig(src,
      tmpDir("tail-msink-ss"), sourceId = "mss", numBuckets = 2), routes)
    streamed.startStream(spark, tmpDir("tail-msink-ckpt"), maxFilesPerTrigger = 8)
      .awaitTermination(120000)
    Seq("users", "default").foreach { s =>
      assertOneLinePerCommit(batch.sinkTable(s), "multisink", Set("binlog"))
      assertOneLinePerCommit(streamed.sinkTable(s), "multisink-stream", Set("mss"))
    }
  }

  test("SQL INSERT and DELETE and multi-source drains: one line per commit") {
    val root = tmpDir("tail-sql")
    spark.conf.set("spark.sql.catalog.gtail", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gtail.root", root)
    spark.sql("CREATE TABLE gtail.t (conv_id string, turn_idx int, role string, " +
      "text string, tool string, ts timestamp) TBLPROPERTIES ('buckets'='2')")
    val insert = "INSERT INTO gtail.t (conv_id, turn_idx, role, text, tool, ts, _lsn) " +
      "VALUES ('c-1', 0, 'user', 'a', NULL, timestamp'2024-01-01 00:00:00', 1), " +
      "('c-2', 0, 'user', 'b', NULL, timestamp'2024-01-01 00:00:01', 2)"
    spark.sql(insert)
    val t = new ChronicleTable(s"$root/t")
    val v = t.loadCurrent().version
    spark.sql(insert) // identical statement: a replay, no commit, no line
    assert(t.loadCurrent().version == v)
    spark.sql("DELETE FROM gtail.t WHERE conv_id = 'c-1'")
    assert(lines(t).size == 2)
    assertOneLinePerCommit(t, "sql", Set("sql"))

    val srcsFile = s"${tmpDir("tail-ms-conf")}/sources.json"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(srcsFile),
      Seq("srcA" -> binlog("tail-msa", 200), "srcB" -> binlog("tail-msb", 200, "b-"))
        .map { case (id, dir) => s"""{"id":"$id","dir":"$dir"}""" }
        .mkString("[", ",", "]"))
    val ms = new MultiSourcePipeline(tmpDir("tail-ms"), srcsFile,
      segmentsPerBatch = 1, numBuckets = 2)
    assert(ms.runAll(spark) > 0)
    assertOneLinePerCommit(ms.table, "batch", Set("srcA", "srcB"))
    assert(lines(ms.table).size == 4)
  }
}
