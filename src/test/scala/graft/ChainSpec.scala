package graft

import graft.cdc.{CdcPipeline, Chain, PipelineConfig}
import graft.model.Model
import graft.source.{BinlogConfig, BinlogGenerator}
import org.apache.spark.sql.functions._

/** Pipeline chaining (the reference's SuroSink server-to-server forward,
  * SuroSink.java:15-38): a downstream ChronicleTable tails an upstream one
  * through the incremental changelog, exactly-once, per-source marks
  * preserved.
  */
class ChainSpec extends SparkSpec {

  private def visible(t: graft.table.ChronicleTable) =
    t.read(spark).filter(!col(Model.deletedColumn))
      .select("conv_id", "turn_idx", "text")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet

  test("downstream table converges to a TWO-SOURCE upstream via incremental polls") {
    // delete-free log: an ordered CoW upstream's changelog is upsert-only
    // by contract (deletes are physically erased — the MOR test below is
    // the delete-propagating mode)
    val cfgA = BinlogConfig(numEvents = 800, numConversations = 6,
      segmentSize = 200, dupPct = 5, pDelete = 0.0)
    val cfgB = BinlogConfig(numEvents = 400, numConversations = 4,
      segmentSize = 200, dupPct = 5, pDelete = 0.0)
    val srcA = tmpDir("chain-bl-a")
    BinlogGenerator.writeSegments(spark, cfgA, srcA)
    val rawB = tmpDir("chain-bl-braw")
    val srcB = tmpDir("chain-bl-b")
    BinlogGenerator.writeSegments(spark, cfgB, rawB)
    spark.read.parquet(rawB)
      .withColumn("conv_id", concat(lit("b-"), col("conv_id")))
      .write.partitionBy("segment").mode("overwrite").parquet(srcB)

    val up = tmpDir("chain-up")
    val down = new graft.table.ChronicleTable(tmpDir("chain-down"))
    val pA = new CdcPipeline(PipelineConfig(srcA, up, sourceId = "srcA",
      segmentsPerBatch = 2, numBuckets = 4))
    pA.runAll(spark)

    // poll 1: bootstrap (full visible state of source A)
    val r1 = Chain.pollOnce(spark, pA.table, down, numBuckets = 4)
    assert(r1.exists(_.sources == Seq("srcA")))
    assert(visible(down) == visible(pA.table))

    // source B lands upstream with LSNs entirely BELOW srcA's mark; the
    // chain's per-source changelog must still ship every B row
    val pB = new CdcPipeline(PipelineConfig(srcB, up, sourceId = "srcB",
      segmentsPerBatch = 2, numBuckets = 4))
    pB.runAll(spark)
    val r2 = Chain.pollOnce(spark, pA.table, down, numBuckets = 4)
    assert(r2.exists(_.sources.contains("srcB")))
    assert(visible(down) == visible(pA.table))
    // downstream marks mirror the upstream's per source (chainable further)
    val upSnap = pA.table.loadCurrent()
    val downSnap = down.loadCurrent()
    assert(downSnap.hwms("srcA") == upSnap.hwms("srcA"))
    assert(downSnap.hwms("srcB") == upSnap.hwms("srcB"))

    // caught up -> no-op; replaying the SAME poll is idempotent
    assert(Chain.pollOnce(spark, pA.table, down, numBuckets = 4).isEmpty)
    assert(visible(down) == visible(pA.table))

    // quiet source: only srcA advances upstream; the poll still tiles a
    // range key for srcB (empty commit) so the ledger floor keeps folding
    val more = tmpDir("chain-bl-a2")
    BinlogGenerator.writeSegments(spark, cfgA.copy(numEvents = 1000), more)
    (4 to 4).foreach { s =>
      java.nio.file.Files.move(
        java.nio.file.Paths.get(more, s"segment=$s"),
        java.nio.file.Paths.get(srcA, s"segment=$s"))
    }
    pA.runAll(spark)
    val r3 = Chain.pollOnce(spark, pA.table, down, numBuckets = 4)
    assert(r3.exists(_.sources.toSet == Set("srcA", "srcB")))
    assert(visible(down) == visible(pA.table))
    val d3 = down.loadCurrent()
    assert(d3.committedBatches.isEmpty,
      s"chain ledger must fold to floors, found ${d3.committedBatches.keySet}")
  }

  test("feed modes are exclusive; unordered upstreams refuse at bootstrap") {
    import graft.table.{ChronicleTable, LineageEntry, PendingCommit}
    val cfg = BinlogConfig(numEvents = 400, numConversations = 4,
      segmentSize = 200, dupPct = 0, pDelete = 0.0)
    val src = tmpDir("chain-x-bl")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new CdcPipeline(PipelineConfig(src, tmpDir("chain-x-up"),
      segmentsPerBatch = 2, numBuckets = 4))
    p.runAll(spark)
    val down = new ChronicleTable(tmpDir("chain-x-down"))
    Chain.drain(spark, p.table, down, numBuckets = 4)

    // a chain's version-range ledger keys and a pipeline's batch-index keys
    // share the source prefix — folding both into one floor silently skips
    // un-applied batches, so each direction refuses the other's table
    val intoPipelineFed = intercept[IllegalArgumentException] {
      Chain.pollOnce(spark, p.table, p.table, numBuckets = 4)
    }
    assert(intoPipelineFed.getMessage.contains("pipeline-fed"))
    val intoChainFed = intercept[IllegalArgumentException] {
      new CdcPipeline(PipelineConfig(src, down.root,
        segmentsPerBatch = 2, numBuckets = 4)).runAll(spark)
    }
    assert(intoChainFed.getMessage.contains("chain-fed"))

    // an unordered upstream can never be tailed: refuse BEFORE the
    // bootstrap ships state that poll 2 could not follow up on
    val ss = new ChronicleTable(tmpDir("chain-x-ss"))
    ss.create(Model.physicalSchemaV1, 2)
    ss.commit(ss.loadCurrent(), PendingCommit("ss#0", Nil, Nil, None,
      LineageEntry("ss#0", "epoch", -1L, -1L, 0, 0, 0, 0L, Map.empty, -1L),
      ordered = false))
    val unord = intercept[IllegalArgumentException] {
      Chain.pollOnce(spark, ss, new ChronicleTable(tmpDir("chain-x-down2")),
        numBuckets = 4)
    }
    assert(unord.getMessage.contains("unordered"))
  }

  test("schema evolution propagates through the chain; upstream rewrites do not re-ship old rows") {
    val cfg = BinlogConfig(numEvents = 1200, numConversations = 8,
      segmentSize = 300, dupPct = 5, pDelete = 0.0)
    val src = tmpDir("chain-ev-bl")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new CdcPipeline(PipelineConfig(src, tmpDir("chain-ev-up"),
      segmentsPerBatch = 1, numBuckets = 4))
    val down = new graft.table.ChronicleTable(tmpDir("chain-ev-down"))

    p.runAll(spark)
    Chain.drain(spark, p.table, down, numBuckets = 4)
    assert(!down.loadCurrent().schema.fieldNames.contains("score"))

    // upstream EVOLVES (a second writer ships a brand-new `score` column)
    // and then REWRITES itself (rescale + compaction): the next poll must
    // propagate the evolved schema and ship only the genuinely-new rows —
    // rewrites stamp fresh files whose rows keep their ORIGINAL
    // lsn/_source, so the per-source marks still filter them out
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val evo = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(5000L, "I", "conv-evo", 0, "user", "evolved row", null,
          new java.sql.Timestamp(0L), 42),
        Row(5001L, "I", "conv-evo", 1, "assistant", "evolved reply", null,
          new java.sql.Timestamp(0L), 43))),
      StructType(Seq(
        StructField("lsn", LongType), StructField("op", StringType),
        StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
        StructField("role", StringType), StructField("text", StringType),
        StructField("tool", StringType), StructField("ts", TimestampType),
        StructField("score", IntegerType))))
    graft.ops.MergeInto(spark, p.table, evo, "sideload#0", "evolution writer")
    graft.ops.Rescale(spark, p.table, newNumBuckets = 8)
    graft.ops.Compaction(spark, p.table, maxFilesPerBucket = 1)

    val upRows = visible(p.table).size
    val r2 = Chain.pollOnce(spark, p.table, down, numBuckets = 4).get
    val shipped = r2.merges.map(m => m.upserts + m.deletes).sum
    assert(visible(down) == visible(p.table))
    assert(down.loadCurrent().schema.fieldNames.contains("score"),
      "chain must propagate the evolved upstream schema")
    val scores = down.read(spark).filter(col("conv_id") === "conv-evo")
      .select("turn_idx", "score").collect()
      .map(r => r.getInt(0) -> r.getInt(1)).toMap
    assert(scores == Map(0 -> 42, 1 -> 43))
    // old rows shipped in poll 1 were rewritten upstream (new files) but
    // must NOT re-ship: the shipped count is bounded by what poll 1 missed
    assert(shipped < upRows,
      s"poll 2 re-shipped the whole table ($shipped of $upRows rows)")
    assert(Chain.pollOnce(spark, p.table, down, numBuckets = 4).isEmpty)
    // downstream reads stay key-unique across the evolved/rewritten ship
    val dup = down.read(spark).filter(!col(Model.deletedColumn))
      .groupBy("conv_id", "turn_idx").count().filter(col("count") > 1).count()
    assert(dup == 0L)
  }

  test("MOR upstream ships tombstones: deletes propagate to the downstream table") {
    val cfg = BinlogConfig(numEvents = 1200, numConversations = 10,
      segmentSize = 300, dupPct = 5, pDelete = 0.25)
    val src = tmpDir("chain-mor-bl")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new CdcPipeline(PipelineConfig(src, tmpDir("chain-mor-up"),
      segmentsPerBatch = 2, numBuckets = 4, mergeOnRead = true))
    val down = new graft.table.ChronicleTable(tmpDir("chain-mor-down"))

    // downstream in MOR mode: shipped tombstones are RETAINED, so this
    // table can itself be chained further WITH delete propagation
    p.runAll(spark, maxBatches = 1)
    Chain.pollOnce(spark, p.table, down, numBuckets = 4, mergeOnRead = true)
    assert(visible(down) == visible(p.table))
    p.runAll(spark) // the rest, including deletes of keys shipped in poll 1
    Chain.pollOnce(spark, p.table, down, numBuckets = 4, mergeOnRead = true)
    // a key deleted upstream AFTER being shipped must disappear downstream
    assert(visible(down) == visible(p.table))
    val oracle = BinlogGenerator.referenceReduction(cfg)
      .values.map(e => (e.conv_id, e.turn_idx, e.text)).toSet
    assert(visible(down) == oracle)
    // second hop: a MOR downstream carries the tombstones, so a further
    // chained table ALSO sees the deletes (suro chains arbitrarily deep)
    val third = new graft.table.ChronicleTable(tmpDir("chain-mor-third"))
    Chain.drain(spark, down, third, numBuckets = 4)
    assert(visible(third) == oracle)
  }

  test("follow: the streaming chain converges live and resumes exactly-once") {
    val cfg = BinlogConfig(numEvents = 600, numConversations = 5,
      segmentSize = 200, dupPct = 5, pDelete = 0.0)
    val src = tmpDir("chain-f-bl")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new CdcPipeline(PipelineConfig(src, tmpDir("chain-f-up"),
      segmentsPerBatch = 1, numBuckets = 4))
    val down = new graft.table.ChronicleTable(tmpDir("chain-f-down"))

    p.runAll(spark, maxBatches = 1)
    val q = Chain.follow(spark, p.table, down, numBuckets = 4,
      intervalMs = 200L)
    try {
      // upstream keeps committing WHILE the follower runs
      p.runAll(spark)
      val deadline = System.currentTimeMillis() + 60000
      def caughtUp() = down.exists &&
        down.loadCurrent().cursors.get(Chain.cursorKey(p.table.root))
          .contains(p.table.loadCurrent().version)
      while (!caughtUp() && System.currentTimeMillis() < deadline)
        Thread.sleep(200)
      assert(caughtUp(), "follower never caught up with the upstream")
    } finally q.stop()
    assert(visible(down) == visible(p.table))
    val oracle = BinlogGenerator.referenceReduction(cfg)
      .values.map(e => (e.conv_id, e.turn_idx, e.text)).toSet
    assert(visible(down) == oracle)
    // no duplicate keys: the live polls were exactly-once
    val dup = down.read(spark).filter(!col(Model.deletedColumn))
      .groupBy("conv_id", "turn_idx").count().filter(col("count") > 1).count()
    assert(dup == 0L)
  }

  test("chain maintenance: an always-on tail's downstream folds deltas and bounds snapshots") {
    // a chain-fed table has no pipeline drain to run maintenance — without
    // Chain.maintain, a long-lived follow leaks a snapshot per poll and
    // (under MOR) delta files between manual compactions
    val cfg = BinlogConfig(numEvents = 1500, numConversations = 10,
      segmentSize = 150, dupPct = 5, pDelete = 0.2)
    val src = tmpDir("chain-mt-bl")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new CdcPipeline(PipelineConfig(src, tmpDir("chain-mt-up"),
      segmentsPerBatch = 1, numBuckets = 4, mergeOnRead = true))
    val down = new graft.table.ChronicleTable(tmpDir("chain-mt-down"))

    // tail the upstream one commit at a time, maintaining every poll
    var polls = 0
    while ({ p.runAll(spark, maxBatches = 1) > 0 }) {
      polls += Chain.drain(spark, p.table, down, numBuckets = 4,
        mergeOnRead = true, maintainEveryPolls = 1)
    }
    assert(polls >= 5)

    // converged, deltas folded, snapshot count bounded by retention
    assert(visible(down) == visible(p.table))
    val snap = down.loadCurrent()
    assert(snap.manifestList.map(_.deltaFiles).sum == 0,
      "maintenance must fold the downstream's MOR deltas")
    assert(down.versions.size <= 11,
      s"retention must bound snapshots, have ${down.versions.size}")
    val oracle = BinlogGenerator.referenceReduction(cfg)
      .values.map(e => (e.conv_id, e.turn_idx, e.text)).toSet
    assert(visible(down) == oracle)

    // the chain cursor survives maintenance: a fresh poll is a clean no-op
    assert(Chain.pollOnce(spark, p.table, down, numBuckets = 4,
      mergeOnRead = true).isEmpty)
  }

  test("CHUNKED bootstrap: the first poll ships in multiple exactly-once lsn slices; a crash between slices reconverges") {
    // MOR upstream with deletes: the sliced bootstrap's RAW interval scans
    // must carry superseded versions and tombstones correctly through the
    // downstream LWW merge
    val cfg = BinlogConfig(numEvents = 1200, numConversations = 10,
      segmentSize = 300, dupPct = 5, pDelete = 0.2)
    val src = tmpDir("chain-cb-bl")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new CdcPipeline(PipelineConfig(src, tmpDir("chain-cb-up"),
      segmentsPerBatch = 1, numBuckets = 4, mergeOnRead = true))
    p.runAll(spark) // several upstream versions -> unit space for slice keys
    val oracle = BinlogGenerator.referenceReduction(cfg)
      .values.map(e => (e.conv_id, e.turn_idx, e.text)).toSet

    // a 1-byte slice budget forces the maximum slice count (capped by the
    // upstream version count)
    val down = new graft.table.ChronicleTable(tmpDir("chain-cb-down"))
    val r = Chain.pollOnce(spark, p.table, down, numBuckets = 4,
      mergeOnRead = true, bootstrapSliceBytes = 1L).get
    assert(r.merges.size > 1, "bootstrap must land in more than one slice")
    assert(visible(down) == visible(p.table))
    assert(visible(down) == oracle)
    // marks mirror the upstream's and the slice range keys fold to floors
    assert(down.loadCurrent().hwms("binlog") ==
      p.table.loadCurrent().hwms("binlog"))
    assert(down.loadCurrent().committedBatches.isEmpty,
      s"slice keys must fold, found " +
        down.loadCurrent().committedBatches.keySet)
    val dup = down.read(spark).filter(!col(Model.deletedColumn))
      .groupBy("conv_id", "turn_idx").count().filter(col("count") > 1).count()
    assert(dup == 0L)

    // crash BETWEEN slices: the second slice commit dies mid-bootstrap;
    // the re-poll replays the same deterministic slices, the committed
    // one skips by ledger key, and the table still converges
    val down2 = new graft.table.ChronicleTable(tmpDir("chain-cb-down2"))
    val commits = new java.util.concurrent.atomic.AtomicInteger(0)
    down2.beforePublishHook = _ =>
      if (commits.incrementAndGet() == 2)
        throw new RuntimeException("crash between bootstrap slices")
    intercept[RuntimeException] {
      Chain.pollOnce(spark, p.table, down2, numBuckets = 4,
        mergeOnRead = true, bootstrapSliceBytes = 1L)
    }
    down2.beforePublishHook = _ => ()
    val r2 = Chain.pollOnce(spark, p.table, down2, numBuckets = 4,
      mergeOnRead = true, bootstrapSliceBytes = 1L).get
    assert(r2.merges.exists(_.skipped),
      "the slice committed before the crash must skip by ledger key")
    assert(visible(down2) == oracle)
    assert(Chain.pollOnce(spark, p.table, down2, numBuckets = 4,
      mergeOnRead = true, bootstrapSliceBytes = 1L).isEmpty)
    val dup2 = down2.read(spark).filter(!col(Model.deletedColumn))
      .groupBy("conv_id", "turn_idx").count().filter(col("count") > 1).count()
    assert(dup2 == 0L)
  }

  test("an expired upstream cursor errors clearly instead of shipping a wrong delta") {
    val cfg = BinlogConfig(numEvents = 600, numConversations = 5,
      segmentSize = 200, dupPct = 0, pDelete = 0.0)
    val src = tmpDir("chain-exp-bl")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new CdcPipeline(PipelineConfig(src, tmpDir("chain-exp-up"),
      segmentsPerBatch = 1, numBuckets = 4))
    val down = new graft.table.ChronicleTable(tmpDir("chain-exp-down"))
    p.runAll(spark, maxBatches = 1)
    Chain.drain(spark, p.table, down, numBuckets = 4)
    p.runAll(spark)
    p.table.expireSnapshots(keepLast = 1) // the chain's cursor version dies
    val err = intercept[NoSuchElementException] {
      Chain.pollOnce(spark, p.table, down, numBuckets = 4)
    }
    assert(err.getMessage.contains("expired") ||
      err.getMessage.contains("does not exist"))
  }
}
