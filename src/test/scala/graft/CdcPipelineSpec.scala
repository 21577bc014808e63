package graft

import graft.cdc.{CdcPipeline, PipelineConfig}
import graft.model.Model
import graft.source.{BinlogConfig, BinlogGenerator}
import graft.table.ChronicleTable
import org.apache.spark.sql.Row

/** End-to-end replay convergence (FIXTURES.md §3/§4): the engine's final
  * table must equal the in-memory reference reduction row-for-row under
  * stable (conv_id, turn_idx) ordering — the count-convergence tests of the
  * reference (TestMessageRouter.java:134-279) upgraded to full-row equality.
  */
class CdcPipelineSpec extends SparkSpec {

  private def oracleRows(cfg: BinlogConfig): Seq[(String, Int, String, String, Option[String])] =
    BinlogGenerator.referenceReduction(cfg).values.toSeq
      .sortBy(e => (e.conv_id, e.turn_idx))
      .map(e => (e.conv_id, e.turn_idx, e.role, e.text, e.tool))

  private def tableRows(p: CdcPipeline): Seq[(String, Int, String, String, Option[String])] =
    p.currentState(spark).collect().toSeq.map { r: Row =>
      (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"),
        r.getAs[String]("role"), r.getAs[String]("text"),
        Option(r.getAs[String]("tool")))
    }

  test("tiny fixture: dedup+apply+snapshot+read-back equals oracle") {
    val cfg = BinlogConfig(numEvents = 200, numConversations = 3, maxTurns = 5,
      segmentSize = 50, dupPct = 10)
    val src = tmpDir("binlog-tiny")
    val tbl = tmpDir("table-tiny")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new CdcPipeline(PipelineConfig(src, tbl, numBuckets = 4))
    val batches = p.runAll(spark)
    assert(batches == 1 || batches > 0)
    assert(tableRows(p) == oracleRows(cfg))
  }

  test("dup-replay: duplicates straddling segment boundaries dedup exactly-once") {
    val cfg = BinlogConfig(numEvents = 2000, numConversations = 20,
      segmentSize = 100, dupPct = 10)
    val src = tmpDir("binlog-dup")
    val tbl = tmpDir("table-dup")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new CdcPipeline(PipelineConfig(src, tbl, segmentsPerBatch = 3, numBuckets = 8))
    p.runAll(spark)
    assert(tableRows(p) == oracleRows(cfg))
    // lineage is complete and duplicate-free
    val lin = p.lineage(spark).collect()
    assert(lin.map(_.getAs[String]("batch_key")).distinct.length == lin.length)
  }

  test("in-drain maintenance bounds files and snapshots; state equals the unmaintained run") {
    val cfg = BinlogConfig(numEvents = 3000, numConversations = 20,
      segmentSize = 100, dupPct = 5, pDelete = 0.2)
    val src = tmpDir("binlog-maint")
    BinlogGenerator.writeSegments(spark, cfg, src)
    // 30 micro-batches with maintenance every 5: compaction + expiry +
    // orphan GC run from inside the (pipelined) drain loop
    val maintained = new CdcPipeline(PipelineConfig(src, tmpDir("table-maint"),
      segmentsPerBatch = 1, numBuckets = 2, maintenanceEveryBatches = 5,
      compactMaxFilesPerBucket = 2, retainSnapshots = 3))
    maintained.runAllPipelined(spark)
    val plain = new CdcPipeline(PipelineConfig(src, tmpDir("table-plain"),
      segmentsPerBatch = 1, numBuckets = 2))
    plain.runAll(spark)

    val snap = maintained.table.loadCurrent()
    // live-file count bounded by the compaction threshold, not the batch count
    assert(snap.numFiles <= 2 * (2 + 5),
      s"maintenance failed to bound files: ${snap.numFiles}")
    assert(maintained.table.versions.size <= 3 + 2 * 5, // retention + post-expiry commits
      s"snapshot history unbounded: ${maintained.table.versions.size} versions")
    assert(maintained.table.versions.size < plain.table.versions.size)
    // identical final state, and resume still finds nothing pending
    assert(tableRows(maintained) == tableRows(plain))
    assert(tableRows(maintained) == oracleRows(cfg))
    assert(maintained.runOnce(spark).isEmpty)
  }

  test("metrics ledger records one event per batch and per stream epoch") {
    val cfg = BinlogConfig(numEvents = 600, numConversations = 6, segmentSize = 200)
    val src = tmpDir("binlog-metrics")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new CdcPipeline(PipelineConfig(src, tmpDir("table-metrics"),
      segmentsPerBatch = 1, numBuckets = 2, recordMetrics = true))
    val applied = p.runAll(spark)
    val batchRows = p.metrics(spark).collect()
    assert(batchRows.count(_.getAs[String]("mode") == "batch") == applied)
    assert(batchRows.forall(r => r.getAs[Double]("sec") > 0 &&
      r.getAs[Long]("rows") >= 0))
    // metrics sit alongside lineage: per-version upsert counts must agree
    val byVersion = p.lineage(spark).collect()
      .map(r => r.getAs[Long]("snapshot_version") -> r.getAs[Long]("upserts")).toMap
    batchRows.filter(_.getAs[String]("mode") == "batch").foreach { r =>
      assert(byVersion(r.getAs[Long]("epoch")) == r.getAs[Long]("upserts"))
    }

    // streaming: foreachBatch records per-epoch merges, the
    // StreamingQueryListener adds progress events (delivered async)
    val p2 = new CdcPipeline(PipelineConfig(src, tmpDir("table-metrics-ss"),
      sourceId = "mss", numBuckets = 2, recordMetrics = true))
    val q = p2.startStream(spark, tmpDir("ckpt-metrics"), maxFilesPerTrigger = 1)
    q.awaitTermination(120000)
    def modes = p2.metrics(spark).collect().groupBy(_.getAs[String]("mode"))
      .view.mapValues(_.length).toMap
    val deadline = System.currentTimeMillis() + 15000
    while ((modes.getOrElse("stream-progress", 0) < 1) &&
      System.currentTimeMillis() < deadline) Thread.sleep(200)
    assert(modes.getOrElse("stream", 0) >= 3, s"per-epoch merge metrics missing: $modes")
    assert(modes.getOrElse("stream-progress", 0) >= 1,
      s"listener progress metrics missing: $modes")
  }

  test("stream-progress lines go to the started query's own ledger, once each, and the listener leaves with it") {
    import org.apache.spark.sql.functions.col
    val cfg = BinlogConfig(numEvents = 600, numConversations = 6, segmentSize = 200)
    val src = tmpDir("binlog-listener")
    BinlogGenerator.writeSegments(spark, cfg, src)
    def listeners = spark.streams.listListeners()
      .count(_.isInstanceOf[graft.cdc.Metrics.EpochListener])
    val before = listeners
    // two pipelines of the SAME source id (so the same query name) on two
    // tables, streamed one after the other in one session
    val runs = Seq("a", "b").map { t =>
      val p = new CdcPipeline(PipelineConfig(src, tmpDir(s"table-listener-$t"),
        sourceId = "same", numBuckets = 2, recordMetrics = true))
      val q = p.startStream(spark, tmpDir(s"ckpt-listener-$t"), maxFilesPerTrigger = 1)
      q.awaitTermination(120000)
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      p -> q
    }
    runs.foreach { case (p, q) =>
      val lines = p.metrics(spark).filter(col("mode") === "stream-progress")
        .select("epoch", "rows").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
      val events = q.recentProgress.map(e => (e.batchId, e.numInputRows)).toSeq.sorted
      assert(events.nonEmpty)
      assert(lines == events,
        s"${p.cfg.tableRoot}: ledger lines $lines, its query's progress events $events")
    }
    assert(listeners == before, "an EpochListener outlived its query")
  }

  test("RunCdc stats counts committed ledger units: N pipeline batches, one stream epoch") {
    def statsLine(root: String): String = {
      val out = new java.io.ByteArrayOutputStream()
      Console.withOut(out)(graft.cdc.RunCdc.run(spark, Array("stats", root)))
      out.toString.linesIterator.next()
    }
    val cfg = BinlogConfig(numEvents = 600, numConversations = 6, segmentSize = 100)
    val src = tmpDir("binlog-stats")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new CdcPipeline(PipelineConfig(src, tmpDir("table-stats"),
      segmentsPerBatch = 1, numBuckets = 2))
    val n = p.runAll(spark)
    assert(n == cfg.numSegments && n > 1)
    // the commit folds contiguous keys into the ledger floor: the window
    // alone is empty
    assert(p.table.loadCurrent().committedBatches.isEmpty)
    assert(statsLine(p.cfg.tableRoot).contains(s" units=$n "), statsLine(p.cfg.tableRoot))
    // a maintenance commit is not a source's unit
    assert(graft.ops.Compaction(spark, p.table, maxFilesPerBucket = 0).addedFiles > 0)
    assert(statsLine(p.cfg.tableRoot).contains(s" units=$n "), statsLine(p.cfg.tableRoot))

    val ss = new CdcPipeline(PipelineConfig(src, tmpDir("table-stats-ss"),
      sourceId = "sst", numBuckets = 2))
    ss.startStream(spark, tmpDir("ckpt-stats"), maxFilesPerTrigger = 1000)
      .awaitTermination()
    assert(ss.table.fullLineage().map(_.batchKey) == Seq("sst-ss#0"))
    assert(statsLine(ss.cfg.tableRoot).contains(" units=1 "), statsLine(ss.cfg.tableRoot))
  }

  test("streaming backpressure: trigger size adapts to the measured epoch rate") {
    val cfg = BinlogConfig(numEvents = 1200, numConversations = 10,
      segmentSize = 100, dupPct = 5)
    val src = tmpDir("binlog-adaptive-ss")
    BinlogGenerator.writeSegments(spark, cfg, src)
    // slow sink + tight target: the measured epoch rate must shrink the
    // next generation's trigger to the floor
    val p = new CdcPipeline(PipelineConfig(src, tmpDir("table-adp"),
      sourceId = "adp", numBuckets = 2, targetBatchSec = 0.15))
    p.ensureTable()
    p.table.beforePublishHook = _ => Thread.sleep(300)
    val q = p.startStream(spark, tmpDir("ckpt-adp"), maxFilesPerTrigger = 4)
    q.awaitTermination(180000)
    p.table.beforePublishHook = _ => ()
    assert(p.adaptedMaxFilesPerTrigger(4) == 1,
      s"slow sink did not shrink the trigger: ${p.adaptedMaxFilesPerTrigger(4)}")
    assert(tableRows(p) == oracleRows(cfg))

    // fast sink + loose target: the next generation grows (clamped at 2x
    // per step), and the generation loop still converges to the oracle
    val p2 = new CdcPipeline(PipelineConfig(src, tmpDir("table-adp2"),
      sourceId = "adp2", numBuckets = 2, targetBatchSec = 120))
    val adapted = p2.runStreamAdaptive(spark, tmpDir("ckpt-adp2"),
      initialMaxFiles = 2, generations = 1)
    assert(adapted == 4, s"fast sink did not grow the trigger: $adapted")
    assert(tableRows(p2) == oracleRows(cfg))
  }

  test("two ordered sources with independent LSN sequences share one table (per-source HWM)") {
    val cfgA = BinlogConfig(numEvents = 1200, numConversations = 8,
      segmentSize = 200, dupPct = 5, pDelete = 0.2)
    val cfgB = BinlogConfig(numEvents = 600, numConversations = 6,
      segmentSize = 200, dupPct = 5)
    val srcA = tmpDir("binlog-msrc-a")
    BinlogGenerator.writeSegments(spark, cfgA, srcA)
    // source B: an independent log whose LSN sequence starts back at 0 —
    // entirely BELOW source A's high-water mark — over a disjoint key space
    val rawB = tmpDir("binlog-msrc-braw")
    val srcB = tmpDir("binlog-msrc-b")
    BinlogGenerator.writeSegments(spark, cfgB, rawB)
    spark.read.parquet(rawB)
      .withColumn("conv_id",
        org.apache.spark.sql.functions.concat(
          org.apache.spark.sql.functions.lit("b-"),
          org.apache.spark.sql.functions.col("conv_id")))
      .write.partitionBy("segment").mode("overwrite").parquet(srcB)

    val tbl = tmpDir("table-msrc")
    val pA = new CdcPipeline(PipelineConfig(srcA, tbl, sourceId = "srcA",
      segmentsPerBatch = 2, numBuckets = 4))
    pA.runAll(spark) // advances srcA's mark to 1199
    val pB = new CdcPipeline(PipelineConfig(srcB, tbl, sourceId = "srcB",
      segmentsPerBatch = 2, numBuckets = 4))
    pB.runAll(spark) // every lsn here is below srcA's mark — a global HWM
                     // would silently drop the whole source

    val expect = (oracleRows(cfgA) ++ oracleRows(cfgB).map {
      case (c, t, r, x, tool) => (s"b-$c", t, r, x, tool)
    }).sortBy(e => (e._1, e._2))
    assert(tableRows(pA) == expect)

    // marks and cursors are per source; replays stay idempotent per source
    val snap = pA.table.loadCurrent()
    assert(snap.hwms("srcA") == 1199L && snap.hwms("srcB") == 599L)
    assert(snap.cursors("srcA") == 5L && snap.cursors("srcB") == 2L)
    assert(pA.runAll(spark) == 0 && pB.runAll(spark) == 0)
  }

  test("replaying an already-committed batch is skipped (idempotent commit)") {
    val cfg = BinlogConfig(numEvents = 300, numConversations = 5, segmentSize = 100)
    val src = tmpDir("binlog-idem")
    val tbl = tmpDir("table-idem")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new CdcPipeline(PipelineConfig(src, tbl, segmentsPerBatch = 1, numBuckets = 4))
    p.runAll(spark)
    val before = p.table.loadCurrent()
    // Force a replay of batch 0 through the merge path.
    val r = graft.ops.MergeInto(spark, p.table,
      p.readBatch(spark, Seq("segment=0")), p.batchKey(0), "replay")
    assert(r.skipped)
    assert(p.table.loadCurrent().version == before.version)
  }

  test("schema evolution: tool column appears mid-stream; old snapshots stay readable") {
    val cfg = BinlogConfig(numEvents = 1000, numConversations = 10,
      segmentSize = 100, evolveAtLsn = 500)
    val src = tmpDir("binlog-evolve")
    val tbl = tmpDir("table-evolve")
    BinlogGenerator.writeSegments(spark, cfg, src)

    val p = new CdcPipeline(PipelineConfig(src, tbl, segmentsPerBatch = 2, numBuckets = 4))
    p.ensureTable()
    // v1 schema has no tool column; feed pre-evolution batches with the
    // narrow schema to prove widening happens when the column first appears.
    assert(p.table.loadCurrent().schema.fieldNames.toSeq == Model.physicalSchemaV1.fieldNames.toSeq)
    p.runAll(spark)
    val snap = p.table.loadCurrent()
    assert(snap.schema.fieldNames.contains("tool"))
    assert(tableRows(p) == oracleRows(cfg))
    // time travel: every historical snapshot is still readable
    p.table.versions.foreach { v =>
      p.table.read(spark, p.table.loadVersion(v)).count()
    }
    // pre-evolution rows surface with null tool, post-evolution some non-null
    assert(p.currentState(spark).where("tool is not null").count() > 0)
  }

  test("kill-resume: crash between data-file write and pointer swap reconverges") {
    val cfg = BinlogConfig(numEvents = 1500, numConversations = 15,
      segmentSize = 100, dupPct = 5)
    val src = tmpDir("binlog-kill")
    BinlogGenerator.writeSegments(spark, cfg, src)

    // uninterrupted run = the expected state
    val tblA = tmpDir("table-kill-a")
    val pa = new CdcPipeline(PipelineConfig(src, tblA, segmentsPerBatch = 2, numBuckets = 4))
    pa.runAll(spark)

    // interrupted run: crash in the publish window of batch 3
    val tblB = tmpDir("table-kill-b")
    val pb = new CdcPipeline(PipelineConfig(src, tblB, segmentsPerBatch = 2, numBuckets = 4))
    pb.ensureTable()
    var applied = 0
    pb.table.beforePublishHook = snap => {
      if (applied == 3) throw new RuntimeException("simulated crash before publish")
    }
    val crashed = intercept[RuntimeException] {
      while (true) { pb.runOnce(spark); applied += 1 }
    }
    assert(crashed.getMessage.contains("simulated crash") ||
      crashed.getMessage.contains("publish"))
    pb.table.beforePublishHook = _ => ()

    // resume with a fresh pipeline instance (new process semantics)
    val pc = new CdcPipeline(PipelineConfig(src, tblB, segmentsPerBatch = 2, numBuckets = 4))
    // crash left staged-but-unpublished files. The default age guard must
    // refuse them while fresh (they could be a concurrent writer's staged
    // commit); minAgeMs=0 is the offline-repair form for a known-dead
    // writer, which this test is.
    assert(pc.table.gcOrphans().isEmpty)
    val orphans = pc.table.gcOrphans(minAgeMs = 0L)
    assert(orphans.nonEmpty)
    pc.runAll(spark)

    assert(tableRows(pc) == tableRows(pa))
    assert(tableRows(pc) == oracleRows(cfg))
    // no duplicate lineage rows after resume
    val keys = pc.table.fullLineage().map(_.batchKey)
    assert(keys.distinct.length == keys.length)
  }

  test("structured streaming variant converges to the same state") {
    val cfg = BinlogConfig(numEvents = 1200, numConversations = 12,
      segmentSize = 100, dupPct = 5)
    val src = tmpDir("binlog-ss")
    val tbl = tmpDir("table-ss")
    val ckpt = tmpDir("ckpt-ss")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new CdcPipeline(PipelineConfig(src, tbl, sourceId = "ss", numBuckets = 4))
    val q = p.startStream(spark, ckpt, maxFilesPerTrigger = 3)
    q.awaitTermination(120000)
    assert(tableRows(p) == oracleRows(cfg))
  }

  test("partial trailing batch then late segments: resume consumes by segment number, no loss") {
    // 6 segments staged; only segment=0 visible first. With spb=4 the engine
    // commits a PARTIAL batch [seg0]; when the rest arrive, resume must pick
    // up from the persisted segment cursor — index math (batch 1 -> segments
    // [4,8)) would silently skip segments 1-3.
    val cfg = BinlogConfig(numEvents = 600, numConversations = 8,
      segmentSize = 100, dupPct = 5)
    val staging = tmpDir("binlog-partial-staging")
    val src = tmpDir("binlog-partial")
    BinlogGenerator.writeSegments(spark, cfg, staging)
    def arrive(seg: Int): Unit =
      java.nio.file.Files.move(
        java.nio.file.Paths.get(staging, s"segment=$seg"),
        java.nio.file.Paths.get(src, s"segment=$seg"))

    arrive(0)
    val tbl = tmpDir("table-partial")
    val p = new CdcPipeline(PipelineConfig(src, tbl, segmentsPerBatch = 4, numBuckets = 4))
    assert(p.runAll(spark) == 1) // partial batch [seg0] committed
    assert(p.table.loadCurrent().cursors == Map("binlog" -> 0L))

    (1 to 5).foreach(arrive)
    val p2 = new CdcPipeline(PipelineConfig(src, tbl, segmentsPerBatch = 4, numBuckets = 4))
    p2.runAll(spark)
    assert(p2.table.loadCurrent().cursors == Map("binlog" -> 5L))
    assert(tableRows(p2) == oracleRows(cfg))
  }

  test("quarantine is null-safe: null key/turn_idx rows divert, never vanish") {
    import spark.implicits._
    val src = tmpDir("binlog-q")
    val tbl = tmpDir("table-q")
    val p = new CdcPipeline(PipelineConfig(src, tbl, numBuckets = 4, quarantine = true))
    p.ensureTable()
    val batch = Seq(
      (1L, "I", "conv-a", 0, "user", "ok", null: String, new java.sql.Timestamp(0L)),
      (2L, "I", null: String, 1, "user", "null key", null: String, new java.sql.Timestamp(0L)),
      (3L, "I", "conv-b", -5, "user", "neg turn", null: String, new java.sql.Timestamp(0L)),
      (4L, "I", "conv-c", 2, "user", "ok2", null: String, new java.sql.Timestamp(0L)))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    // null turn_idx row: build via union with a null-int projection
    val nullTurn = batch.limit(1).selectExpr(
      "5L as lsn", "'I' as op", "'conv-d' as conv_id",
      "cast(null as int) as turn_idx", "role", "'null turn' as text", "tool", "ts")
    val all = batch.unionByName(nullTurn)
    val routed = p.route(spark, all, 0)
    // exactly the two clean rows reach the merge; three rows quarantined
    assert(routed.count() == 2)
    val q = spark.read.parquet(s"$tbl/quarantine/batch=0")
    assert(q.count() == 3)
    assert(routed.count() + q.count() == all.count()) // nothing vanished
  }

  test("Integrity.validate is null-safe: null text rejects instead of vanishing") {
    import spark.implicits._
    val df = Seq(("a", "good"), ("b", null: String))
      .toDF("id", "text")
    val stamped = graft.ops.Integrity.withCrc(df)
    val (ok, bad) = graft.ops.Integrity.validate(stamped)
    assert(ok.count() == 1 && bad.count() == 1)
    assert(bad.select("id").as[String].collect().toSeq == Seq("b"))
  }

  test("pipelined drain equals sequential on a delete+dup-heavy log") {
    // stress the prepare/apply overlap's correctness edge: duplicates
    // re-emitted into the NEXT segment after a later delete of the same key
    // must not resurrect the row (the hwm filter runs at apply time)
    val cfg = BinlogConfig(numEvents = 2400, numConversations = 12,
      segmentSize = 200, dupPct = 25, pDelete = 0.2)
    val src = tmpDir("binlog-pipe")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val pa = new CdcPipeline(PipelineConfig(src, tmpDir("table-pipe-a"),
      segmentsPerBatch = 2, numBuckets = 4))
    pa.runAll(spark)
    val pb = new CdcPipeline(PipelineConfig(src, tmpDir("table-pipe-b"),
      segmentsPerBatch = 2, numBuckets = 4))
    val batches = pb.runAllPipelined(spark)
    assert(batches == 6)
    assert(tableRows(pb) == tableRows(pa))
    assert(tableRows(pb) == oracleRows(cfg))
    // kill-resume across the pipelined path: crash then resume pipelined
    val pc = new CdcPipeline(PipelineConfig(src, tmpDir("table-pipe-c"),
      segmentsPerBatch = 2, numBuckets = 4))
    pc.runAllPipelined(spark, maxBatches = 3)
    val pc2 = new CdcPipeline(pc.cfg)
    pc2.runAllPipelined(spark)
    assert(tableRows(pc2) == oracleRows(cfg))
  }

  test("adaptive batching: backpressure policy sizes batches; replay still converges") {
    val cfg = BinlogConfig(numEvents = 800, numConversations = 8,
      segmentSize = 100, dupPct = 5)
    val src = tmpDir("binlog-adaptive")
    val tbl = tmpDir("table-adaptive")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new CdcPipeline(PipelineConfig(src, tbl, segmentsPerBatch = 4,
      numBuckets = 4, adaptiveBatching = true, targetBatchSec = 0.001))
    // policy unit checks (pure function): slow batches shrink, fast ones
    // grow at most 2x, always clamped to [1, maxSpb]
    assert(p.nextBatchSize(lastSegments = 4, lastSec = 8.0, targetSec = 2.0, maxSpb = 16) == 1)
    assert(p.nextBatchSize(lastSegments = 2, lastSec = 0.1, targetSec = 10.0, maxSpb = 16) == 4)
    assert(p.nextBatchSize(lastSegments = 8, lastSec = 0.1, targetSec = 1000.0, maxSpb = 12) == 12)
    // end to end: a millisecond target forces single-segment batches after
    // the first; correctness is unaffected
    p.runAll(spark)
    assert(p.dynamicSpb == 1)
    assert(p.lineage(spark).count() >= 5) // 8 segments, first batch <=4, rest 1
    assert(tableRows(p) == oracleRows(cfg))
  }

  test("rescale landing between a pipelined prepare and its apply: no stale buckets, no duplicate keys") {
    val cfg = BinlogConfig(numEvents = 1600, numConversations = 10,
      segmentSize = 200, dupPct = 5, pDelete = 0.2)
    val src = tmpDir("binlog-prep-race")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new CdcPipeline(PipelineConfig(src, tmpDir("table-prep-race"),
      segmentsPerBatch = 4, numBuckets = 2))
    p.runAll(spark, maxBatches = 1) // segments 0..3 at 2 buckets

    // the pipelined drain's exact interleaving, made deterministic: batch 2
    // is PREPARED against the 2-bucket snapshot, then a rescale commits,
    // then the prepared batch APPLIES against the 8-bucket table
    val slice = p.listSegments().filter(s => p.segNum(s) > p.consumedSegment())
    val batch = p.readBatch(spark, slice)
    val prep = graft.ops.MergeInto.prepare(spark, batch,
      p.table.loadCurrent().numBuckets) // stale: 2 buckets
    graft.ops.Rescale(spark, p.table, newNumBuckets = 8)
    val r = graft.ops.MergeInto(spark, p.table, batch,
      p.batchKey(p.lastCommittedBatch() + 1), source = slice.mkString(","),
      cursor = Some("binlog" -> slice.map(p.segNum).max),
      prepared = Some(prep))
    assert(!r.skipped)

    // converged to the oracle, every file under the new layout, and the
    // copy-on-write key-uniqueness invariant holds (a stale-bucket prune
    // would leave the old version of an updated key behind as a duplicate)
    assert(tableRows(p) == oracleRows(cfg))
    val snap = p.table.loadCurrent()
    assert(snap.numBuckets == 8)
    assert(p.table.filesOf(snap).forall(f => f.bucket >= 0 && f.bucket < 8))
    val dups = p.table.read(spark)
      .groupBy("conv_id", "turn_idx")
      .count().filter(org.apache.spark.sql.functions.col("count") > 1).count()
    assert(dups == 0, s"$dups duplicate keys after rescale-raced apply")
    assert(p.runAll(spark) == 0) // cursor advanced; nothing pending
  }

  test("disk guard pauses intake at the batch boundary and resumes once space clears") {
    val cfg = BinlogConfig(numEvents = 600, numConversations = 6, segmentSize = 100)
    val src = tmpDir("binlog-disk")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new CdcPipeline(PipelineConfig(src, tmpDir("table-disk"),
      segmentsPerBatch = 2, numBuckets = 2, minFreeBytes = 1L << 20))
    // drain one batch, then the disk "fills": both drain modes stop cleanly
    assert(p.runAll(spark, maxBatches = 1) == 1)
    p.freeSpaceProbe = () => 1024L
    assert(p.runAll(spark) == 0)
    assert(p.runAllPipelined(spark) == 0)
    val paused = p.table.loadCurrent()
    assert(paused.version > 0) // the committed prefix is intact
    // space clears -> the same pipeline resumes from its cursor and converges
    p.freeSpaceProbe = () => Long.MaxValue
    assert(p.runAll(spark) > 0)
    assert(tableRows(p) == oracleRows(cfg))
    // a guard-less config never consults the probe
    val p2 = new CdcPipeline(PipelineConfig(src, tmpDir("table-disk2"),
      segmentsPerBatch = 2, numBuckets = 2))
    p2.freeSpaceProbe = () => sys.error("probe must not be called when minFreeBytes=0")
    p2.runAll(spark)
    assert(tableRows(p2) == oracleRows(cfg))
  }

  test("hot-key batch: in-task dedup produces identical state") {
    // zipfS high => one conversation dominates
    val cfg = BinlogConfig(numEvents = 3000, numConversations = 10,
      zipfS = 2.5, segmentSize = 500, dupPct = 5)
    val src = tmpDir("binlog-hot")
    val tbl = tmpDir("table-hot")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new CdcPipeline(PipelineConfig(src, tbl, segmentsPerBatch = 2,
      numBuckets = 4))
    p.runAll(spark)
    assert(tableRows(p) == oracleRows(cfg))
  }

  test("runOnce loop: one metrics line per commit, and in-drain maintenance bounds live files") {
    val cfg = BinlogConfig(numEvents = 1500, numConversations = 10,
      segmentSize = 100, dupPct = 5)
    val src = tmpDir("binlog-runonce")
    BinlogGenerator.writeSegments(spark, cfg, src)
    // merge-on-read adds delta files every batch, so only maintenance can
    // bound the live-file count
    val p = new CdcPipeline(PipelineConfig(src, tmpDir("table-runonce"),
      segmentsPerBatch = 1, numBuckets = 2, recordMetrics = true,
      mergeOnRead = true, maintenanceEveryBatches = 5,
      compactMaxFilesPerBucket = 2, retainSnapshots = 3))
    var commits = 0
    while (p.runOnce(spark).isDefined) commits += 1
    assert(commits == p.listSegments().size)
    val lines = p.metrics(spark).collect()
    assert(lines.count(_.getAs[String]("mode") == "batch") == commits,
      s"want one batch line per commit: ${lines.map(_.getAs[String]("mode")).toSeq}")
    val snap = p.table.loadCurrent()
    assert(snap.numFiles <= 2 + 2 * 5,
      s"maintenance failed to bound files: ${snap.numFiles}")
    assert(p.table.versions.size <= 3 + 2 * 5,
      s"snapshot history unbounded: ${p.table.versions.size} versions")
    assert(tableRows(p) == oracleRows(cfg))
  }

  test("prepare-ahead: a failed apply cancels the in-flight next prepare and leaks no cache") {
    val sc = spark.sparkContext
    def idle(): Boolean = {
      val deadline = System.currentTimeMillis() + 10000
      while (sc.statusTracker.getActiveJobIds().nonEmpty &&
        System.currentTimeMillis() < deadline) Thread.sleep(50)
      sc.statusTracker.getActiveJobIds().isEmpty
    }
    import spark.implicits._
    val batch = Seq((1L, "U", "conv-1", 0, "user", "t", None: Option[String],
      new java.sql.Timestamp(0L)))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    // batch 1's prepare is a minute-long job; batch 0's apply fails while
    // that job runs, so only the cancel can end the drain quickly
    val t0 = System.nanoTime()
    val e = intercept[RuntimeException] {
      graft.ops.MergeInto.prepareAhead(spark, Iterator(0, 1)) { b =>
        if (b == 1) sc.parallelize(1 to 4, 4).foreach(_ => Thread.sleep(60000))
        graft.ops.MergeInto.prepare(spark, batch, numBuckets = 2)
      } { (_, _) =>
        val deadline = System.currentTimeMillis() + 10000
        while (sc.statusTracker.getActiveJobIds().isEmpty &&
          System.currentTimeMillis() < deadline) Thread.sleep(20)
        throw new RuntimeException("simulated apply failure")
      }
    }
    assert(e.getMessage == "simulated apply failure")
    assert((System.nanoTime() - t0) / 1e9 < 30, "in-flight prepare was not cancelled")
    assert(idle(), "prepare job still running after the drain failed")
    assert(sc.getPersistentRDDs.isEmpty,
      s"failed drain left ${sc.getPersistentRDDs.size} cached RDDs pinned")
  }

  test("prepare-ahead drain: an apply failure leaves nothing cached and a resumed drain converges") {
    val cfg = BinlogConfig(numEvents = 1200, numConversations = 10,
      segmentSize = 200, dupPct = 10, pDelete = 0.2)
    val src = tmpDir("binlog-prepfail")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new CdcPipeline(PipelineConfig(src, tmpDir("table-prepfail"),
      segmentsPerBatch = 1, numBuckets = 2))
    p.ensureTable()
    var commits = 0
    p.table.beforePublishHook = _ => {
      if (commits == 2) throw new RuntimeException("simulated apply failure")
      commits += 1
    }
    val e = intercept[RuntimeException](p.runAllPipelined(spark))
    assert(e.getMessage.contains("simulated apply failure"))
    p.table.beforePublishHook = _ => ()
    assert(p.table.loadCurrent().version == 2)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      s"failed drain left ${spark.sparkContext.getPersistentRDDs.size} cached RDDs pinned")
    val resumed = new CdcPipeline(p.cfg)
    assert(resumed.runAllPipelined(spark) == p.listSegments().size - 2)
    assert(tableRows(resumed) == oracleRows(cfg))
  }
}
