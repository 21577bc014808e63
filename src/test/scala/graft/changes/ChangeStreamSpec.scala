package graft.changes

import graft.SparkSpec
import graft.cdc.{CdcPipeline, Chain, PipelineConfig}
import graft.model.Model
import graft.source.{BinlogConfig, BinlogGenerator}
import graft.table.{ChangeMarks, ChronicleTable}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** The native change-stream source (`format("graft.changes")`) and the
  * stream-driven chain ([[graft.cdc.Chain.followStream]]/`syncStream`):
  * the reference's continuous notice-consumer loop
  * (S3Consumer.java:98-158) as a DataSource v2 micro-batch stream whose
  * offsets are snapshot versions and whose batches are manifest-pruned
  * net changes.
  */
class ChangeStreamSpec extends SparkSpec {

  private def visible(t: ChronicleTable) =
    t.read(spark).filter(!col(Model.deletedColumn))
      .select("conv_id", "turn_idx", "text")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet

  private def noDupKeys(t: ChronicleTable): Unit = {
    val dup = t.read(spark).filter(!col(Model.deletedColumn))
      .groupBy("conv_id", "turn_idx").count().filter(col("count") > 1).count()
    assert(dup == 0L)
  }

  private def stream(root: String, opts: Map[String, String] = Map.empty) =
    new ChangesMicroBatchStream(
      new ChronicleTable(root).loadCurrent().schema, root,
      new CaseInsensitiveStringMap((opts + ("path" -> root)).asJava))

  /** The rows one micro-batch ships, read on the driver through the
    * stream's own partitions and reader factory:
    * (conv_id, turn_idx, _lsn, _deleted, _source).
    */
  private def shipped(root: String, ms: org.apache.spark.sql.connector.read
      .streaming.MicroBatchStream, from: VersionOffset, to: VersionOffset)
      : Seq[(String, Int, Long, Boolean, String)] = {
    val parts = ms.planInputPartitions(from, to)
    val factory = ms.createReaderFactory()
    val schema = new ChronicleTable(root).loadCurrent().schema
    def at(n: String) = schema.fieldIndex(n)
    val (k, t, l, d, src) = (at("conv_id"), at("turn_idx"),
      at(Model.lsnColumn), at(Model.deletedColumn), at(Model.sourceColumn))
    parts.toSeq.flatMap { p =>
      val r = factory.createReader(p)
      try Iterator.continually(r).takeWhile(_.next()).map(_.get()).map { row =>
        (row.getUTF8String(k).toString, row.getInt(t), row.getLong(l),
          row.getBoolean(d),
          if (row.isNullAt(src)) null else row.getUTF8String(src).toString)
      }.toList
      finally r.close()
    }
  }

  /** Change rows as a table's merge takes them (`_lsn` as `lsn`). */
  private def changeBatch(rows: Seq[(Long, String, String, Int)]) = {
    import spark.implicits._
    rows.map { case (lsn, op, k, turn) =>
      (lsn, op, k, turn, "user", s"text $lsn", None: Option[String],
        new java.sql.Timestamp(1704067200000L))
    }.toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
  }

  /** Commits rows (table columns, `_source` null or a tag) as one merge-on-
    * read delta file that no engine write made: its commit raises no
    * source mark, and `stats = false` strips its `_lsn` stats.
    */
  private def commitForeignFile(t: ChronicleTable, key: String,
      rows: Seq[(Long, String, Int, String)], stats: Boolean): Unit = {
    import org.apache.spark.sql.Row
    val base = t.loadCurrent()
    val data = spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (lsn, k, turn, tag) =>
        val v = Map("conv_id" -> k, "turn_idx" -> turn, "role" -> "user",
          "text" -> s"foreign $lsn", "ts" -> new java.sql.Timestamp(1704067200000L),
          Model.lsnColumn -> lsn, Model.deletedColumn -> false,
          Model.sourceColumn -> tag)
        Row.fromSeq(base.schema.fieldNames.toSeq.map(v.getOrElse(_, null)))
      }), base.schema)
      .withColumn("bucket", ChronicleTable.bucketExpr("conv_id", base.numBuckets))
      .repartition(col("bucket")).sortWithinPartitions("conv_id", "turn_idx")
    val files = graft.ops.StagedWrite(t, data).map { f =>
      if (stats) f.copy(delta = true) else f.copy(delta = true, minLsn = -1L, maxLsn = -1L)
    }
    t.commit(base, graft.table.PendingCommit(key, Nil, files, None,
      graft.table.LineageEntry(key, "foreign file", -1L, -1L, 0L, 0L,
        rows.size.toLong, 0L, Map.empty, -1L)))
  }

  test("syncStream bootstraps, then tails a TWO-SOURCE upstream exactly-once") {
    val cfgA = BinlogConfig(numEvents = 800, numConversations = 6,
      segmentSize = 200, dupPct = 5, pDelete = 0.0)
    val cfgB = BinlogConfig(numEvents = 400, numConversations = 4,
      segmentSize = 200, dupPct = 5, pDelete = 0.0)
    val srcA = tmpDir("cs-bl-a")
    BinlogGenerator.writeSegments(spark, cfgA, srcA)
    val rawB = tmpDir("cs-bl-braw")
    val srcB = tmpDir("cs-bl-b")
    BinlogGenerator.writeSegments(spark, cfgB, rawB)
    spark.read.parquet(rawB)
      .withColumn("conv_id", concat(lit("b-"), col("conv_id")))
      .write.partitionBy("segment").mode("overwrite").parquet(srcB)

    val up = tmpDir("cs-up")
    val down = new ChronicleTable(tmpDir("cs-down"))
    val pA = new CdcPipeline(PipelineConfig(srcA, up, sourceId = "srcA",
      segmentsPerBatch = 2, numBuckets = 4))
    pA.runAll(spark)

    // run 1: bootstrap (batch 0 = the full visible state of source A)
    Chain.syncStream(spark, pA.table, down, numBuckets = 4)
    assert(visible(down) == visible(pA.table))

    // source B lands upstream with LSNs entirely BELOW srcA's mark; the
    // stream's per-source mark filter must still ship every B row
    val pB = new CdcPipeline(PipelineConfig(srcB, up, sourceId = "srcB",
      segmentsPerBatch = 2, numBuckets = 4))
    pB.runAll(spark)
    Chain.syncStream(spark, pA.table, down, numBuckets = 4)
    assert(visible(down) == visible(pA.table))
    noDupKeys(down)
    // downstream marks mirror the upstream's per source (chainable further)
    val upSnap = pA.table.loadCurrent()
    val downSnap = down.loadCurrent()
    assert(downSnap.hwms("srcA") == upSnap.hwms("srcA"))
    assert(downSnap.hwms("srcB") == upSnap.hwms("srcB"))
    // batch-id ledger keys tile contiguously and fold to floors
    assert(downSnap.committedBatches.isEmpty,
      s"stream ledger must fold to floors, found " +
        s"${downSnap.committedBatches.keySet}")

    // caught up: a third run applies nothing (version unchanged)
    val v = down.loadCurrent().version
    Chain.syncStream(spark, pA.table, down, numBuckets = 4)
    assert(visible(down) == visible(pA.table))
    noDupKeys(down)
    // only cursor-less quiet batches may commit; state rows are unchanged
    assert(down.loadCurrent().totalRows ==
      downSnap.totalRows, "caught-up sync must not re-apply rows")
    assert(down.loadCurrent().version <= v + 1)
  }

  test("followStream tails live commits and a restart resumes from the checkpoint") {
    val cfg = BinlogConfig(numEvents = 900, numConversations = 6,
      segmentSize = 150, dupPct = 5, pDelete = 0.0)
    val src = tmpDir("cs-f-bl")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new CdcPipeline(PipelineConfig(src, tmpDir("cs-f-up"),
      segmentsPerBatch = 1, numBuckets = 4))
    val down = new ChronicleTable(tmpDir("cs-f-down"))

    p.runAll(spark, maxBatches = 2)
    val q = Chain.followStream(spark, p.table, down, numBuckets = 4,
      intervalMs = 200L)
    try {
      p.runAll(spark, maxBatches = 4) // upstream commits WHILE the tail runs
      val deadline = System.currentTimeMillis() + 60000
      while (visible(down) != visible(p.table) &&
        System.currentTimeMillis() < deadline) Thread.sleep(250)
      assert(visible(down) == visible(p.table), "stream tail never caught up")
    } finally q.stop()

    // stopped mid-stream; upstream moves on; a RESTART (same checkpoint)
    // resumes from the offset WAL and converges — exactly-once across the
    // stop/start boundary
    p.runAll(spark)
    Chain.syncStream(spark, p.table, down, numBuckets = 4)
    val oracle = BinlogGenerator.referenceReduction(cfg)
      .values.map(e => (e.conv_id, e.turn_idx, e.text)).toSet
    assert(visible(down) == oracle)
    assert(visible(down) == visible(p.table))
    noDupKeys(down)
  }

  test("MOR upstream ships tombstones through the stream: deletes propagate") {
    val cfg = BinlogConfig(numEvents = 1200, numConversations = 10,
      segmentSize = 300, dupPct = 5, pDelete = 0.25)
    val src = tmpDir("cs-mor-bl")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new CdcPipeline(PipelineConfig(src, tmpDir("cs-mor-up"),
      segmentsPerBatch = 2, numBuckets = 4, mergeOnRead = true))
    val down = new ChronicleTable(tmpDir("cs-mor-down"))

    p.runAll(spark, maxBatches = 1)
    Chain.syncStream(spark, p.table, down, numBuckets = 4, mergeOnRead = true)
    assert(visible(down) == visible(p.table))
    p.runAll(spark) // the rest, including deletes of keys shipped in sync 1
    // per-trigger maintenance rides the stream chain too: the downstream's
    // MOR deltas fold as the tail progresses instead of accumulating
    Chain.syncStream(spark, p.table, down, numBuckets = 4, mergeOnRead = true,
      maintainEveryTriggers = 1)
    assert(visible(down) == visible(p.table))
    assert(down.loadCurrent().manifestList.map(_.deltaFiles).sum == 0,
      "stream-chain maintenance must fold the downstream's deltas")
    val oracle = BinlogGenerator.referenceReduction(cfg)
      .values.map(e => (e.conv_id, e.turn_idx, e.text)).toSet
    assert(visible(down) == oracle)
  }

  test("CHUNKED stream bootstrap: lands in multiple micro-batches; a crash between slices resumes from the WAL") {
    val cfg = BinlogConfig(numEvents = 1200, numConversations = 10,
      segmentSize = 300, dupPct = 5, pDelete = 0.2)
    val src = tmpDir("cs-cb-bl")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new CdcPipeline(PipelineConfig(src, tmpDir("cs-cb-up"),
      segmentsPerBatch = 1, numBuckets = 4, mergeOnRead = true))
    p.runAll(spark)
    val oracle = BinlogGenerator.referenceReduction(cfg)
      .values.map(e => (e.conv_id, e.turn_idx, e.text)).toSet

    // offset-level slice plan: initialOffset pins (slices, lsn bounds);
    // latestOffset walks one slice per micro-batch; slice partitions tile
    // the lsn axis disjointly
    val ms = stream(p.table.root,
      Map("startingVersion" -> "bootstrap", "bootstrapSlices" -> "3"))
    val o0 = ms.initialOffset().asInstanceOf[VersionOffset]
    assert(o0.slices == 3 && o0.slice == -1 && o0.lsnMin >= 0)
    val o1 = ms.latestOffset(o0, null).asInstanceOf[VersionOffset]
    val o2 = ms.latestOffset(o1, null).asInstanceOf[VersionOffset]
    val o3 = ms.latestOffset(o2, null).asInstanceOf[VersionOffset]
    assert(Seq(o1.slice, o2.slice, o3.slice) == Seq(0, 1, 2))
    // idle after the last slice (upstream unchanged): offset returns as-is
    assert(ms.latestOffset(o3, null) == o3)
    // offsets round-trip through the WAL json
    assert(ms.deserializeOffset(o2.json()) == o2)
    val counts = Seq((o0, o1), (o1, o2), (o2, o3)).map { case (a, b) =>
      ms.planInputPartitions(a, b).toSeq
    }
    assert(counts.flatten.nonEmpty)
    val intervals = Seq(o1, o2, o3).map(o => ChronicleTable
      .lsnSliceInterval(o.lsnMin, o.lsnMax, o.slice, o.slices))
    assert(intervals.head._1 == Long.MinValue &&
      intervals.last._2 == Long.MaxValue)
    assert(intervals(0)._2 + 1 == intervals(1)._1 &&
      intervals(1)._2 + 1 == intervals(2)._1, s"slices must tile: $intervals")

    // end-to-end: the sliced bootstrap converges and the stream cursor
    // shows it took one micro-batch per slice
    val down = new ChronicleTable(tmpDir("cs-cb-down"))
    Chain.syncStream(spark, p.table, down, numBuckets = 4,
      mergeOnRead = true, bootstrapSlices = 3)
    assert(visible(down) == oracle)
    assert(visible(down) == visible(p.table))
    noDupKeys(down)
    assert(down.loadCurrent().cursors(
      s"${Chain.streamCursorPrefix}${p.table.root}") >= 2L,
      "bootstrap must have spanned at least 3 micro-batches")

    // crash BETWEEN slices: the second slice's commit dies; the restarted
    // query replays the SAME slice plan from the offset WAL, the committed
    // slice skips by ledger key, and the table converges
    val down2 = new ChronicleTable(tmpDir("cs-cb-down2"))
    val commits = new java.util.concurrent.atomic.AtomicInteger(0)
    down2.beforePublishHook = _ =>
      if (commits.incrementAndGet() == 2)
        throw new RuntimeException("crash between stream bootstrap slices")
    intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      Chain.syncStream(spark, p.table, down2, numBuckets = 4,
        mergeOnRead = true, bootstrapSlices = 3)
    }
    down2.beforePublishHook = _ => ()
    Chain.syncStream(spark, p.table, down2, numBuckets = 4,
      mergeOnRead = true, bootstrapSlices = 3)
    assert(visible(down2) == oracle)
    noDupKeys(down2)
  }

  test("micro-batch planning prunes pre-cursor files at the manifest") {
    import graft.ops.MergeInto
    val cfg = BinlogConfig(numEvents = 1600, numConversations = 12,
      segmentSize = 200, dupPct = 0, pDelete = 0.0)
    val src = tmpDir("cs-pr-bl")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new CdcPipeline(PipelineConfig(src, tmpDir("cs-pr-up"),
      segmentsPerBatch = 2, numBuckets = 8))
    p.runAll(spark)
    val t = p.table
    val fromV = t.loadCurrent().version
    // a small follow-up commit from the SAME source (a new prefix would
    // reset its mark to -1 and legitimately disable pruning) touching ONE
    // conversation = one bucket; every other bucket's files predate the
    // cursor and must be pruned from the plan
    val hwm = t.loadCurrent().hwms("binlog")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val sideload = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(hwm + 1, "I", "conv-tail", 0, "user", "late turn", null,
          new java.sql.Timestamp(0L)),
        Row(hwm + 2, "I", "conv-tail", 1, "assistant", "late reply", null,
          new java.sql.Timestamp(0L)))),
      StructType(Seq(
        StructField("lsn", LongType), StructField("op", StringType),
        StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
        StructField("role", StringType), StructField("text", StringType),
        StructField("tool", StringType), StructField("ts", TimestampType))))
    MergeInto(spark, t, sideload, s"binlog#9999", "late writer")
    val toV = t.loadCurrent().version
    assert(toV > fromV)

    val s = stream(t.root)
    val parts = s
      .planInputPartitions(VersionOffset(fromV), VersionOffset(toV))
      .flatMap(partitionPaths)
    val since = t.loadVersion(fromV)
    val thr = since.hwms.values.min
    val live = t.filesOf(t.loadVersion(toV))
    // every planned file can contain post-cursor rows; at least one live
    // file (an untouched bucket's) is pruned without being opened
    assert(parts.nonEmpty)
    assert(parts.forall(f => live.exists(_.path == f)))
    val planned = parts.toSet
    val keptMeta = live.filter(f => planned.contains(f.path))
    assert(keptMeta.forall(f => f.maxLsn < 0L || f.maxLsn > thr))
    assert(planned.size < live.size,
      s"changelog planning read all ${live.size} live files — no pruning")
    // the batch itself carries exactly the per-source marks of the cursor
    assert(s.batch.changes.map(_.floors) == Some(since.hwms.map {
      case (k, _) => k -> since.hwmFor(k)
    }))

    // bootstrap (fromV = -1) plans the FULL live set, unfiltered
    val boot = s.planInputPartitions(VersionOffset(-1L), VersionOffset(toV))
      .flatMap(partitionPaths)
    assert(boot.toSet == live.map(_.path).toSet)
    assert(s.batch.changes == Some(ChangeMarks.slice(Long.MinValue, Long.MaxValue)))
  }

  test("every stream batch, LWW-collapsed per key, equals readChanges over the same versions") {
    import graft.ops.{Compaction, MergeInto, Rescale}
    // two ordered sources on disjoint keys (b's lsn sequence runs below
    // a's), merge-on-read with tombstones, a compaction, a rescale and a
    // copy-on-write commit between versions, then a foreign file whose
    // rows carry a source tag with no mark
    val t = new ChronicleTable(tmpDir("cs-agree"))
    t.create(Model.physicalSchemaV1, numBuckets = 4)
    def keys(s: String) = (0 until 8).map(i => f"$s-$i%02d")
    def inserts(s: String, lsn0: Long) = keys(s).zipWithIndex.flatMap {
      case (k, i) => Seq((lsn0 + 2 * i, "I", k, 0), (lsn0 + 2 * i + 1, "I", k, 1))
    }
    def mor(rows: Seq[(Long, String, String, Int)], key: String) =
      MergeInto(spark, t, changeBatch(rows), key, "t", mergeOnRead = true)
    val steps: Seq[() => Any] = Seq(
      () => mor(inserts("a", 100L), "a#0"),
      () => mor(inserts("b", 1L), "b#0"),
      () => mor(Seq((200L, "U", "a-00", 0), (201L, "U", "a-01", 1),
        (202L, "D", "a-02", 0), (203L, "D", "a-03", 1)), "a#1"),
      () => Compaction(spark, t),
      () => mor(Seq((30L, "U", "b-00", 0), (31L, "D", "b-01", 0),
        (32L, "D", "b-02", 1)), "b#1"),
      () => Rescale(spark, t, 2),
      () => mor(Seq((300L, "I", "a-02", 0), (301L, "U", "a-04", 1),
        (302L, "D", "a-05", 0)), "a#2"),
      () => MergeInto(spark, t, changeBatch(Seq((40L, "U", "b-03", 0),
        (41L, "U", "b-04", 1))), "b#2", "t"),
      () => commitForeignFile(t, "foreign#0",
        Seq((500L, "g-00", 0, "ghost"), (501L, "g-01", 0, "ghost")), stats = true))
    def collapse(rows: Seq[(String, Int, Long, Boolean, String)]) =
      rows.groupBy(r => (r._1, r._2)).values.map(_.maxBy(_._3)).toSet
    var pairs = 0
    var tombstones = 0
    steps.zipWithIndex.foreach { case (step, i) =>
      step()
      val to = t.loadCurrent()
      val raw = t.scanLsnInterval(spark, to, Long.MinValue, Long.MaxValue)
        .select(Model.sourceColumn).distinct().collect().map(_.getString(0)).toSet
      if (i < steps.size - 1)
        // no engine write lands a row whose source has no mark
        assert(raw.subsetOf(to.hwms.keySet), s"v${to.version}: tags $raw, marks ${to.hwms}")
      else assert(raw.contains("ghost") && !to.hwms.contains("ghost"))
      val ms = stream(t.root)
      (0L until to.version).foreach { fromV =>
        val want = t.readChanges(spark, fromV)
          .select("conv_id", "turn_idx", Model.lsnColumn, Model.deletedColumn,
            Model.sourceColumn)
          .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
            r.getBoolean(3), r.getString(4))).toSet
        val got = shipped(t.root, ms, VersionOffset(fromV), VersionOffset(to.version))
        assert(collapse(got) == want, s"($fromV, ${to.version}]")
        assert(!got.exists(_._5 == "ghost"), s"($fromV, ${to.version}] shipped a markless row")
        pairs += 1
        tombstones += want.count(_._4)
      }
    }
    assert(pairs == 45 && tombstones > 0, s"$pairs pairs, $tombstones tombstones")
  }

  test("the mark rule is exact at the lsn extremes: sliced bootstrap ships every row once, a Long.MaxValue mark ships nothing") {
    import graft.ops.MergeInto
    val t = new ChronicleTable(tmpDir("cs-extreme"))
    t.create(Model.physicalSchemaV1, numBuckets = 2)
    // engine rows at lsn 0 and Long.MaxValue share bucket 0; a file with
    // no lsn stats (untagged rows, Long.MinValue among them) sits alone in
    // bucket 1, so the manifests still bound the slicing axis at [0, max]
    def inBucket(b: Int) = Iterator.from(0).map(i => f"x-$i%02d")
      .filter(ChronicleTable.bucketOf(_, 2) == b)
    val Seq(k0, k1, k2) = inBucket(0).take(3).toSeq
    val Seq(f0, f1, f2) = inBucket(1).take(3).toSeq
    MergeInto(spark, t, changeBatch(Seq((0L, "I", k0, 0), (1L, "I", k1, 0),
      (Long.MaxValue, "I", k2, 0))), "a#0", "t", mergeOnRead = true)
    val markV = t.loadCurrent().version
    assert(t.loadCurrent().hwms == Map("a" -> Long.MaxValue))
    commitForeignFile(t, "foreign#0", Seq((Long.MinValue, f0, 0, null),
      (5L, f1, 0, null), (1L << 62, f2, 0, null)), stats = false)
    val snap = t.loadCurrent()
    assert(t.lsnBounds(snap) == (0L, Long.MaxValue))
    assert(t.filesOf(snap).exists(_.maxLsn < 0L), "fixture: a file without lsn stats")

    val ms = stream(t.root,
      Map("startingVersion" -> "bootstrap", "bootstrapSlices" -> "3"))
    val o0 = ms.initialOffset().asInstanceOf[VersionOffset]
    assert(o0.slices == 3)
    val offsets = Iterator.iterate(o0)(o =>
      ms.latestOffset(o, null).asInstanceOf[VersionOffset]).take(4).toSeq
    val slices = offsets.sliding(2).map { case Seq(a, b) =>
      shipped(t.root, ms, a, b).map(r => r._1 -> r._3) }.toSeq
    val all = Seq(k0 -> 0L, k1 -> 1L, k2 -> Long.MaxValue,
      f0 -> Long.MinValue, f1 -> 5L, f2 -> (1L << 62))
    assert(slices.flatten.sorted == all.sorted, s"slices shipped $slices")
    assert(slices.forall(_.nonEmpty), s"every slice ships a row: $slices")

    // a cursor whose only mark is Long.MaxValue: the tail batch plans the
    // files (Long.MaxValue floors prune nothing) and ships none of their rows
    val tail = stream(t.root)
    assert(tail.planInputPartitions(VersionOffset(markV),
      VersionOffset(snap.version)).nonEmpty)
    assert(shipped(t.root, tail, VersionOffset(markV), VersionOffset(snap.version)).isEmpty)
    assert(t.readChanges(spark, markV).count() == 0L)
  }

  test("columns option prunes the stream schema; tail batches stay exact under the pushed lsn floor") {
    import org.apache.spark.sql.streaming.Trigger
    val cfg = BinlogConfig(numEvents = 800, numConversations = 6,
      segmentSize = 200, dupPct = 5, pDelete = 0.0)
    val src = tmpDir("cs-col-bl")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new CdcPipeline(PipelineConfig(src, tmpDir("cs-col-up"),
      segmentsPerBatch = 2, numBuckets = 4))
    p.runAll(spark, maxBatches = 1)

    // the v2 streaming contract has no optimizer pushdown, so `columns`
    // IS the projection: requested data columns in table order, system
    // columns always riding along (they are the change metadata)
    val ck = tmpDir("cs-col-ck")
    val pruned = p.table.readChangeStream(spark,
      startingVersion = "bootstrap", columns = Seq("turn_idx", "conv_id"))
    assert(pruned.schema.fieldNames.toSeq ==
      Seq("conv_id", "turn_idx", Model.lsnColumn, Model.deletedColumn,
        Model.sourceColumn))

    // memory sink can't resume a checkpoint; foreachBatch can — collect
    // each drain pass's rows (conv_id, turn_idx, _lsn, _deleted)
    def drainTo(): Seq[(String, Int, Long, Boolean)] = {
      val got = new java.util.concurrent.ConcurrentLinkedQueue[
        (String, Int, Long, Boolean)]()
      val q = p.table.readChangeStream(spark,
          startingVersion = "bootstrap", columns = Seq("conv_id", "turn_idx"))
        .writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.select("conv_id", "turn_idx", Model.lsnColumn,
              Model.deletedColumn)
            .collect().foreach(r => got.add(
              (r.getString(0), r.getInt(1), r.getLong(2), r.getBoolean(3))))
          ()
        }
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ck)
        .start()
      q.awaitTermination()
      import scala.jdk.CollectionConverters._
      got.asScala.toSeq
    }

    // bootstrap batch = the full visible state, pruned columns only
    val boot = drainTo()
    val bootKeys = boot.filterNot(_._4).map(r => (r._1, r._2)).toSet
    val wantBoot = p.table.read(spark).filter(!col(Model.deletedColumn))
      .select("conv_id", "turn_idx")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSet
    assert(bootKeys == wantBoot)

    // upstream moves on; the SAME checkpoint resumes and the tail batch —
    // planned with the pushed `_lsn > floor` parquet filter — carries
    // exactly the net changes the batch changelog reports
    val fromV = p.table.loadCurrent().version
    p.runAll(spark)
    val tail = drainTo().map(r => (r._1, r._2, r._3)).toSet
    val want = p.table.readChanges(spark, fromV)
      .select("conv_id", "turn_idx", Model.lsnColumn)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet
    assert(tail == want, "pruned tail batch drifted from the batch changelog")

    // unknown names fail at stream construction, not as nulls mid-run
    val bad = intercept[IllegalArgumentException] {
      p.table.readChangeStream(spark, columns = Seq("conv_id", "nope"))
    }
    assert(bad.getMessage.contains("nope"))
  }

  test("admission control: maxVersionsPerTrigger bounds each batch's version range") {
    val cfg = BinlogConfig(numEvents = 800, numConversations = 6,
      segmentSize = 100, dupPct = 0, pDelete = 0.0)
    val src = tmpDir("cs-ac-bl")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new CdcPipeline(PipelineConfig(src, tmpDir("cs-ac-up"),
      segmentsPerBatch = 1, numBuckets = 4))
    p.runAll(spark)
    val cur = p.table.loadCurrent().version
    assert(cur >= 3, s"fixture needs several versions, got $cur")

    val s = stream(p.table.root, Map("maxVersionsPerTrigger" -> "2"))
    val o1 = s.latestOffset(VersionOffset(0L), s.getDefaultReadLimit)
      .asInstanceOf[VersionOffset]
    assert(o1.version == 2L)
    val o2 = s.latestOffset(o1, s.getDefaultReadLimit).asInstanceOf[VersionOffset]
    assert(o2.version == math.min(cur, 4L))
    // unbounded: one trigger reaches the head
    val s2 = stream(p.table.root)
    assert(s2.latestOffset(VersionOffset(0L), s2.getDefaultReadLimit)
      .asInstanceOf[VersionOffset].version == cur)
    // rate limit never goes past the head even when versions are scarce
    val o3 = s.latestOffset(VersionOffset(cur), s.getDefaultReadLimit)
      .asInstanceOf[VersionOffset]
    assert(o3.version == cur)
  }

  test("exactly-once across upstream REWRITES: compaction and rescale mid-tail re-ship nothing") {
    import graft.ops.{Compaction, Rescale}
    val cfg = BinlogConfig(numEvents = 1200, numConversations = 8,
      segmentSize = 200, dupPct = 5, pDelete = 0.0)
    val src = tmpDir("cs-rw-bl")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new CdcPipeline(PipelineConfig(src, tmpDir("cs-rw-up"),
      segmentsPerBatch = 1, numBuckets = 4))
    val down = new ChronicleTable(tmpDir("cs-rw-down"))

    p.runAll(spark, maxBatches = 2)
    Chain.syncStream(spark, p.table, down, numBuckets = 4)
    assert(visible(down) == visible(p.table))
    val rowsAfterBoot = down.loadCurrent().totalRows

    // a compaction and a rescale RE-ADD every upstream file (new paths,
    // same rows, same lsns) between tail passes — the per-source mark
    // filter must classify every rewritten row as already-shipped, even
    // though no manifest bound can prune the fresh wide-lsn files
    Compaction(spark, p.table, maxFilesPerBucket = 1)
    Rescale(spark, p.table, newNumBuckets = 8)
    Chain.syncStream(spark, p.table, down, numBuckets = 4)
    assert(down.loadCurrent().totalRows == rowsAfterBoot,
      "a rewrite-only version range must ship zero rows")
    noDupKeys(down)

    // new data committed AFTER the rewrites still arrives exactly-once
    p.runAll(spark)
    Rescale(spark, p.table, newNumBuckets = 2) // rewrite again, post-data
    Chain.syncStream(spark, p.table, down, numBuckets = 4)
    assert(visible(down) == visible(p.table))
    noDupKeys(down)
    val oracle = BinlogGenerator.referenceReduction(cfg)
      .values.map(e => (e.conv_id, e.turn_idx, e.text)).toSet
    assert(visible(down) == oracle)
  }

  test("timestamp cursor: startingVersion @instant resolves to the snapshot live then") {
    val cfg = BinlogConfig(numEvents = 600, numConversations = 5,
      segmentSize = 150, dupPct = 0, pDelete = 0.0)
    val src = tmpDir("cs-ts-bl")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new CdcPipeline(PipelineConfig(src, tmpDir("cs-ts-up"),
      segmentsPerBatch = 1, numBuckets = 4))
    p.runAll(spark, maxBatches = 2)
    val vThen = p.table.loadCurrent().version
    val tsThen = p.table.loadVersion(vThen).commitTimeMs
    p.runAll(spark) // history moves on

    // epoch-millis and ISO forms both resolve to the version live at ts
    assert(stream(p.table.root, Map("startingVersion" -> s"@$tsThen"))
      .initialOffset() == VersionOffset(vThen))
    val iso = java.time.Instant.ofEpochMilli(tsThen).toString
    assert(stream(p.table.root, Map("startingVersion" -> s"@$iso"))
      .initialOffset() == VersionOffset(vThen))

    // malformed instant and a pre-creation instant fail clearly
    val bad = intercept[IllegalArgumentException] {
      stream(p.table.root, Map("startingVersion" -> "@yesterday"))
        .initialOffset()
    }
    assert(bad.getMessage.contains("ISO-8601"))
    intercept[NoSuchElementException] {
      stream(p.table.root, Map("startingVersion" -> "@1000")).initialOffset()
    }
  }

  test("guards: feed-mode exclusivity, unordered upstreams, expired cursors, schema drift") {
    import graft.ops.MergeInto
    import graft.table.{LineageEntry, PendingCommit}
    val cfg = BinlogConfig(numEvents = 400, numConversations = 4,
      segmentSize = 200, dupPct = 0, pDelete = 0.0)
    val src = tmpDir("cs-g-bl")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new CdcPipeline(PipelineConfig(src, tmpDir("cs-g-up"),
      segmentsPerBatch = 2, numBuckets = 4))
    p.runAll(spark)

    // a stream-chained table refuses poll chaining and pipelines (and
    // vice versa): batch-id keys vs version-range keys under one prefix
    // would mis-fold the ledger
    val down = new ChronicleTable(tmpDir("cs-g-down"))
    Chain.syncStream(spark, p.table, down, numBuckets = 4)
    val pollIn = intercept[IllegalArgumentException] {
      Chain.pollOnce(spark, p.table, down, numBuckets = 4)
    }
    assert(pollIn.getMessage.contains("stream-chain-fed"))
    val pipeIn = intercept[IllegalArgumentException] {
      new CdcPipeline(PipelineConfig(src, down.root,
        segmentsPerBatch = 2, numBuckets = 4)).runAll(spark)
    }
    assert(pipeIn.getMessage.contains("chain-fed"))
    val polled = new ChronicleTable(tmpDir("cs-g-polled"))
    Chain.drain(spark, p.table, polled, numBuckets = 4)
    val streamIn = intercept[IllegalArgumentException] {
      Chain.followStream(spark, p.table, polled, numBuckets = 4)
    }
    assert(streamIn.getMessage.contains("poll-chain-fed"))

    // an unordered upstream can never be tailed (no mark bounds redelivery)
    val ss = new ChronicleTable(tmpDir("cs-g-ss"))
    ss.create(Model.physicalSchemaV1, 2)
    ss.commit(ss.loadCurrent(), PendingCommit("ss#0", Nil, Nil, None,
      LineageEntry("ss#0", "epoch", -1L, -1L, 0, 0, 0, 0L, Map.empty, -1L),
      ordered = false))
    val unord = intercept[IllegalArgumentException] {
      stream(ss.root).initialOffset()
    }
    assert(unord.getMessage.contains("unordered"))

    // an expired startingVersion errors at start instead of shipping a
    // wrong delta
    p.table.expireSnapshots(keepLast = 1)
    val exp = intercept[Exception] {
      stream(p.table.root, Map("startingVersion" -> "0")).initialOffset()
    }
    assert(exp.getMessage.contains("expired") ||
      exp.getMessage.contains("does not exist"))

    // a type WIDENING under a running stream (pinned schema) fails with a
    // restart instruction instead of mis-reading the new physical type
    def scored(lsn: Long, conv: String, v: Any) = {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val st = v match { case _: Int => IntegerType case _ => LongType }
      spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(
          Row(lsn, "I", conv, 0, "user", "t", null,
            new java.sql.Timestamp(0L), v))),
        StructType(Seq(
          StructField("lsn", LongType), StructField("op", StringType),
          StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
          StructField("role", StringType), StructField("text", StringType),
          StructField("tool", StringType), StructField("ts", TimestampType),
          StructField("score", st))))
    }
    val t = p.table
    val v0 = t.loadCurrent().version
    val sOld = stream(t.root) // pins the pre-`score` schema
    MergeInto(spark, t, scored(9000L, "conv-s", 7), "side#0", "t")
    val sPinned = stream(t.root) // pins schema WITH score:int
    MergeInto(spark, t, scored(9001L, "conv-s2", 5000000000L), "side#1", "t")
    val vN = t.loadCurrent().version
    // the int-pinned stream plans fine while score stays int...
    assert(sPinned.planInputPartitions(
      VersionOffset(v0), VersionOffset(vN - 1)).nonEmpty)
    // ...and an ADDED column never breaks an older pin (not read until
    // restart) — only the widened TYPE does
    assert(sOld.planInputPartitions(
      VersionOffset(v0), VersionOffset(vN)).nonEmpty)
    val drift = intercept[IllegalArgumentException] {
      sPinned.planInputPartitions(VersionOffset(v0), VersionOffset(vN))
    }
    assert(drift.getMessage.contains("restart the stream"))
  }

  test("unified table: readStream.format(\"graft\") and readStream.table serve the change stream") {
    import org.apache.spark.sql.streaming.Trigger
    val cfg = BinlogConfig(numEvents = 400, numConversations = 4,
      segmentSize = 200, dupPct = 5, pDelete = 0.1)
    val src = tmpDir("cs-uni-bl")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val upRoot = s"${tmpDir("cs-uni")}/up"
    val p = new CdcPipeline(PipelineConfig(src, upRoot,
      segmentsPerBatch = 2, numBuckets = 4))
    p.runAll(spark)
    // the changelog ships tombstones too: expected = ALL current rows
    val want = p.table.read(spark)
      .select("conv_id", "turn_idx", Model.lsnColumn)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSet

    def drain(reader: => org.apache.spark.sql.DataFrame, ck: String) = {
      val got = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int, Long)]()
      reader.writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          df.select("conv_id", "turn_idx", Model.lsnColumn).collect()
            .foreach(r => got.add((r.getString(0), r.getInt(1), r.getLong(2))))
          ()
        }
        .option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      got.asScala.toSet
    }

    // path route: ONE format string for the whole lifecycle
    val viaPath = drain(
      spark.readStream.format("graft")
        .option("startingVersion", "bootstrap").load(upRoot),
      tmpDir("cs-uni-ck1"))
    assert(viaPath == want, "format(\"graft\") stream must ship the bootstrap state")

    // catalog route: readStream.table over the registered warehouse
    val parent = java.nio.file.Paths.get(upRoot).getParent
    spark.conf.set("spark.sql.catalog.graft_uni", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_uni.root", parent.toString)
    val viaTable = drain(
      spark.readStream
        .option("startingVersion", "bootstrap")
        .table("graft_uni.up"),
      tmpDir("cs-uni-ck2"))
    assert(viaTable == want, "readStream.table must serve the same stream")
  }
}
