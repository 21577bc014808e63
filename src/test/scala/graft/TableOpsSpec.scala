package graft

import graft.cdc.{CdcPipeline, PipelineConfig}
import graft.ops.{Compaction, Integrity, MergeInto}
import graft.source.{BinlogConfig, BinlogGenerator}
import graft.table.FilePrune
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Table maintenance, integrity and pruning behavior. */
class TableOpsSpec extends SparkSpec {
  import spark.implicits._

  test("compaction shrinks file count, preserves state, keeps old snapshots readable") {
    // Broad batches self-compact (COW rewrites the touched bucket), so file
    // accumulation needs DISJOINT key ranges: each merge lands in the same
    // bucket but outside every existing file's range, so pruning keeps the
    // old files and a new file is appended per merge.
    val tbl = tmpDir("table-compact")
    val p = new CdcPipeline(PipelineConfig("", tbl, numBuckets = 1))
    p.ensureTable()
    (0 until 10).foreach { i =>
      val batch = (0 until 20).map { k =>
        (i * 100L + k, "I", f"conv-$i%02d-$k%04d", 0, "user", s"text $i $k",
          None: Option[String], new java.sql.Timestamp(0L))
      }.toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
      MergeInto(spark, p.table, batch, s"disjoint#$i", "t")
    }
    val before = p.table.loadCurrent()
    assert(before.numFiles >= 8, s"expected file accumulation, got ${before.numFiles}")
    val stateBefore = p.currentState(spark).collect().toSeq

    val r = Compaction(spark, p.table, maxFilesPerBucket = 2)
    assert(r.compactedBuckets > 0)
    assert(r.snapshot.numFiles < before.numFiles)
    assert(p.currentState(spark).collect().toSeq == stateBefore)
    // time travel to the pre-compaction snapshot still works
    assert(p.table.read(spark, p.table.loadVersion(before.version)).count() ==
      before.totalRows)
    // idempotence: second compaction run at same version threshold is a no-op
    val r2 = Compaction(spark, p.table, maxFilesPerBucket = 100)
    assert(r2.compactedBuckets == 0)
  }

  test("timestamp time travel: monotone commit times, as-of resolution, expiry errors") {
    val tbl = tmpDir("table-asof")
    val p = new CdcPipeline(PipelineConfig("", tbl, numBuckets = 2))
    p.ensureTable()
    (0 until 5).foreach { i =>
      val batch = Seq((i.toLong, "I", s"conv-$i", 0, "user", s"text $i",
        None: Option[String], new java.sql.Timestamp(0L)))
        .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
      MergeInto(spark, p.table, batch, s"asof#$i", "t")
    }
    val vs = p.table.versions
    val times = vs.map(v => p.table.loadVersion(v).commitTimeMs)
    assert(times == times.sorted && times.distinct == times,
      s"commit times not strictly monotone: $times")

    // exact stamps resolve to their own version; an instant strictly
    // before the next commit resolves to the version live then
    vs.zip(times).foreach { case (v, t) =>
      assert(p.table.versionAsOf(t) == v)
    }
    assert(p.table.versionAsOf(times.last + 1000000L) == vs.last)
    vs.zip(times).sliding(2).foreach {
      case Seq((v, _), (_, tNext)) =>
        assert(p.table.versionAsOf(tNext - 1) == v)
      case _ =>
    }

    // readAsOf sees exactly the state committed by then (v = 3 commits in)
    val tMid = times(3)
    assert(p.table.readAsOf(spark, tMid).filter(!col("_deleted")).count() ==
      p.table.read(spark, p.table.loadVersion(vs(3))).filter(!col("_deleted")).count())

    // before table creation: a clear error naming the oldest retained
    val early = intercept[NoSuchElementException] {
      p.table.versionAsOf(times.head - 1)
    }
    assert(early.getMessage.contains("oldest retained"))

    // expiry moves the as-of horizon forward with the same clear error
    p.table.expireSnapshots(keepLast = 2)
    val gone = intercept[NoSuchElementException] {
      p.table.versionAsOf(times(1))
    }
    assert(gone.getMessage.contains("oldest retained"))
    assert(p.table.versionAsOf(times.last) == vs.last)
  }

  test("export: visible state only, system columns stripped, as-of composable") {
    val tbl = tmpDir("table-export")
    val p = new CdcPipeline(PipelineConfig("", tbl, numBuckets = 2))
    p.ensureTable()
    val b1 = Seq(
      (1L, "I", "conv-a", 0, "user", "hello", None: Option[String],
        new java.sql.Timestamp(0L)),
      (2L, "I", "conv-b", 0, "user", "there", None: Option[String],
        new java.sql.Timestamp(0L)))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    MergeInto(spark, p.table, b1, "exp#0", "t")
    val vMid = p.table.loadCurrent()
    val b2 = Seq((3L, "D", "conv-b", 0, "user", null.asInstanceOf[String],
      None: Option[String], new java.sql.Timestamp(0L)))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    MergeInto(spark, p.table, b2, "exp#1", "t")

    // current export: the delete is gone, no system columns, sorted keys
    val out = tmpDir("table-export-out")
    val n = p.table.exportSnapshot(spark, out, p.table.loadCurrent())
    val got = spark.read.parquet(out)
    assert(n == 1L && got.count() == 1L)
    assert(got.columns.toSet ==
      Set("conv_id", "turn_idx", "role", "text", "tool", "ts"))
    assert(got.select("conv_id").as[String].collect().toSeq == Seq("conv-a"))

    // as-of export sees the pre-delete world
    val out2 = tmpDir("table-export-out2")
    assert(p.table.exportSnapshot(spark, out2, vMid) == 2L)

    // an all-deleted snapshot exports zero rows (AQE empty-propagation
    // drops the write's CollectMetrics — the count must not hang or crash)
    val b3 = Seq((4L, "D", "conv-a", 0, "user", null.asInstanceOf[String],
      None: Option[String], new java.sql.Timestamp(0L)))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    MergeInto(spark, p.table, b3, "exp#2", "t")
    val out3 = tmpDir("table-export-out3")
    assert(p.table.exportSnapshot(spark, out3, p.table.loadCurrent()) == 0L)
  }

  test("compaction range-splits big buckets into size-bounded files with disjoint key ranges") {
    val cfg = BinlogConfig(numEvents = 3000, numConversations = 30,
      segmentSize = 750, dupPct = 5)
    val src = tmpDir("binlog-binpack")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new CdcPipeline(PipelineConfig(src, tmpDir("table-binpack"),
      segmentsPerBatch = 1, numBuckets = 2))
    p.runAll(spark)
    val stateBefore = p.currentState(spark).collect().toSeq
    // tiny target forces multiple files per bucket
    val r = Compaction(spark, p.table, maxFilesPerBucket = 0,
      targetRowsPerFile = 100L)
    assert(r.compactedBuckets == 2)
    val files = p.table.filesOf(p.table.loadCurrent())
    val byBucket = files.groupBy(_.bucket)
    assert(byBucket.values.exists(_.size > 1),
      s"expected multiple files per bucket, got ${byBucket.view.mapValues(_.size).toMap}")
    // size bound holds (range split targets ~100 rows per file)
    assert(files.forall(_.rows <= 300),
      s"file over size bound: ${files.map(_.rows).max} rows")
    // within each bucket the key ranges are pairwise disjoint — the
    // property that makes manifest bounds selective for point lookups
    byBucket.values.foreach { fs =>
      val sorted = fs.sortBy(_.minKey)
      sorted.sliding(2).foreach {
        case Seq(a, b) => assert(a.maxKey < b.minKey,
          s"overlapping ranges: [${a.minKey},${a.maxKey}] vs [${b.minKey},${b.maxKey}]")
        case _ => ()
      }
    }
    // state unchanged, and a point lookup now scans exactly ONE file
    assert(p.currentState(spark).collect().toSeq == stateBefore)
    val k = stateBefore.map(_.getString(0)).min
    val scanned = plannedFiles(p.table.readKey(spark, k))
    assert(scanned.length == 1,
      s"point lookup should scan one range-split file, got ${scanned.length}")
  }

  test("bucket rescale mid-drain: state preserved, pruning and merges continue under the new layout") {
    val cfg = BinlogConfig(numEvents = 1800, numConversations = 12,
      segmentSize = 200, dupPct = 5, pDelete = 0.2)
    val src = tmpDir("binlog-rescale")
    val tbl = tmpDir("table-rescale")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new CdcPipeline(PipelineConfig(src, tbl, segmentsPerBatch = 3,
      numBuckets = 2))
    p.runAll(spark, maxBatches = 2) // segments 0..5 at 2 buckets
    val midState = p.currentState(spark).collect().toSeq

    val r = graft.ops.Rescale(spark, p.table, newNumBuckets = 8)
    assert(r.newNumBuckets == 8 && r.snapshot.numBuckets == 8)
    assert(p.currentState(spark).collect().toSeq == midState)
    // every manifest and data file lives under the new bucket numbering
    val snap = p.table.loadCurrent()
    assert(snap.manifestList.map(_.bucket).forall(b => b >= 0 && b < 8))
    assert(p.table.filesOf(snap).groupBy(_.bucket).keySet.size > 2,
      "rescale should spread rows over more than the old 2 buckets")

    // the drain continues against the rescaled table: later merges bucket
    // by the NEW count and converge to the oracle
    p.runAll(spark)
    val oracle = BinlogGenerator.referenceReduction(cfg).values.toSeq
      .sortBy(e => (e.conv_id, e.turn_idx))
      .map(e => (e.conv_id, e.turn_idx, e.text))
    assert(p.currentState(spark).collect().toSeq
      .map(r => (r.getAs[String]("conv_id"), r.getAs[Int]("turn_idx"),
        r.getAs[String]("text"))) == oracle)

    // a MOR table rescales too: deltas fold into the new layout
    val m = new CdcPipeline(PipelineConfig(src, tmpDir("table-rescale-mor"),
      segmentsPerBatch = 3, numBuckets = 2, mergeOnRead = true))
    m.runAll(spark)
    val morState = m.currentState(spark).collect().toSeq
    val rm = graft.ops.Rescale(spark, m.table, newNumBuckets = 4)
    assert(rm.snapshot.numBuckets == 4)
    assert(!m.table.hasDeltas(m.table.loadCurrent()),
      "rescale must fold deltas in the same rewrite")
    assert(m.currentState(spark).collect().toSeq == morState)
  }

  test("incremental changelog read returns the net changes since a snapshot") {
    val cfg = BinlogConfig(numEvents = 1200, numConversations = 10,
      segmentSize = 200, dupPct = 5, pDelete = 0.2)
    val src = tmpDir("binlog-incr")
    BinlogGenerator.writeSegments(spark, cfg, src)

    // CoW (ordered): changelog carries upserts — exactly the current rows
    // whose winning lsn is past the since-snapshot's high-water mark
    val p = new CdcPipeline(PipelineConfig(src, tmpDir("table-incr"),
      segmentsPerBatch = 2, numBuckets = 2))
    p.runAll(spark)
    val sinceV = 2L
    val hwm = p.table.loadVersion(sinceV).hwmLsn
    val changed = p.table.readChanges(spark, sinceV)
    val expect = p.table.read(spark)
      .filter(col(graft.model.Model.lsnColumn) > hwm)
      .select("conv_id", "turn_idx").collect().toSet
    assert(changed.select("conv_id", "turn_idx").collect().toSet == expect)
    assert(changed.count() > 0 && changed.count() < p.table.read(spark).count())
    // every changelog row's lsn is strictly past the cursor
    assert(changed.agg(min(col(graft.model.Model.lsnColumn))).collect()(0)
      .getLong(0) > hwm)

    // MOR: tombstones surface in the changelog (delete visibility), and the
    // net-change semantics hold through the read-time merge
    val m = new CdcPipeline(PipelineConfig(src, tmpDir("table-incr-mor"),
      segmentsPerBatch = 2, numBuckets = 2, mergeOnRead = true))
    m.runAll(spark)
    val mc = m.table.readChanges(spark, sinceV)
    assert(mc.filter(col(graft.model.Model.deletedColumn)).count() > 0,
      "MOR changelog must carry delete tombstones")
    // live net changes agree with the CoW changelog
    assert(mc.filter(!col(graft.model.Model.deletedColumn))
      .select("conv_id", "turn_idx", "text").collect().toSet ==
      changed.select("conv_id", "turn_idx", "text").collect().toSet)
    // expired cursors fail with a clear error
    m.table.expireSnapshots(1)
    intercept[NoSuchElementException] { m.table.readChanges(spark, sinceV) }

    // delete-visibility contract, CoW side: the ordered CoW path erases
    // deleted rows physically, so its changelog is upsert-only by contract
    // (documented in readChanges; MOR above is the delete-carrying mode)
    assert(changed.filter(col(graft.model.Model.deletedColumn)).count() == 0,
      "ordered CoW changelog must carry no tombstones (upsert-only contract)")
  }

  test("changelog on a two-source table honors per-source marks (global mark would drop a source)") {
    val cfgA = BinlogConfig(numEvents = 800, numConversations = 6,
      segmentSize = 200, dupPct = 5)
    val cfgB = BinlogConfig(numEvents = 400, numConversations = 4,
      segmentSize = 200, dupPct = 5)
    val srcA = tmpDir("binlog-chg2-a")
    BinlogGenerator.writeSegments(spark, cfgA, srcA)
    // source B: independent log, LSNs restart at 0 (all BELOW A's mark),
    // disjoint key space
    val rawB = tmpDir("binlog-chg2-braw")
    val srcB = tmpDir("binlog-chg2-b")
    BinlogGenerator.writeSegments(spark, cfgB, rawB)
    spark.read.parquet(rawB)
      .withColumn("conv_id", concat(lit("b-"), col("conv_id")))
      .write.partitionBy("segment").mode("overwrite").parquet(srcB)

    val tbl = tmpDir("table-chg2")
    val pA = new CdcPipeline(PipelineConfig(srcA, tbl, sourceId = "srcA",
      segmentsPerBatch = 2, numBuckets = 4))
    pA.runAll(spark) // srcA's mark -> 799
    val sinceV = pA.table.loadCurrent().version // cursor BETWEEN the sources
    val pB = new CdcPipeline(PipelineConfig(srcB, tbl, sourceId = "srcB",
      segmentsPerBatch = 2, numBuckets = 4))
    pB.runAll(spark) // every lsn 0..399 — all below srcA's mark

    val changed = pA.table.readChanges(spark, sinceV)
    // EVERY change since the cursor came from source B; a global-mark filter
    // (_lsn > 799) would return zero rows here
    assert(changed.count() > 0, "source B's changes were dropped from the changelog")
    val keys = changed.select("conv_id").distinct()
      .collect().map(_.getString(0)).toSet
    assert(keys.forall(_.startsWith("b-")),
      s"changelog leaked pre-cursor rows from source A: ${keys.take(3)}")
    // and it is exactly source B's final state (no misses either)
    val bRows = pA.table.read(spark)
      .filter(col("conv_id").startsWith("b-") &&
        !col(graft.model.Model.deletedColumn))
      .select("conv_id", "turn_idx", "text").collect().toSet
    assert(changed.filter(!col(graft.model.Model.deletedColumn))
      .select("conv_id", "turn_idx", "text").collect().toSet == bRows)
  }

  test("changelog scan prunes pre-cursor files at the manifest (_lsn bounds)") {
    val tbl = tmpDir("table-chg-prune")
    val p = new CdcPipeline(PipelineConfig("", tbl, numBuckets = 1))
    p.ensureTable()
    // disjoint key ranges per commit -> no rewrites, one file per commit,
    // tight per-file _lsn ranges
    (0 until 4).foreach { i =>
      val batch = (0 until 10).map { k =>
        (i * 100L + k, "I", f"conv-$i-$k%03d", 0, "user", s"text $i $k",
          None: Option[String], new java.sql.Timestamp(1704067200000L))
      }.toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
      MergeInto(spark, p.table, batch, s"src#$i", "t")
    }
    val snap = p.table.loadCurrent()
    // footer stats put real _lsn bounds in the manifest
    val files = p.table.filesOf(snap)
    assert(files.forall(f => f.minLsn >= 0 && f.maxLsn >= f.minLsn))
    assert(snap.manifestList.forall(m => m.minLsn >= 0 && m.maxLsn >= m.minLsn))
    // tail since v2 (commits 3 and 4 pending): the scan must list ONLY the
    // files whose _lsn range is past the cursor — pre-cursor files are
    // pruned from the plan entirely, not just filtered
    val sinceV = 2L
    val hwm = p.table.loadVersion(sinceV).hwmLsn
    val changed = p.table.readChanges(spark, sinceV)
    val expected = files.filter(_.maxLsn > hwm).map(_.path).toSet
    val scanned = plannedFiles(changed).toSet
    assert(scanned == expected,
      s"changelog scanned ${scanned.size} files, expected ${expected.size} " +
        s"(of ${files.size} live)")
    assert(scanned.size < files.size)
    assert(changed.count() == 20) // commits 2 and 3's rows
  }

  test("unordered sources make mark-based changelog reads error clearly") {
    val tbl = tmpDir("table-chg-unordered")
    val p = new CdcPipeline(PipelineConfig("", tbl, numBuckets = 1))
    p.ensureTable()
    val batch = Seq((1L, "I", "conv-a", 0, "user", "t", None: Option[String],
      new java.sql.Timestamp(0L)))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    MergeInto(spark, p.table, batch, "ss#0", "t", orderedSource = false)
    assert(p.table.loadCurrent().unordered == Set("ss"))
    val e = intercept[IllegalArgumentException] {
      p.table.readChanges(spark, 0L)
    }
    assert(e.getMessage.contains("unordered"))
  }

  test("MOR time slice prunes base files by ts and keeps deltas (no full-table fallback)") {
    val tbl = tmpDir("table-timeslice-mor")
    val p = new CdcPipeline(PipelineConfig("", tbl, numBuckets = 1))
    p.ensureTable()
    def dayMs(d: Int) = 1704067200000L + d.toLong * 86400000L
    // three CoW day-commits (disjoint keys -> one base file per day)
    (0 until 3).foreach { d =>
      val batch = (0 until 10).map { k =>
        (d * 100L + k, "I", f"conv-$d-$k%03d", 0, "user", s"text $d $k",
          None: Option[String], new java.sql.Timestamp(dayMs(d) + k * 1000L))
      }.toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
      MergeInto(spark, p.table, batch, s"day#$d", "t")
    }
    val baseFiles = p.table.filesOf(p.table.loadCurrent())
    val day1Base = baseFiles.filter(f =>
      f.minTsMs >= dayMs(1) && f.maxTsMs < dayMs(2)).map(_.path).toSet
    assert(day1Base.nonEmpty)
    // one MOR delta patches a day-1 row (newer lsn, ts inside day 1)
    val patch = Seq((9999L, "U", "conv-1-005", 0, "user", "patched",
      None: Option[String], new java.sql.Timestamp(dayMs(1) + 500L)))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    MergeInto(spark, p.table, patch, "day#3", "t", mergeOnRead = true)
    val snap = p.table.loadCurrent()
    assert(p.table.hasDeltas(snap))
    val deltaPaths = p.table.filesOf(snap).filter(_.delta).map(_.path).toSet

    // slice day 1: sees the patched row; scans day-1 base + deltas ONLY
    val slice = p.table.readSlice(spark, dayMs(1), dayMs(2) - 1)
    val rows = slice.collect()
    assert(rows.length == 10)
    assert(rows.exists(_.getAs[String]("text") == "patched"))
    assert(!rows.exists(r => r.getAs[String]("conv_id") == "conv-1-005" &&
      r.getAs[String]("text") != "patched"), "stale pre-delta row leaked")
    val scanned = plannedFiles(slice).toSet
    assert(scanned == day1Base ++ deltaPaths,
      s"MOR slice scanned ${scanned.size} files, expected day-1 base " +
        s"(${day1Base.size}) + deltas (${deltaPaths.size})")
    // slice day 0: untouched day's answer, still no day-1/2 base scan
    val slice0 = p.table.readSlice(spark, dayMs(0), dayMs(1) - 1)
    assert(slice0.count() == 10)
    val scanned0 = plannedFiles(slice0).toSet
    assert(scanned0.intersect(day1Base).isEmpty &&
      deltaPaths.subsetOf(scanned0))
  }

  test("rescale never rebases: a commit racing it aborts it cleanly; rerun succeeds") {
    import graft.table._
    val tbl = new ChronicleTable(tmpDir("table-rescale-race"))
    def file(b: Int, n: String, lo: String, hi: String) =
      DataFileMeta(s"/fake/bucket=$b/$n.parquet", 1L, b, lo, hi, 0L, 0L)
    def lin(key: String) = LineageEntry(key, "t", -1, -1, 0, 0, 0, 0L, Map.empty, -1L)
    var s = tbl.create(graft.model.Model.physicalSchemaV1, 2)
    s = tbl.commit(s, PendingCommit("seed#0", Nil,
      Seq(file(0, "a0", "a", "b"), file(1, "b0", "c", "d")), None, lin("seed#0")))

    val base = tbl.loadCurrent()
    // a merge-like writer that only ADDS (removes nothing) wins the race —
    // the exact shape the removed-liveness check cannot see
    tbl.commit(base, PendingCommit("w#0", Nil,
      Seq(file(0, "a1", "e", "f")), None, lin("w#0")))
    // the stale rescale covers base's inventory but NOT the winner's a1:
    // rebase must refuse (carrying a1 would hide it from new-bucket pruning)
    val e = intercept[IllegalStateException] {
      tbl.commit(base, PendingCommit("rescale#0-1",
        Seq(file(0, "a0", "", "").path, file(1, "b0", "", "").path),
        Seq(DataFileMeta("/fake/bucket=3/r0.parquet", 2L, 3, "a", "d", 0L, 0L)),
        None, lin("rescale#0-1"), newNumBuckets = Some(4)))
    }
    assert(e.getMessage.contains("rescale") || e.getMessage.contains("cover"))
    // nothing half-landed; a rescale re-planned on the CURRENT snapshot works
    val cur = tbl.loadCurrent()
    assert(cur.numBuckets == 2 && tbl.filesOf(cur).size == 3)
    val ok = tbl.commit(cur, PendingCommit("rescale#0-2",
      tbl.filesOf(cur).map(_.path),
      Seq(DataFileMeta("/fake/bucket=3/r1.parquet", 3L, 3, "a", "f", 0L, 0L)),
      None, lin("rescale#0-2"), newNumBuckets = Some(4)))
    assert(ok.numBuckets == 4 && tbl.filesOf(ok).map(_.path) ==
      Seq("/fake/bucket=3/r1.parquet"))
    // and a rescale that misses live files is refused even WITHOUT a race
    intercept[IllegalStateException] {
      tbl.commit(tbl.loadCurrent(), PendingCommit("rescale#0-3", Nil,
        Seq(DataFileMeta("/fake/bucket=0/r2.parquet", 1L, 0, "a", "b", 0L, 0L)),
        None, lin("rescale#0-3"), newNumBuckets = Some(8)))
    }
  }

  test("concurrent base-file adds with overlapping keys in one bucket abort the rebase (no duplicate keys)") {
    import graft.table._
    val tbl = new ChronicleTable(tmpDir("table-newkey-race"))
    def file(b: Int, n: String, lo: String, hi: String, delta: Boolean = false) =
      DataFileMeta(s"/fake/bucket=$b/$n.parquet", 1L, b, lo, hi, 0L, 0L, delta)
    def lin(key: String) = LineageEntry(key, "t", -1, -1, 0, 0, 0, 0L, Map.empty, -1L)
    var s = tbl.create(graft.model.Model.physicalSchemaV1, 4)
    s = tbl.commit(s, PendingCommit("seed#0", Nil,
      Seq(file(0, "z0", "a", "b")), None, lin("seed#0")))
    val base = tbl.loadCurrent()

    // both writers insert the SAME brand-new key "k" into bucket 2 —
    // neither removes anything, so the removed-liveness rebase check alone
    // would let both land and reads would see the key twice
    tbl.commit(base, PendingCommit("w1#0", Nil,
      Seq(file(2, "m1", "k", "k")), None, lin("w1#0")))
    val e = intercept[IllegalStateException] {
      tbl.commit(base, PendingCommit("w2#0", Nil,
        Seq(file(2, "m2", "k", "k")), None, lin("w2#0")))
    }
    assert(e.getMessage.contains("key"))
    assert(tbl.filesOf(tbl.loadCurrent()).count(_.bucket == 2) == 1)

    // a merge-on-read DELTA racing the same way still rebases — read-time
    // LWW resolves per-key versions, so deltas never need the abort
    val base2 = tbl.loadCurrent()
    tbl.commit(base2, PendingCommit("w3#0", Nil,
      Seq(file(2, "m3", "k", "k")), None, lin("w3#0")))
    val ok = tbl.commit(base2, PendingCommit("w4#0", Nil,
      Seq(file(2, "d1", "k", "k", delta = true)), None, lin("w4#0")))
    assert(tbl.filesOf(ok).exists(_.delta))

    // disjoint-bucket adds keep rebasing freely (the compaction-vs-merge case)
    val base3 = tbl.loadCurrent()
    tbl.commit(base3, PendingCommit("w5#0", Nil,
      Seq(file(1, "p1", "q", "q")), None, lin("w5#0")))
    val ok2 = tbl.commit(base3, PendingCommit("w6#0", Nil,
      Seq(file(3, "p2", "q", "q")), None, lin("w6#0")))
    assert(ok2.version == base3.version + 2)
  }

  test("compaction GCs tombstones older than the horizon") {
    val src = tmpDir("binlog-ts")
    val tbl = tmpDir("table-ts")
    val cfg = BinlogConfig(numEvents = 1000, numConversations = 10,
      segmentSize = 100, pDelete = 0.3)
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new CdcPipeline(PipelineConfig(src, tbl, segmentsPerBatch = 1, numBuckets = 2))
    p.ensureTable()
    // unordered mode writes tombstones
    (0 until 10).foreach { b =>
      MergeInto(spark, p.table, p.readBatch(spark, Seq(s"segment=$b")),
        s"u#$b", "t", orderedSource = false)
    }
    val withTombs = p.table.read(spark)
      .filter(col(graft.model.Model.deletedColumn)).count()
    assert(withTombs > 0)
    val state = p.currentState(spark).collect().toSeq
    val r = Compaction(spark, p.table, maxFilesPerBucket = 0,
      tombstoneHorizonLsn = Long.MaxValue)
    assert(r.droppedRows == withTombs)
    assert(p.table.read(spark).filter(col(graft.model.Model.deletedColumn)).count() == 0)
    assert(p.currentState(spark).collect().toSeq == state)
  }

  test("merge prunes files: a narrow batch rewrites only intersecting buckets") {
    val src = tmpDir("binlog-prune")
    val tbl = tmpDir("table-prune")
    val cfg = BinlogConfig(numEvents = 4000, numConversations = 200, segmentSize = 2000)
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new CdcPipeline(PipelineConfig(src, tbl, segmentsPerBatch = 2, numBuckets = 16))
    p.runAll(spark)
    val files = p.table.loadCurrent().numFiles
    // single-key batch: must touch at most the files of ONE bucket
    val one = Seq((999999L, "U", "conv-00000001", 0, "user", "patched", None: Option[String],
      new java.sql.Timestamp(0L)))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    val res = MergeInto(spark, p.table, one, "narrow#1", "t")
    assert(res.rewrittenFiles < files / 4,
      s"rewrote ${res.rewrittenFiles} of $files files - pruning ineffective")
  }

  test("ledger floor: out-of-order batch keys compact to max-contiguous + window") {
    import graft.table._
    val tbl = new ChronicleTable(tmpDir("table-ledger"))
    def pc(key: String) = PendingCommit(key, Nil, Nil, None,
      LineageEntry(key, "t", -1, -1, 0, 0, 0, 0L, Map.empty, -1L))
    var s = tbl.create(graft.model.Model.physicalSchemaV1, 1)
    s = tbl.commit(s, pc("x#0"))
    s = tbl.commit(s, pc("x#2")) // gap: 1 missing
    assert(s.floors == Map("x" -> 0L))
    assert(s.committedBatches.keySet.filter(_.startsWith("x#")) == Set("x#2"))
    s = tbl.commit(s, pc("x#1")) // gap closes -> floor jumps to 2, window drains
    assert(s.floors == Map("x" -> 2L))
    assert(!s.committedBatches.keySet.exists(_.startsWith("x#")))
    Seq("x#0", "x#1", "x#2").foreach(k => assert(ChronicleTable.isCommitted(s, k)))
    assert(!ChronicleTable.isCommitted(s, "x#3"))
    // replaying a floor-covered batch is refused by commit (caller skips)
    intercept[IllegalArgumentException] { tbl.commit(s, pc("x#1")) }
    // non-numbered keys stay explicit and idempotent
    s = tbl.commit(s, pc("compact#vA"))
    assert(s.committedBatches.contains("compact#vA"))
    assert(ChronicleTable.isCommitted(s, "compact#vA"))
  }

  test("ledger floor: segment-range batch keys (multi-sink shape) compact too") {
    import graft.table._
    val tbl = new ChronicleTable(tmpDir("table-ledger-range"))
    def pc(key: String) = PendingCommit(key, Nil, Nil, None,
      LineageEntry(key, "t", -1, -1, 0, 0, 0, 0L, Map.empty, -1L))
    var s = tbl.create(graft.model.Model.physicalSchemaV1, 1)
    s = tbl.commit(s, pc("r#0-3"))
    s = tbl.commit(s, pc("r#4-7")) // contiguous -> floor advances to 7
    assert(s.floors == Map("r" -> 7L))
    assert(!s.committedBatches.keySet.exists(_.startsWith("r#")))
    // a gap (segments 8-11 missing) keeps the later range explicit
    s = tbl.commit(s, pc("r#12-15"))
    assert(s.floors == Map("r" -> 7L))
    assert(s.committedBatches.keySet.filter(_.startsWith("r#")) == Set("r#12-15"))
    // the gap closes -> floor jumps over both, window drains
    s = tbl.commit(s, pc("r#8-11"))
    assert(s.floors == Map("r" -> 15L))
    assert(!s.committedBatches.keySet.exists(_.startsWith("r#")))
    Seq("r#0-3", "r#4-7", "r#8-11", "r#12-15").foreach(k =>
      assert(ChronicleTable.isCommitted(s, k), k))
    assert(!ChronicleTable.isCommitted(s, "r#16-19"))
    intercept[IllegalArgumentException] { tbl.commit(s, pc("r#4-7")) }
  }

  test("200-commit replay: manifest size stays O(live files), not O(history)") {
    import graft.table._
    val root = tmpDir("table-bounded")
    val tbl = new ChronicleTable(root)
    def pc(i: Int) = PendingCommit(s"src#$i", Nil, Nil, None,
      LineageEntry(s"src#$i", "t", i, i, 1, 0, 1, 0L, Map.empty, -1L),
      cursor = Some("src" -> i.toLong))
    var s = tbl.create(graft.model.Model.physicalSchemaV1, 4)
    (0 until 200).foreach(i => s = tbl.commit(s, pc(i)))
    assert(s.floors == Map("src" -> 199L))
    assert(s.committedBatches.isEmpty) // fully contiguous -> all compacted
    assert(s.cursors == Map("src" -> 199L))
    def manifestSize(v: Long) =
      java.nio.file.Files.size(java.nio.file.Paths.get(root, "meta", f"v$v%09d.json"))
    // manifest byte size must be flat across the replay (no embedded history)
    assert(manifestSize(200L) <= manifestSize(10L) + 64,
      s"manifest grew: v10=${manifestSize(10L)}B v200=${manifestSize(200L)}B")
  }

  test("a reader loading the current snapshot while commits land never opens a partly written one") {
    import graft.table._
    val tbl = new ChronicleTable(tmpDir("table-publish-race"))
    var s = tbl.create(graft.model.Model.physicalSchemaV1, 4)
    val done = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    var loads = 0
    val reader = new Thread(() => while (!done.get) {
      try { new ChronicleTable(tbl.root).loadCurrent(); loads += 1 }
      catch { case t: Throwable => failures.add(t) }
    })
    reader.start()
    // the snapshot used to be created empty and then written: a reader
    // listing the new version in between failed to parse it
    try (0 until 2000).foreach(i => s = tbl.commit(s, PendingCommit(s"src#$i", Nil, Nil, None,
      LineageEntry(s"src#$i", "t", i, i, 1, 0, 1, 0L, Map.empty, -1L),
      cursor = Some("src" -> i.toLong))))
    finally { done.set(true); reader.join() }
    assert(loads > 0)
    assert(failures.isEmpty, s"${failures.size} of ${failures.size + loads} loads failed: " +
      failures.peek())
    assert(tbl.loadCurrent().version == 2000L)
    assert(!java.nio.file.Files.list(java.nio.file.Paths.get(tbl.root, "meta"))
      .anyMatch(_.getFileName.toString.endsWith(".tmp")))
  }

  test("split manifests: per-commit metadata is O(touched buckets), untouched buckets carry by reference") {
    import graft.table._
    val root = tmpDir("table-split")
    val tbl = new ChronicleTable(root)
    val buckets = 8
    def pc(i: Int) = {
      val b = i % buckets
      PendingCommit(s"src#$i", Nil,
        Seq(DataFileMeta(s"/fake/data/bucket=$b/f$i.parquet", 10L, b,
          f"conv-$i%04d", f"conv-$i%04d", 1000L, 2000L)),
        None, LineageEntry(s"src#$i", "t", i, i, 1, 0, 10, 0L, Map.empty, -1L),
        cursor = Some("src" -> i.toLong))
    }
    var s = tbl.create(graft.model.Model.physicalSchemaV1, buckets)
    val commits = 200
    (0 until commits).foreach(i => s = tbl.commit(s, pc(i)))

    // the full inventory reconstructs through the manifest list
    assert(tbl.filesOf(s).size == commits && s.numFiles == commits)
    assert(s.manifestList.size == buckets)
    // snapshot JSON (the manifest LIST) stays flat while files grow 20x:
    // per-commit metadata in the list is O(buckets), not O(files)
    def snapBytes(v: Long) =
      java.nio.file.Files.size(java.nio.file.Paths.get(root, "meta", f"v$v%09d.json"))
    assert(snapBytes(commits.toLong) <= snapBytes(10L) + 128,
      s"manifest list grew: v10=${snapBytes(10L)}B v$commits=${snapBytes(commits.toLong)}B")
    // each commit wrote exactly ONE new bucket manifest; the other 7 carry
    // by reference (same manifest path as the previous version)
    val prev = tbl.loadVersion(commits - 1L).manifestList.map(m => m.bucket -> m.path).toMap
    val cur = s.manifestList.map(m => m.bucket -> m.path).toMap
    assert(cur.count { case (b, p) => prev.get(b).contains(p) } == buckets - 1,
      "expected exactly one bucket manifest rewritten per commit")
    // total manifest-file bytes written across the replay is O(commits *
    // bucket-manifest) = linear, not O(commits * all-files) = quadratic:
    // the per-commit write is bounded by the touched bucket's own file count
    val manifestDir = java.nio.file.Paths.get(root, "meta", "manifests")
    val manifestCount = java.nio.file.Files.list(manifestDir).count()
    assert(manifestCount <= commits + buckets,
      s"more manifest files than commits: $manifestCount")
    // prune planning opens only the touched bucket's manifest
    val hit = tbl.files(s, FilePrune(Some(Set(3)), Some("conv-0003"), Some("conv-0003")))
    assert(hit.map(_.path) == Seq("/fake/data/bucket=3/f3.parquet"))
  }

  test("commit conflict: disjoint-bucket writers rebase and both land; same-file conflict aborts") {
    import graft.table._
    val tbl = new ChronicleTable(tmpDir("table-conflict"))
    def file(b: Int, n: String) =
      DataFileMeta(s"/fake/bucket=$b/$n.parquet", 1L, b, n, n, 0L, 0L)
    def pc(key: String, removed: Seq[String], added: Seq[DataFileMeta]) =
      PendingCommit(key, removed, added, None,
        LineageEntry(key, "t", -1, -1, 0, 0, 0, 0L, Map.empty, -1L))
    var s = tbl.create(graft.model.Model.physicalSchemaV1, 4)
    s = tbl.commit(s, pc("seed#0", Nil, Seq(file(0, "a0"), file(1, "b0"))))

    // two writers build on the SAME base; writer 1 wins the version race
    val base = tbl.loadCurrent()
    val w1 = tbl.commit(base, pc("w1#0", Nil, Seq(file(0, "a1"))))
    assert(w1.version == base.version + 1)
    // writer 2 rewrites bucket 1 from the stale base: CREATE_NEW conflicts,
    // commit reloads, sees its removed file still live, rebases, lands
    val w2 = tbl.commit(base,
      pc("w2#0", Seq(file(1, "b0").path), Seq(file(1, "b1"))))
    assert(w2.version == base.version + 2)
    val paths = tbl.filesOf(tbl.loadCurrent()).map(_.path).toSet
    assert(paths == Set("/fake/bucket=0/a0.parquet", "/fake/bucket=0/a1.parquet",
      "/fake/bucket=1/b1.parquet"))

    // un-rebasable: a third writer from the same stale base removes the
    // file writer 2 already rewrote -> clear conflict error
    val e = intercept[IllegalStateException] {
      tbl.commit(base, pc("w3#0", Seq(file(1, "b0").path), Seq(file(1, "b2"))))
    }
    assert(e.getMessage.contains("conflict"))
  }

  test("concurrent compaction and merge on disjoint buckets both commit; state equals sequential") {
    val tbl = tmpDir("table-concurrent")
    val p = new CdcPipeline(PipelineConfig("", tbl, numBuckets = 4))
    p.ensureTable()
    // find keys by bucket: conv-h* in the hot bucket (file accumulation),
    // one key in a DIFFERENT bucket for the racing merge
    val probe = (0 until 40).map(i => f"conv-h$i%03d")
    val bucketOf = spark.createDataFrame(probe.map(Tuple1(_))).toDF("k")
      .select(col("k"), graft.table.ChronicleTable.bucketExpr("k", 4).as("b"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    val hotBucket = bucketOf(probe.head)
    val hotKeys = probe.filter(k => bucketOf(k) == hotBucket).take(6)
    val otherKey = probe.find(k => bucketOf(k) != hotBucket).get
    assert(hotKeys.size == 6)
    // 6 disjoint-range commits accumulate 6 files in the hot bucket
    hotKeys.zipWithIndex.foreach { case (k, i) =>
      val batch = Seq((i.toLong, "I", k, 0, "user", s"text $k",
        None: Option[String], new java.sql.Timestamp(0L)))
        .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
      MergeInto(spark, p.table, batch, s"seed#$i", "t")
    }
    val batch2 = Seq((100L, "I", otherKey, 0, "user", "merged row",
      None: Option[String], new java.sql.Timestamp(0L)))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    val v0 = p.table.loadCurrent().version

    // race them: compaction rewrites the hot bucket, the merge adds to a
    // different one; whichever loses the version race must rebase and land
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val fCompact = pool.submit(new java.util.concurrent.Callable[Int] {
      def call(): Int = { start.await(); Compaction(spark, p.table, maxFilesPerBucket = 2).compactedBuckets }
    })
    val fMerge = pool.submit(new java.util.concurrent.Callable[Long] {
      def call(): Long = { start.await(); MergeInto(spark, p.table, batch2, "race#0", "t").upserts }
    })
    start.countDown()
    val (compacted, upserts) = (fCompact.get(), fMerge.get())
    pool.shutdown()
    assert(compacted == 1 && upserts == 1)
    val after = p.table.loadCurrent()
    assert(after.version == v0 + 2, s"expected both commits to land, at v${after.version}")
    // final state = sequential outcome: all hot rows + the merged row
    val texts = p.currentState(spark).select("text").as[String].collect().toSet
    assert(texts == hotKeys.map(k => s"text $k").toSet + "merged row")
    assert(graft.table.ChronicleTable.isCommitted(after, "race#0"))
  }

  test("snapshot expiry deletes old manifests + only-expired data files; current state intact") {
    val src = tmpDir("binlog-expire")
    val tbl = tmpDir("table-expire")
    val cfg = BinlogConfig(numEvents = 1000, numConversations = 10, segmentSize = 100)
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new CdcPipeline(PipelineConfig(src, tbl, segmentsPerBatch = 1, numBuckets = 2))
    p.runAll(spark) // 10 commits -> versions 0..10
    val before = p.table.loadCurrent()
    val state = p.currentState(spark).collect().toSeq
    val allFilesEver = p.table.versions
      .flatMap(v => p.table.filesOf(p.table.loadVersion(v)).map(_.path)).distinct

    val (expired, deleted) = p.table.expireSnapshots(keepLast = 3)
    assert(expired.nonEmpty && deleted.nonEmpty)
    assert(p.table.versions.size == 3)
    // expired version reads fail cleanly
    intercept[NoSuchElementException] { p.table.loadVersion(expired.head) }
    // current snapshot is untouched: same version, same rows, files on disk
    val after = p.table.loadCurrent()
    assert(after.version == before.version)
    assert(p.currentState(spark).collect().toSeq == state)
    p.table.filesOf(after).foreach(f =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(f.path))))
    // deleted = exactly the files referenced by no retained version
    val live = p.table.versions
      .flatMap(v => p.table.filesOf(p.table.loadVersion(v)).map(_.path)).toSet
    assert(deleted.toSet == allFilesEver.filterNot(live).toSet)
    // resume still works after expiry (ledger floor + cursor survive)
    assert(p.runOnce(spark).isEmpty) // nothing pending
  }

  test("time-sliced read prunes untouched days' files at the manifest level") {
    val tbl = tmpDir("table-timeslice")
    val p = new CdcPipeline(PipelineConfig("", tbl, numBuckets = 1))
    p.ensureTable()
    def dayMs(d: Int) = 1704067200000L + d.toLong * 86400000L
    // three commits with disjoint key ranges (no rewrite) and disjoint days
    (0 until 3).foreach { d =>
      val batch = (0 until 10).map { k =>
        (d * 100L + k, "I", f"conv-$d-$k%03d", 0, "user", s"text $d $k",
          None: Option[String], new java.sql.Timestamp(dayMs(d) + k * 1000L))
      }.toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
      MergeInto(spark, p.table, batch, s"day#$d", "t")
    }
    val snap = p.table.loadCurrent()
    val snapFiles = p.table.filesOf(snap)
    // per-file ts stats recorded (and rolled up into the manifest list)
    assert(snapFiles.forall(f => f.minTsMs > 0 && f.maxTsMs >= f.minTsMs))
    assert(snap.manifestList.forall(m => m.minTsMs > 0 && m.maxTsMs >= m.minTsMs))
    val day1 = snapFiles.filter(f =>
      f.minTsMs >= dayMs(1) && f.maxTsMs < dayMs(2)).map(_.path).toSet
    assert(day1.nonEmpty)
    // manifest-level pruning selects exactly day 1's files
    val pruned = p.table.files(snap, FilePrune(fromTsMs = dayMs(1), toTsMs = dayMs(2) - 1))
    assert(pruned.map(_.path).toSet == day1)
    // the physical scan lists ONLY those files — untouched days never reach it
    val slice = p.table.readSlice(spark, dayMs(1), dayMs(2) - 1)
    val scanned = plannedFiles(slice).toSet
    assert(scanned == day1, s"scanned $scanned, expected $day1")
    assert(slice.count() == 10)
    // stat-less entries (pre-upgrade manifests) are conservatively kept at
    // BOTH pruning levels: a (0,0) manifest summary is opened for any time
    // range, and a (0,0) file inside it survives the file-level filter
    val legacyManifest = java.nio.file.Paths.get(tbl, "meta", "manifests",
      "m-0-legacy.json")
    java.nio.file.Files.writeString(legacyManifest,
      """{"bucket":0,"files":[{"path":"/nonexistent/legacy.parquet","rows":1,
        |"bucket":0,"minKey":"a","maxKey":"z","minTsMs":0,"maxTsMs":0}]}""".stripMargin)
    val legacy = graft.table.ManifestMeta(legacyManifest.toString, 0, 1, 1L,
      "a", "z", 0L, 0L)
    val withLegacy = snap.copy(manifests = legacy +: snap.manifestList)
    val prunedLegacy = p.table.files(withLegacy,
      FilePrune(fromTsMs = dayMs(1), toTsMs = dayMs(2) - 1))
    assert(prunedLegacy.exists(_.path == "/nonexistent/legacy.parquet"))
    assert(prunedLegacy.map(_.path).toSet == day1 + "/nonexistent/legacy.parquet")
  }

  test("write-side file stats equal a footer read: CoW, MOR, compact, rescale, no ts") {
    import graft.model.Model
    import graft.ops.Rescale
    import graft.table.{ChronicleTable, DataFileMeta}
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    // The reference: one data file's manifest entry rebuilt from its parquet
    // footer (row count, column statistics) and its filesystem length.
    def footer(f: String): DataFileMeta = {
      import org.apache.parquet.column.statistics.{BinaryStatistics, LongStatistics}
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f), spark.sparkContext.hadoopConfiguration)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        def stats(name: String) = blocks.flatMap(_.getColumns.asScala
          .filter(_.getPath.toDotString == name).map(_.getStatistics))
        val keys = stats("conv_id").collect {
          case s: BinaryStatistics if !s.isEmpty =>
            (s.genericGetMin.toStringUsingUTF8, s.genericGetMax.toStringUsingUTF8)
        }
        // ts is INT64 micros on disk; the manifest stores millis
        val ts = stats("ts").collect {
          case s: LongStatistics if !s.isEmpty =>
            (s.genericGetMin / 1000L, s.genericGetMax / 1000L)
        }
        val lsn = stats(Model.lsnColumn).collect {
          case s: LongStatistics if !s.isEmpty => (s.genericGetMin, s.genericGetMax)
        }
        val bucket = ".*/bucket=(\\d+)/[^/]+$".r.findFirstMatchIn(f)
          .map(_.group(1).toInt).getOrElse(-1)
        DataFileMeta(f, blocks.map(_.getRowCount).sum, bucket,
          if (keys.isEmpty) "" else keys.map(_._1).min,
          if (keys.isEmpty) "\uffff" else keys.map(_._2).max,
          if (ts.isEmpty) 0L else ts.map(_._1).min,
          if (ts.isEmpty) 0L else ts.map(_._2).max,
          minLsn = if (lsn.isEmpty) -1L else lsn.map(_._1).min,
          maxLsn = if (lsn.isEmpty) -1L else lsn.map(_._2).max,
          bytes = in.getLength)
      } finally reader.close()
    }
    // Every file the latest commit added equals its footer read, and the
    // added paths are exactly the parquet files of their staging dirs.
    def checkLatest(t: ChronicleTable, delta: Boolean): Seq[DataFileMeta] = {
      val snap = t.loadCurrent()
      val before = t.filesOf(t.loadVersion(snap.version - 1)).map(_.path).toSet
      val added = t.filesOf(snap).filterNot(f => before(f.path))
      assert(added.nonEmpty)
      added.foreach { f =>
        assert(f.delta == delta, s"${f.path} delta=${f.delta}")
        assert(f.copy(delta = false) == footer(f.path))
      }
      val staged = added.map(f => java.nio.file.Paths.get(f.path).getParent.getParent)
        .distinct.flatMap { d =>
          val s = java.nio.file.Files.walk(d)
          try s.iterator().asScala.map(_.toString).filter(_.endsWith(".parquet")).toList
          finally s.close()
        }
      assert(staged.toSet == added.map(_.path).toSet)
      added
    }
    def ts(i: Long) = new java.sql.Timestamp(1704067200000L + i * 1000L)
    val inserts = (0 until 200).map { k =>
      (k.toLong, "I", f"conv-$k%04d", k % 4, "user", s"text $k",
        None: Option[String], ts(k))
    }.toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    // updates, and deletes whose payload is null (the tombstone shape)
    val changes = (0 until 120 by 3).map { k =>
      if (k % 2 == 0) (1000L + k, "I", f"conv-$k%04d", k % 4, "user", s"new $k",
        Some("t"): Option[String], ts(1000 + k))
      else (1000L + k, "D", f"conv-$k%04d", k % 4, null, null,
        None: Option[String], null: java.sql.Timestamp)
    }.toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")

    // copy-on-write: a fresh write, then a rewrite of the touched files
    val cow = new CdcPipeline(PipelineConfig("", tmpDir("table-stats-cow"), numBuckets = 4))
    cow.ensureTable()
    MergeInto(spark, cow.table, inserts, "s#0", "t")
    checkLatest(cow.table, delta = false)
    MergeInto(spark, cow.table, changes, "s#1", "t")
    checkLatest(cow.table, delta = false)

    // merge-on-read: delta files, tombstones kept with their null payload
    val mor = new CdcPipeline(PipelineConfig("", tmpDir("table-stats-mor"), numBuckets = 4))
    mor.ensureTable()
    MergeInto(spark, mor.table, inserts, "s#0", "t", mergeOnRead = true)
    checkLatest(mor.table, delta = true)
    MergeInto(spark, mor.table, changes, "s#1", "t", orderedSource = false,
      mergeOnRead = true)
    val tombstones = spark.read
      .parquet(checkLatest(mor.table, delta = true).map(_.path): _*)
      .filter(col(Model.deletedColumn))
    assert(tombstones.count() == 20 && tombstones.filter(col("ts").isNotNull).isEmpty)

    // compaction folds the deltas; rescale rewrites under a new count
    assert(Compaction(spark, mor.table, maxFilesPerBucket = 1).compactedBuckets > 0)
    checkLatest(mor.table, delta = false)
    Rescale(spark, mor.table, 3)
    assert(checkLatest(mor.table, delta = false).forall(_.bucket < 3))

    // a derived table without a ts column: no time bounds, the rest exact
    val noTs = new ChronicleTable(tmpDir("table-stats-nots"))
    noTs.create(StructType(Seq(StructField("conv_id", StringType),
      StructField("turn_idx", IntegerType), StructField("score", DoubleType)) ++
      Model.systemFields), 2)
    MergeInto(spark, noTs, (0 until 50).map(k => (k.toLong, "I", s"k$k", 0, k * 0.5))
      .toDF("lsn", "op", "conv_id", "turn_idx", "score"), "s#0", "t")
    assert(checkLatest(noTs, delta = false).forall(f => f.minTsMs == 0L && f.maxTsMs == 0L))
  }

  test("CRC integrity: corrupted payloads divert to quarantine, valid rows pass") {
    val clean = Seq((1L, "a", "hello"), (2L, "b", "world"), (3L, "c", "spark"))
      .toDF("lsn", "conv_id", "text")
    val stamped = Integrity.withCrc(clean)
    // corrupt row 2's text after stamping (bit-rot in transit)
    val corrupted = stamped.withColumn("text",
      when(col("lsn") === 2L, lit("w0rld")).otherwise(col("text")))
    val (valid, rejected) = Integrity.validate(corrupted)
    assert(valid.select("lsn").as[Long].collect().sorted.toSeq == Seq(1L, 3L))
    assert(rejected.select("lsn").as[Long].collect().toSeq == Seq(2L))
    // untouched stream validates fully
    val (v2, r2) = Integrity.validate(stamped)
    assert(v2.count() == 3 && r2.count() == 0)
  }

  test("streaming windowed aggregation with watermark over the change stream") {
    val src = tmpDir("binlog-wm")
    val cfg = BinlogConfig(numEvents = 2000, numConversations = 10, segmentSize = 500)
    BinlogGenerator.writeSegments(spark, cfg, src)
    val stream = spark.readStream
      .schema(graft.model.Model.changeSchema)
      .option("maxFilesPerTrigger", 16)
      .parquet(s"$src/segment=*")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("op"))
      .agg(count(lit(1)).as("n"))
    val q = stream.writeStream
      .format("memory").queryName("wm_counts")
      .outputMode("append")
      .option("checkpointLocation", tmpDir("ckpt-wm"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    // closed windows emitted in append mode; totals bounded by event count
    val emitted = spark.sql("select sum(n) from wm_counts").as[Long].collect()(0)
    assert(emitted > 0 && emitted <= 2000 + cfg.numEvents / 100)
  }

  test("schema evolution widens primitive types (int->long); old narrow files stay readable") {
    val tbl = tmpDir("table-widen")
    val p = new CdcPipeline(PipelineConfig("", tbl, numBuckets = 2))
    p.ensureTable()
    def batch(rows: Seq[(Long, String, Int, Any)]) = {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.types._
      val scoreType = rows.head._4 match {
        case _: Int => IntegerType
        case _: Long => LongType
        case _: Double => DoubleType
        case _: String => StringType
      }
      spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map { case (lsn, c, t, s) =>
          Row(lsn, "I", c, t, "user", s"text $lsn", null, new java.sql.Timestamp(0L), s)
        }),
        StructType(Seq(
          StructField("lsn", LongType), StructField("op", StringType),
          StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
          StructField("role", StringType), StructField("text", StringType),
          StructField("tool", StringType), StructField("ts", TimestampType),
          StructField("score", scoreType))))
    }
    // first merge: score lands as INT
    MergeInto(spark, p.table, batch(Seq((1L, "conv-a", 0, 7), (2L, "conv-b", 0, 9))),
      "w#0", "t")
    import org.apache.spark.sql.types.{IntegerType, LongType}
    assert(p.table.loadCurrent().schema("score").dataType == IntegerType)
    // second merge ships score as LONG: the snapshot schema widens, the
    // narrow first-generation file reads through the wider schema natively
    MergeInto(spark, p.table, batch(Seq((3L, "conv-c", 0, 5000000000L))), "w#1", "t")
    val snap = p.table.loadCurrent()
    assert(snap.schema("score").dataType == LongType)
    val got = p.table.read(spark)
      .select("conv_id", "score").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("conv-a" -> 7L, "conv-b" -> 9L, "conv-c" -> 5000000000L))
    // a lossy change is rejected, not coerced
    val err = intercept[Exception] {
      MergeInto(spark, p.table, batch(Seq((4L, "conv-d", 0, "not-a-number"))), "w#2", "t")
    }
    assert(err.getMessage.contains("incompatible schema change"))
    // long->double is also rejected: doubles round above 2^53, so the
    // "widening" would silently corrupt large longs (Iceberg excludes it too)
    val err2 = intercept[Exception] {
      MergeInto(spark, p.table, batch(Seq((5L, "conv-e", 0, 1.5d))), "w#3", "t")
    }
    assert(err2.getMessage.contains("incompatible schema change"))
  }

  test("point lookup scans one bucket's files only and equals the filtered full scan") {
    import graft.table.ChronicleTable
    val cfg = BinlogConfig(numEvents = 1500, numConversations = 12,
      segmentSize = 500, dupPct = 5, pDelete = 0.15)
    val src = tmpDir("binlog-pk")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new CdcPipeline(PipelineConfig(src, tmpDir("table-pk"),
      segmentsPerBatch = 1, numBuckets = 8))
    p.runAll(spark)
    val t = p.table
    val n = t.loadCurrent().numBuckets
    // the driver-side bucket mirror agrees with the write path's expression
    // for every key in the table
    val viaExpr = t.read(spark)
      .select(col("conv_id"), ChronicleTable.bucketExpr("conv_id", n).as("b"))
      .distinct().collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    viaExpr.foreach { case (k, b) =>
      assert(ChronicleTable.bucketOf(k, n) == b, s"bucketOf mismatch for $k")
    }
    val k = viaExpr.keys.min
    val got = t.readKey(spark, k)
    val expect = t.read(spark).filter(col("conv_id") === k &&
      !col(graft.model.Model.deletedColumn))
    assert(got.collect().toSet == expect.collect().toSet)
    // metadata-only planning: every scanned file is in the key's bucket
    val b = ChronicleTable.bucketOf(k, n)
    val scanned = plannedFiles(got)
    assert(scanned.nonEmpty && scanned.forall(_.contains(s"bucket=$b/")),
      s"lookup scanned outside bucket $b: ${scanned.mkString(",")}")
    // a key the table never saw plans to zero/irrelevant files and no rows
    assert(t.readKey(spark, "conv-that-does-not-exist").count() == 0)

    // merge-on-read: the lookup LWW-merges the bucket's deltas
    val m = new CdcPipeline(PipelineConfig(src, tmpDir("table-pk-mor"),
      segmentsPerBatch = 1, numBuckets = 8, mergeOnRead = true))
    m.runAll(spark)
    val gotMor = m.table.readKey(spark, k)
      .select("conv_id", "turn_idx", "role", "text")
    val expMor = m.table.read(spark).filter(col("conv_id") === k &&
      !col(graft.model.Model.deletedColumn))
      .select("conv_id", "turn_idx", "role", "text")
    assert(gotMor.collect().toSet == expMor.collect().toSet)
  }

  test("one pruning rule: files() equals a brute-force reference and every reader plans exactly those files") {
    import graft.model.Model
    import graft.table.ChronicleTable
    import org.apache.spark.sql.DataFrame
    def dayMs(d: Int) = 1704067200000L + d.toLong * 86400000L
    val root = tmpDir("table-prune-ref")
    val p = new CdcPipeline(PipelineConfig("", root, numBuckets = 4))
    p.ensureTable()
    def keys(d: Int) = (0 until 12).map(k => f"conv-$d-$k%03d")
    def batch(lsn0: Long, op: String, day: Int, ks: Seq[String]) =
      ks.zipWithIndex.map { case (k, i) =>
        (lsn0 + i, op, k, 0, "user", s"text $lsn0 $k", None: Option[String],
          new java.sql.Timestamp(dayMs(day) + i * 1000L))
      }.toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    // two sources, three days, disjoint key ranges per day (copy-on-write
    // merges then append files instead of rewriting earlier days')
    MergeInto(spark, p.table, batch(0L, "I", 0, keys(0)), "a#0", "t")
    MergeInto(spark, p.table, batch(100L, "I", 1, keys(1)), "a#1", "t")
    MergeInto(spark, p.table, batch(5L, "I", 2, keys(2)), "b#0", "t")
    val sinceV = p.table.loadCurrent().version
    // merge-on-read updates of two day-0 keys: deltas in their buckets only
    MergeInto(spark, p.table, batch(200L, "U", 2, keys(0).take(2)), "a#2", "t",
      mergeOnRead = true)
    val snap = p.table.loadCurrent()
    val all = p.table.filesOf(snap)
    val deltaBuckets = all.filter(_.delta).map(_.bucket).toSet
    assert(deltaBuckets.nonEmpty && deltaBuckets.size < 4,
      s"deltas should land in some buckets only: $deltaBuckets")

    // the reference: a file can hold a row inside every bound unless a
    // known stat proves otherwise; deltas ignore ts bounds
    def ref(buckets: Set[Int] = Set(0, 1, 2, 3),
        kLo: String = "", kHi: String = "\uffff",
        tLo: Long = Long.MinValue, tHi: Long = Long.MaxValue,
        lLo: Long = Long.MinValue, lHi: Long = Long.MaxValue): Set[String] =
      all.filter { f =>
        val tsKnown = !(f.minTsMs == 0L && f.maxTsMs == 0L)
        buckets.contains(f.bucket) && f.maxKey >= kLo && f.minKey <= kHi &&
          (f.delta || !tsKnown || (f.maxTsMs >= tLo && f.minTsMs <= tHi)) &&
          (f.maxLsn < 0L || f.maxLsn >= lLo) && (f.minLsn < 0L || f.minLsn <= lHi)
      }.map(_.path).toSet
    def pruned(prune: FilePrune) = p.table.files(snap, prune).map(_.path).toSet

    val k = "conv-1-005"
    val kb = ChronicleTable.bucketOf(k, 4)
    val grid = Seq(
      FilePrune(minKey = Some(k), maxKey = Some(k)) -> ref(kLo = k, kHi = k),
      FilePrune(Some(Set(kb)), Some(k), Some(k)) -> ref(Set(kb), k, k),
      FilePrune(minKey = Some("conv-0-005"), maxKey = Some("conv-1-003")) ->
        ref(kLo = "conv-0-005", kHi = "conv-1-003"),
      FilePrune(Some(Set(0, 2))) -> ref(Set(0, 2)),
      FilePrune(fromTsMs = dayMs(1), toTsMs = dayMs(2) - 1) ->
        ref(tLo = dayMs(1), tHi = dayMs(2) - 1),
      FilePrune(Some(Set(1, 3)), fromTsMs = dayMs(0), toTsMs = dayMs(1) - 1) ->
        ref(Set(1, 3), tLo = dayMs(0), tHi = dayMs(1) - 1),
      FilePrune(fromLsn = 100L) -> ref(lLo = 100L),
      FilePrune(toLsn = 16L) -> ref(lHi = 16L),
      FilePrune(fromLsn = 5L, toLsn = 11L) -> ref(lLo = 5L, lHi = 11L))
    grid.foreach { case (prune, want) =>
      assert(want.nonEmpty && want.size < all.size, s"$prune: degenerate case")
      assert(pruned(prune) == want, s"$prune planned the wrong files")
    }

    // every reader is the same DSv2 scan: compare the files it planned
    def scanFiles(df: DataFrame): Set[String] = plannedFiles(df).toSet

    // the dedicated readers, by the files they hand the scan
    val d0 = keys(0).head // a key with a delta
    assert(scanFiles(p.table.readKey(spark, d0)) ==
      ref(Set(ChronicleTable.bucketOf(d0, 4)), d0, d0))
    assert(scanFiles(p.table.readKey(spark, k)) == ref(Set(kb), k, k))
    assert(scanFiles(p.table.readSlice(spark, dayMs(1), dayMs(2) - 1)) ==
      ref(tLo = dayMs(1), tHi = dayMs(2) - 1))
    val since = p.table.loadVersion(sinceV)
    val thr = Seq(since.hwmFor("a"), since.hwmFor("b")).min
    assert(thr == 16L)
    assert(scanFiles(p.table.readChanges(spark, sinceV)) == ref(lLo = thr + 1))
    assert(scanFiles(p.table.scanLsnInterval(spark, snap, 5L, 11L)) ==
      ref(lLo = 5L, lHi = 11L))

    // a plain read: Catalyst pushes key filters into the scan's pruning
    assert(scanFiles(p.table.read(spark).filter(col("conv_id") === k)) ==
      ref(Set(kb), k, k))
    assert(scanFiles(p.table.read(spark).filter(
      col("conv_id") >= "conv-0-005" && col("conv_id") <= "conv-1-003")) ==
      ref(kLo = "conv-0-005", kHi = "conv-1-003"))

    // format("graft") plans the same scan
    def dsv2 = spark.read.format("graft").load(root)
    assert(scanFiles(dsv2.filter(col("conv_id") === k)) == ref(Set(kb), k, k))
    assert(scanFiles(dsv2.filter(col("ts") >= new java.sql.Timestamp(dayMs(1)) &&
      col("ts") < new java.sql.Timestamp(dayMs(2)))) ==
      ref(tLo = dayMs(1), tHi = dayMs(2) - 1))
    assert(scanFiles(dsv2.filter(col("_lsn") > 16L)) == ref(lLo = 17L))
    // an _lsn UPPER bound must not prune below the LWW merge (neither a
    // file nor a parquet row group): the day-0 deltas (lsn 200+) displace
    // base rows whose lsn passes the filter
    def visible(df: DataFrame) = df.select("conv_id", "turn_idx", "text").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    assert(visible(dsv2.filter(col("_lsn") <= 111L)) == visible(p.table.read(spark)
      .filter(!col(Model.deletedColumn) && col("_lsn") <= 111L)))
    // likewise a ts bound: those deltas moved their keys to day 2
    val day1 = new java.sql.Timestamp(dayMs(1))
    assert(visible(dsv2.filter(col("ts") < day1)) == visible(p.table.read(spark)
      .filter(!col(Model.deletedColumn) && col("ts") < day1)))

    // the change stream: a tail batch and both slices of a bootstrap
    val ms = graft.changes.DefaultSource.microBatchStream(snap.schema, root,
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", root)))
    def planned(from: String, to: String) =
      ms.planInputPartitions(ms.deserializeOffset(from), ms.deserializeOffset(to))
        .flatMap(partitionPaths).toSet
    assert(planned(s"""{"version":$sinceV}""", s"""{"version":${snap.version}}""") ==
      ref(lLo = thr + 1))
    val (gMin, gMax) = p.table.lsnBounds(snap)
    (0 until 2).foreach { i =>
      val (lo, hi) = ChronicleTable.lsnSliceInterval(gMin, gMax, i, 2)
      assert(planned(s"""{"version":${snap.version}}""",
        s"""{"version":${snap.version},"slice":$i,"slices":2,""" +
          s""""lsnMin":$gMin,"lsnMax":$gMax}""") == ref(lLo = lo, lHi = hi))
    }
  }
}
