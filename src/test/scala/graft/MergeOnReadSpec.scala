package graft

import graft.cdc.{CdcPipeline, PipelineConfig}
import graft.model.Model
import graft.ops.Compaction
import graft.source.{BinlogConfig, BinlogGenerator}
import org.apache.spark.sql.Row

/** Merge-on-read write path: batches land as delta files (O(batch) write
  * IO, no table reads), reads LWW-merge base+deltas, compaction folds the
  * deltas back into key-unique base files. Every scenario must converge to
  * the same oracle as the copy-on-write path — the mode changes physical
  * layout and IO, never results.
  */
class MergeOnReadSpec extends SparkSpec {

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

  test("MOR replay equals the oracle and the CoW replay; deltas never rewrite files") {
    val cfg = BinlogConfig(numEvents = 3000, numConversations = 20,
      segmentSize = 200, dupPct = 10, pDelete = 0.2, evolveAtLsn = 1500)
    val src = tmpDir("binlog-mor")
    BinlogGenerator.writeSegments(spark, cfg, src)

    val mor = new CdcPipeline(PipelineConfig(src, tmpDir("table-mor"),
      segmentsPerBatch = 3, numBuckets = 4, mergeOnRead = true))
    val cow = new CdcPipeline(PipelineConfig(src, tmpDir("table-cow"),
      segmentsPerBatch = 3, numBuckets = 4))
    mor.runAll(spark)
    cow.runAll(spark)

    assert(tableRows(mor) == oracleRows(cfg))
    assert(tableRows(mor) == tableRows(cow))

    // physical claims: every MOR commit added only deltas and removed
    // nothing — write amplification is O(batch), not O(touched files)
    val snap = mor.table.loadCurrent()
    assert(mor.table.hasDeltas(snap))
    val files = mor.table.filesOf(snap)
    assert(files.forall(_.delta), "a MOR-only replay must hold only delta files")
    // the physical file count grows with batches (nothing was rewritten)
    assert(snap.version >= 5)
  }

  test("compaction folds deltas into key-unique base files; state unchanged; plain-scan read returns") {
    val cfg = BinlogConfig(numEvents = 2000, numConversations = 15,
      segmentSize = 200, dupPct = 5, pDelete = 0.25)
    val src = tmpDir("binlog-mor-compact")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new CdcPipeline(PipelineConfig(src, tmpDir("table-mor-compact"),
      segmentsPerBatch = 2, numBuckets = 4, mergeOnRead = true))
    p.runAll(spark)
    val before = tableRows(p)

    val r = Compaction(spark, p.table, maxFilesPerBucket = 4)
    assert(r.compactedBuckets > 0)
    val snap = p.table.loadCurrent()
    assert(!p.table.hasDeltas(snap), "compaction must fold every delta")
    assert(tableRows(p) == before)

    // base files are key-unique after the fold
    val dup = p.table.read(spark)
      .groupBy("conv_id", "turn_idx").count()
      .filter(org.apache.spark.sql.functions.col("count") > 1).count()
    assert(dup == 0)

    // tombstone-horizon GC after the fold must not resurrect deleted keys
    val r2 = Compaction(spark, p.table, maxFilesPerBucket = 0,
      tombstoneHorizonLsn = Long.MaxValue)
    assert(tableRows(p) == before)
    assert(r2.droppedRows >= 0)
    val tombs = p.table.read(spark)
      .filter(org.apache.spark.sql.functions.col(Model.deletedColumn)).count()
    assert(tombs == 0, "horizon at max LSN must GC every tombstone")
  }

  test("MOR deletes mask base rows across mode switches (CoW base + MOR deltas)") {
    // phase 1 in CoW builds a base; phase 2 in MOR overlays updates+deletes:
    // the mixed table must read correctly and a CoW merge over it must
    // collapse base+delta versions instead of duplicating keys
    val cfg = BinlogConfig(numEvents = 1800, numConversations = 12,
      segmentSize = 200, dupPct = 5, pDelete = 0.25)
    val src = tmpDir("binlog-mor-mixed")
    val tbl = tmpDir("table-mor-mixed")
    BinlogGenerator.writeSegments(spark, cfg, src)

    val cow = new CdcPipeline(PipelineConfig(src, tbl, segmentsPerBatch = 3,
      numBuckets = 4))
    cow.runAll(spark, maxBatches = 1) // segments 0..2 as base
    val mor = new CdcPipeline(PipelineConfig(src, tbl, segmentsPerBatch = 3,
      numBuckets = 4, mergeOnRead = true))
    mor.runAll(spark, maxBatches = 1) // segments 3..5 as deltas
    assert(mor.table.hasDeltas(mor.table.loadCurrent()))
    val cow2 = new CdcPipeline(PipelineConfig(src, tbl, segmentsPerBatch = 3,
      numBuckets = 4))
    cow2.runAll(spark) // segments 6..8 back in CoW over the mixed table

    assert(tableRows(cow2) == oracleRows(cfg))
    // the final CoW rewrite left each touched key single-versioned: total
    // physical duplicates can only live in never-touched delta/base pairs
    val dups = cow2.table.read(spark)
      .groupBy("conv_id", "turn_idx").count()
      .filter(org.apache.spark.sql.functions.col("count") > 1).count()
    assert(dups == 0, "read-time merge must collapse base+delta versions")
  }

  test("a copy-on-write commit touching a delta rewrites the delta's whole bucket (ordered and unordered batch)") {
    // the mixed-mode case above has one base file per bucket; here the
    // bucket's base is range-split, so the batch's key range prunes the
    // base file of a key the touched delta also holds
    import graft.ops.MergeInto
    import spark.implicits._
    def batch(rows: (Long, Int)*) = rows.map { case (lsn, k) =>
      (lsn, "U", s"c-$k", 0, "user", s"text $lsn", None: Option[String],
        new java.sql.Timestamp(1704067200000L + lsn))
    }.toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    for (ordered <- Seq(true, false)) {
      val t = new graft.table.ChronicleTable(tmpDir("table-mor-cowdelta"))
      t.create(Model.physicalSchemaV1, numBuckets = 1)
      MergeInto(spark, t, batch((1 to 9).map(k => (k.toLong, k)): _*), "w#0", "t")
      Compaction(spark, t, maxFilesPerBucket = 0, targetRowsPerFile = 3)
      assert(t.filesOf(t.loadCurrent()).size > 2,
        "fixture: compaction must split the bucket into key-disjoint files")
      MergeInto(spark, t, batch(20L -> 1, 21L -> 9), "w#1", "t", mergeOnRead = true)
      if (ordered) MergeInto(spark, t, batch(30L -> 2), "w#2", "t")
      else MergeInto(spark, t, batch(30L -> 2), "u#0", "t", orderedSource = false)
      val rows = t.read(spark).select("conv_id", Model.lsnColumn).as[(String, Long)]
        .collect().toSeq.sorted
      val want = ((1 to 9).map(k => s"c-$k" -> k.toLong).toMap ++
        Map("c-1" -> 20L, "c-2" -> 30L, "c-9" -> 21L)).toSeq.sorted
      assert(rows == want, s"ordered=$ordered: a stale version is visible again")
    }
  }

  test("MOR kill-resume converges exactly-once") {
    val cfg = BinlogConfig(numEvents = 1500, numConversations = 10,
      segmentSize = 150, dupPct = 10, pDelete = 0.2)
    val src = tmpDir("binlog-mor-kill")
    val tbl = tmpDir("table-mor-kill")
    BinlogGenerator.writeSegments(spark, cfg, src)
    def mk() = new CdcPipeline(PipelineConfig(src, tbl, segmentsPerBatch = 2,
      numBuckets = 4, mergeOnRead = true))

    val p = mk()
    p.ensureTable()
    p.table.beforePublishHook = snap =>
      if (snap.version == 3) throw new RuntimeException("simulated crash")
    intercept[RuntimeException] { p.runAll(spark) }
    p.table.beforePublishHook = _ => ()

    val p2 = mk() // fresh process
    p2.runAll(spark)
    assert(tableRows(p2) == oracleRows(cfg))
    val keys = p2.table.fullLineage().map(_.batchKey)
    assert(keys.distinct.length == keys.length)
  }

  test("unordered streaming epochs in MOR converge (read-time LWW replaces the guard join)") {
    val cfg = BinlogConfig(numEvents = 1200, numConversations = 10,
      segmentSize = 150, dupPct = 10, pDelete = 0.2)
    val src = tmpDir("binlog-mor-ss")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new CdcPipeline(PipelineConfig(src, tmpDir("table-mor-ss"),
      sourceId = "morss", numBuckets = 4, mergeOnRead = true))
    val q = p.startStream(spark, tmpDir("ckpt-mor"), maxFilesPerTrigger = 2)
    q.awaitTermination(120000)
    assert(tableRows(p) == oracleRows(cfg))
  }

  test("multi-sink fan-out honors mergeOnRead per sink") {
    import graft.cdc.MultiSinkPipeline
    import graft.routing.RouteConfig
    val cfg = BinlogConfig(numEvents = 900, numConversations = 8,
      segmentSize = 300, dupPct = 5, pDelete = 0.2)
    val src = tmpDir("binlog-msink-mor")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new MultiSinkPipeline(
      PipelineConfig(src, tmpDir("table-msink-mor"), segmentsPerBatch = 1,
        numBuckets = 2, mergeOnRead = true),
      Seq(RouteConfig("users", Some("""xpath("role") = "user""""))))
    p.runAll(spark)
    p.sinkNames.foreach { s =>
      assert(p.sinkTable(s).hasDeltas(p.sinkTable(s).loadCurrent()),
        s"sink $s did not write deltas under mergeOnRead")
    }
    def fold(pred: graft.model.Model.ChangeEvent => Boolean) = {
      val cdf = BinlogGenerator.zipfCdf(cfg.numConversations, cfg.zipfS)
      val st = scala.collection.mutable.Map[(String, Int), String]()
      (0L until cfg.numEvents).foreach { lsn =>
        val ev = BinlogGenerator.eventAt(cfg, cdf, lsn)
        if (pred(ev)) {
          if (ev.op == "D") st.remove((ev.conv_id, ev.turn_idx))
          else st((ev.conv_id, ev.turn_idx)) = ev.text
        }
      }
      st.toSeq.sortBy(_._1)
    }
    def state(sink: String) = p.sinkState(spark, sink)
      .select("conv_id", "turn_idx", "text").collect().toSeq
      .map(r => ((r.getString(0), r.getInt(1)), r.getString(2))).sortBy(_._1)
    assert(state("users") == fold(_.role == "user"))
    assert(state("default") == fold(_.role != "user"))
  }

  test("in-drain maintenance with MOR bounds files and GCs tombstones up to the HWM") {
    val cfg = BinlogConfig(numEvents = 3000, numConversations = 20,
      segmentSize = 100, dupPct = 5, pDelete = 0.25)
    val src = tmpDir("binlog-mor-maint")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new CdcPipeline(PipelineConfig(src, tmpDir("table-mor-maint"),
      segmentsPerBatch = 1, numBuckets = 4, mergeOnRead = true,
      maintenanceEveryBatches = 5, compactMaxFilesPerBucket = 4,
      retainSnapshots = 5))
    p.runAll(spark)
    assert(tableRows(p) == oracleRows(cfg))
    val snap = p.table.loadCurrent()
    // 30 batches × O(buckets) delta files each would be ~100+ live files
    // without the periodic fold; maintenance keeps it bounded
    assert(snap.numFiles <= 30, s"live files not bounded: ${snap.numFiles}")
    // the last maintenance GC'd tombstones at-or-below its HWM; only
    // post-maintenance deltas may still carry them
    val tombs = p.table.read(spark)
      .filter(org.apache.spark.sql.functions.col(Model.deletedColumn)).count()
    val files = p.table.filesOf(snap)
    assert(files.count(_.delta) <= 5 * 4, "deltas since last fold stay bounded")
    assert(tombs <= cfg.numEvents / 5, s"tombstones not GC'd: $tombs")
  }
}
