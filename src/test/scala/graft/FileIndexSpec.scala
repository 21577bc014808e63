package graft

import graft.cdc.{CdcPipeline, PipelineConfig}
import graft.ops.MergeInto
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Catalyst-pushed filters over a plain `ChronicleTable.read` (or SQL
  * over a registered view) prune data files at the MANIFEST during
  * planning — the lakehouse-format integration point. Asserted through
  * the files the planned DSv2 scan partitions hold
  * ([[SparkSpec.plannedFiles]]).
  */
class FileIndexSpec extends SparkSpec {

  import spark.implicits._

  /** The data files the query's graft scans planned. */
  private def planned(df: DataFrame): Set[String] =
    plannedFiles(df).toSet

  private def dayMs(d: Int) = 1704067200000L + d.toLong * 86400000L

  /** One bucket, three commits with disjoint key ranges and disjoint days:
    * no rewrites, so each commit's single file keeps its own key/ts/lsn
    * bounds — a pruned read must plan exactly one of the three.
    */
  private lazy val daysTable: graft.table.ChronicleTable = {
    val p = new CdcPipeline(PipelineConfig("", tmpDir("fidx-days"), numBuckets = 1))
    p.ensureTable()
    (0 until 3).foreach { d =>
      val batch = (0 until 10).map { k =>
        (d * 100L + k, "I", f"conv-$d-$k%03d", 0, "user", s"text $d $k",
          None: Option[String], new java.sql.Timestamp(dayMs(d) + k * 1000L))
      }.toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
      MergeInto(spark, p.table, batch, s"day#$d", "t")
    }
    p.table
  }

  test("key, ts and lsn filters on a plain read prune files at the manifest") {
    val t = daysTable
    val snap = t.loadCurrent()
    val files = t.filesOf(snap)
    val total = files.size.toLong
    val full = t.read(spark)
    assert(planned(full) == files.map(_.path).toSet)

    // expectations derived from the manifest bounds themselves (each
    // commit hash-splits into >1 file, so counts are not hardcoded)
    val k = "conv-1-005"
    val keyFiles = files.filter(f => f.minKey <= k && f.maxKey >= k).map(_.path).toSet
    assert(keyFiles.size < total)
    val byKey = t.read(spark).filter(col("conv_id") === k)
    assert(planned(byKey) == keyFiles,
      s"key equality must plan ${keyFiles.size} of $total files")
    assert(byKey.count() == 1)

    val tsFiles = files.filter(f =>
      f.minTsMs <= dayMs(2) - 1 && f.maxTsMs >= dayMs(1)).map(_.path).toSet
    assert(tsFiles.size < total)
    val byTs = t.read(spark).filter(
      col("ts") >= to_timestamp(lit(new java.sql.Timestamp(dayMs(1)))) &&
        col("ts") < to_timestamp(lit(new java.sql.Timestamp(dayMs(2)))))
    assert(planned(byTs) == tsFiles,
      s"ts range must plan ${tsFiles.size} of $total files")
    assert(byTs.count() == 10)

    val lsnFiles = files.filter(_.maxLsn > 199L).map(_.path).toSet
    assert(lsnFiles.size < total)
    val byLsn = t.read(spark).filter(col("_lsn") > 199L)
    assert(planned(byLsn) == lsnFiles,
      s"_lsn lower bound must plan ${lsnFiles.size} of $total files")
    assert(byLsn.count() == 10)

    // the pruned plans return exactly what an unpruned filter would
    assert(byTs.collect().toSet ==
      full.filter(unix_millis(col("ts")).between(dayMs(1), dayMs(2) - 1))
        .collect().toSet)
  }

  test("SQL over a registered view gets the same manifest pruning") {
    daysTable.read(spark).createOrReplaceTempView("fidx_conversations")
    val q = spark.sql(
      "SELECT conv_id, text FROM fidx_conversations WHERE conv_id = 'conv-2-003'")
    val k = "conv-2-003"
    assert(planned(q) == daysTable.filesOf(daysTable.loadCurrent())
      .filter(f => f.minKey <= k && f.maxKey >= k).map(_.path).toSet)
    assert(planned(q).size == 1, "SQL key filter must plan one file")
    assert(q.collect().map(_.getString(0)).toSeq == Seq("conv-2-003"))
  }

  import org.apache.spark.sql.types.StructType

  /** DSv2 scan introspection: the partitions a catalog/format("graft")
    * read planned (file paths + merge flags) and its pruned read schema.
    */
  private def dsv2Scan(df: DataFrame): (Seq[graft.sql.GraftPartition], StructType) = {
    val scans = graftScans(df)
    assert(scans.size == 1, s"expected one v2 scan, got ${scans.size}")
    (scans.head.planInputPartitions()
      .map(_.asInstanceOf[graft.sql.GraftPartition]).toSeq,
      scans.head.readSchema())
  }
  private def dsv2FileCount(df: DataFrame): Long =
    dsv2Scan(df)._1.flatMap(partitionPaths).distinct.size.toLong

  test("graft catalog: SQL reads plan through manifest+bucket pruning, prune columns, and time travel") {
    val t = daysTable
    val root = java.nio.file.Paths.get(t.root)
    spark.conf.set("spark.sql.catalog.graft_fidx", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_fidx.root", root.getParent.toString)
    val name = root.getFileName.toString
    val files = t.filesOf(t.loadCurrent())

    // full read sees everything, visible rows only
    val full = spark.sql(s"SELECT * FROM graft_fidx.`$name`")
    assert(dsv2FileCount(full) == files.size.toLong)
    assert(full.count() == 30L)

    // key equality prunes at the manifest during planning AND prunes the
    // read schema to the projection + what the scan itself needs
    val k = "conv-2-003"
    val keyFiles = files.count(f => f.minKey <= k && f.maxKey >= k).toLong
    assert(keyFiles < files.size)
    val q = spark.sql(
      s"SELECT conv_id, text FROM graft_fidx.`$name` WHERE conv_id = '$k'")
    val (parts, readSchema) = dsv2Scan(q)
    assert(parts.flatMap(partitionPaths).distinct.size.toLong == keyFiles,
      s"SQL key filter must plan $keyFiles files")
    assert(q.collect().map(_.getString(0)).toSeq == Seq(k))
    assert(!readSchema.fieldNames.contains("role") &&
      !readSchema.fieldNames.contains("ts"),
      s"projection must prune the read schema, got $readSchema")

    // lsn lower bound prunes like the changelog rule
    val lsnFiles = files.count(_.maxLsn > 199L).toLong
    assert(lsnFiles < files.size)
    val byLsn = spark.sql(
      s"SELECT conv_id FROM graft_fidx.`$name` WHERE _lsn > 199")
    assert(dsv2FileCount(byLsn) == lsnFiles)
    assert(byLsn.count() == 10L)

    // snapshot time travel straight from SQL
    val v1 = spark.sql(
      s"SELECT count(*) FROM graft_fidx.`$name` VERSION AS OF 1")
      .collect()(0).getLong(0)
    assert(v1 == 10L)

    // the path-based form plans identically
    val byPath = spark.read.format("graft").load(t.root)
      .filter(col("conv_id") === k).select("conv_id", "text")
    assert(dsv2FileCount(byPath) == keyFiles)
    assert(byPath.collect().map(_.getString(0)).toSeq == Seq(k))
  }

  test("manifest entries without a byte count read fully through the catalog and format(graft)") {
    import graft.table.{BucketManifest, ChronicleTable}
    val root = tmpDir("fidx-nobytes")
    val p = new CdcPipeline(PipelineConfig("", root, numBuckets = 4))
    p.ensureTable()
    def rows(lo: Long, op: String, convs: Range) = convs.flatMap { c =>
      (0 until 5).map { tn =>
        (lo + c * 5 + tn, op, s"c-$c", tn, "user", s"text $lo c-$c/$tn",
          None: Option[String], new java.sql.Timestamp(dayMs(0) + lo * 1000L))
      }
    }.toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    MergeInto(spark, p.table, rows(0L, "I", 0 until 10), "nb#0", "t")
    // a merge-on-read update of two conversations: their buckets read
    // through the merging partition, the rest as plain per-file partitions
    MergeInto(spark, p.table, rows(1000L, "U", 0 until 2), "nb#1", "t",
      mergeOnRead = true)

    // rewrite every manifest as a pre-upgrade one: no byte counts
    val manifests = java.nio.file.Paths.get(root, "meta", "manifests")
    java.nio.file.Files.list(manifests).forEach { m =>
      val bm = ChronicleTable.mapper.readValue(
        java.nio.file.Files.readString(m), classOf[BucketManifest])
      java.nio.file.Files.write(m, ChronicleTable.mapper.writeValueAsBytes(
        bm.copy(files = bm.files.map(_.copy(bytes = 0L)))))
    }
    val t = new ChronicleTable(root)
    assert(t.filesOf(t.loadCurrent()).forall(_.bytes == 0L))
    assert(t.hasDeltas(t.loadCurrent()))

    def triples(df: DataFrame) = df.select("conv_id", "turn_idx", "text").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    val lib = triples(t.read(spark).filter(!col(graft.model.Model.deletedColumn)))
    assert(lib.size == 50)
    assert(triples(spark.read.format("graft").load(root)) == lib)
    val dir = java.nio.file.Paths.get(root)
    spark.conf.set("spark.sql.catalog.graft_nobytes", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_nobytes.root", dir.getParent.toString)
    assert(triples(spark.sql(
      s"SELECT * FROM graft_nobytes.`${dir.getFileName}`")) == lib)
  }

  test("graft catalog: MOR buckets LWW-merge through the streaming sorted file merge") {
    val p = new CdcPipeline(PipelineConfig("", tmpDir("fidx-cat-mor"), numBuckets = 4))
    p.ensureTable()
    def b(lo: Long, op: String, turns: Range) = (0 until 16).flatMap { c =>
      turns.map { tn =>
        (lo + c * turns.size + tn, op, s"c-$c", tn, "user",
          s"text $lo c-$c/$tn", None: Option[String],
          new java.sql.Timestamp(1704067200000L + lo * 1000L))
      }
    }.toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    MergeInto(spark, p.table, b(0L, "I", 0 until 4), "m#0", "t", mergeOnRead = true)
    // same keys, higher lsn, new text: the deltas DISPLACE the base rows
    MergeInto(spark, p.table, b(1000L, "U", 0 until 4), "m#1", "t", mergeOnRead = true)
    // and turn 0 of every conversation is tombstoned
    MergeInto(spark, p.table, b(2000L, "D", 0 until 1), "m#2", "t", mergeOnRead = true)

    val df = spark.read.format("graft").load(p.table.root)
      .select("conv_id", "turn_idx", "text")
    val (parts, _) = dsv2Scan(df)
    // every bucket carries deltas: one MERGING partition per bucket
    assert(parts.nonEmpty && parts.forall(_.merge))
    assert(parts.size == 4, s"one merged partition per bucket, got ${parts.size}")

    val got = df.collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    val expect = (0 until 16).flatMap { c =>
      (1 until 4).map(tn => (s"c-$c", tn, s"text 1000 c-$c/$tn"))
    }.toSet
    assert(got == expect, "catalog MOR read must serve the LWW-visible state")
    // and it equals the library read path exactly
    val lib = p.table.read(spark)
      .filter(!col(graft.model.Model.deletedColumn))
      .select("conv_id", "turn_idx", "text")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    assert(got == lib)

    // a key filter prunes to the key's single hash bucket
    val one = spark.read.format("graft").load(p.table.root)
      .filter(col("conv_id") === "c-3").select("turn_idx", "text")
    val (oneParts, _) = dsv2Scan(one)
    assert(oneParts.size == 1, s"point lookup must plan one bucket, got ${oneParts.size}")
    assert(one.collect().map(_.getInt(0)).sorted.toSeq == Seq(1, 2, 3))

    // RUNTIME filtering (the DPP-style v2 hook a broadcast join drives):
    // an In-set landing at execution time re-prunes the plan to the named
    // keys' buckets — and a join against a small key dim stays correct
    val snap = p.table.loadCurrent()
    val scan = new graft.sql.GraftScanBuilder(p.table, snap).build()
      .asInstanceOf[graft.sql.GraftScan]
    val before = scan.planInputPartitions().length
    scan.filter(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.In("conv_id", Array("c-3", "c-5"))))
    val after = scan.planInputPartitions().length
    assert(after < before && after <= 2,
      s"runtime In-set must prune to its keys' buckets ($before -> $after)")
    import spark.implicits._
    val dim = Seq("c-3", "c-5").toDF("conv_id")
    val joined = spark.read.format("graft").load(p.table.root)
      .join(broadcast(dim), "conv_id")
      .select("conv_id", "turn_idx").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    assert(joined == Set("c-3", "c-5").flatMap(c => (1 until 4).map(c -> _)))
  }

  test("a key filter pushes through the merge-on-read LWW window and prunes") {
    val p = new CdcPipeline(PipelineConfig("", tmpDir("fidx-mor"), numBuckets = 4))
    p.ensureTable()
    def batch(lo: Long, n: Int) = (0 until n).map { i =>
      (lo + i, "I", s"conv-${(lo + i) % 16}", ((lo + i) / 16).toInt, "user",
        s"text ${lo + i}", None: Option[String],
        new java.sql.Timestamp(1704067200000L + (lo + i) * 1000L))
    }.toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    MergeInto(spark, p.table, batch(0, 64), "m#0", "t", mergeOnRead = true)
    MergeInto(spark, p.table, batch(64, 64), "m#1", "t", mergeOnRead = true)
    val snap = p.table.loadCurrent()
    val total = snap.numFiles

    val one = p.table.read(spark).filter(col("conv_id") === "conv-3")
    val scanned = planned(one)
    val key = graft.table.FilePrune(Some(Set(graft.table.ChronicleTable.bucketOf("conv-3", 4))),
      Some("conv-3"), Some("conv-3"))
    assert(scanned == p.table.files(snap, key)
      .map(_.path).toSet)
    assert(scanned.nonEmpty && scanned.size < total,
      s"key filter did not push below the LWW merge (${scanned.size} of $total files)")
    // and the merged result is right: LWW over base+deltas for that key only
    val expect = p.table.read(spark).collect()
      .filter(_.getAs[String]("conv_id") == "conv-3").toSet
    assert(one.collect().toSet == expect)
  }

  test("a ts filter keeps the base winner of a delta-carrying bucket") {
    // an unordered source's late delta is OLDER than the base row it
    // overlays: pruning the base file by ts would let the delta win
    val p = new CdcPipeline(PipelineConfig("", tmpDir("fidx-late"), numBuckets = 1))
    p.ensureTable()
    def row(lsn: Long, op: String, day: Int) =
      Seq((lsn, op, "conv-k", 0, "user", s"text $lsn", None: Option[String],
        new java.sql.Timestamp(dayMs(day))))
        .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    MergeInto(spark, p.table, row(100L, "I", 2), "late#0", "t", orderedSource = false)
    MergeInto(spark, p.table, row(50L, "U", 1), "late#1", "t", orderedSource = false,
      mergeOnRead = true)
    val t = p.table
    assert(t.hasDeltas(t.loadCurrent()))
    assert(t.read(spark).select(graft.model.Model.lsnColumn).as[Long].collect()
      .toSeq == Seq(100L))

    val day1 = col("ts") >= new java.sql.Timestamp(dayMs(1)) &&
      col("ts") < new java.sql.Timestamp(dayMs(2))
    assert(t.read(spark).filter(day1).count() == 0L)
    assert(t.readSlice(spark, dayMs(1), dayMs(2) - 1L).count() == 0L)
    assert(spark.read.format("graft").load(t.root).filter(day1).count() == 0L)
    assert(planned(t.read(spark).filter(day1)) == t.filesOf(t.loadCurrent()).map(_.path).toSet)
  }

  test("a rewrite's scan plans exactly the files it removes, whatever the filters above it") {
    val t = daysTable
    val all = t.filesOf(t.loadCurrent())
    val victims = all.filterNot(_.minKey.startsWith("conv-1"))
    assert(victims.size == 2)
    // conv_id, ts and _lsn filters that would each prune a reader's files
    val narrow = col("conv_id") === "conv-0-001" &&
      col("ts") >= new java.sql.Timestamp(dayMs(2)) && col(graft.model.Model.lsnColumn) > 150L
    assert(planned(t.read(spark).filter(narrow)).size < 2)
    assert(planned(t.readRewrite(spark, t.loadCurrent(), victims).filter(narrow)) ==
      victims.map(_.path).toSet)
  }

  test("compaction with a tombstone horizon keeps the visible state of a late delta and drops only GC'd tombstones") {
    // the late-delta fixture above (a delta older than its base row), plus
    // tombstones below and above the horizon
    val p = new CdcPipeline(PipelineConfig("", tmpDir("fidx-late-gc"), numBuckets = 1))
    p.ensureTable()
    def rows(rs: (Long, String, String)*) = rs.map { case (lsn, op, k) =>
      (lsn, op, k, 0, "user", s"text $lsn", None: Option[String],
        new java.sql.Timestamp(dayMs(1)))
    }.toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    val t = p.table
    MergeInto(spark, t, rows((100L, "I", "conv-k"), (10L, "I", "conv-j"),
      (20L, "I", "conv-d")), "late#0", "t", orderedSource = false)
    // conv-k's and conv-j's deltas are older than their base rows
    MergeInto(spark, t, rows((50L, "U", "conv-k"), (5L, "D", "conv-j"),
      (30L, "D", "conv-d"), (200L, "D", "conv-e")), "late#1", "t",
      orderedSource = false, mergeOnRead = true)
    assert(t.hasDeltas(t.loadCurrent()))
    def state = t.read(spark)
      .select("conv_id", graft.model.Model.lsnColumn, graft.model.Model.deletedColumn)
      .as[(String, Long, Boolean)].collect().toSet
    val before = state
    assert(before == Set(("conv-k", 100L, false), ("conv-j", 10L, false),
      ("conv-d", 30L, true), ("conv-e", 200L, true)))
    val r = graft.ops.Compaction(spark, t, tombstoneHorizonLsn = 100L)
    assert(!t.hasDeltas(t.loadCurrent()))
    assert(state == before.filterNot { case (_, lsn, del) => del && lsn <= 100L })
    assert(r.droppedRows == 7 - 3)
  }
}
