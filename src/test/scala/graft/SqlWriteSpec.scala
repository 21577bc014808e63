package graft

import graft.model.Model
import graft.ops.MergeInto
import graft.table.ChronicleTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The SQL DDL/DML surface: CREATE TABLE, INSERT INTO as change-batch
  * application, and maintenance procedures via CALL — the full
  * warehouse-user loop with no Scala API in sight.
  */
class SqlWriteSpec extends SparkSpec {

  private def freshCatalog(tag: String): (String, String) = {
    val root = tmpDir(s"sqlw-$tag")
    val cat = s"gsql_$tag"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    (cat, root)
  }

  test("CREATE TABLE + INSERT INTO applies change batches with LWW and delete semantics") {
    val (cat, root) = freshCatalog("dml")
    spark.sql(
      s"""CREATE TABLE $cat.t (
         |  conv_id string, turn_idx int, role string, text string,
         |  tool string, ts timestamp) TBLPROPERTIES ('buckets'='4')""".stripMargin)

    val t = new ChronicleTable(s"$root/t")
    assert(t.exists)
    assert(t.loadCurrent().numBuckets == 4)
    assert(t.loadCurrent().schema.fieldNames.toSeq ==
      Seq("conv_id", "turn_idx", "role", "text", "tool", "ts",
        Model.lsnColumn, Model.deletedColumn, Model.sourceColumn))

    // by-name insert: _deleted/_source omitted, filled by column DEFAULTs
    spark.sql(
      s"""INSERT INTO $cat.t (conv_id, turn_idx, role, text, tool, ts, _lsn)
         |VALUES ('c-1', 0, 'user', 'hello', NULL, timestamp'2024-01-01 00:00:00', 10),
         |       ('c-1', 1, 'assistant', 'hi there', NULL, timestamp'2024-01-01 00:00:01', 11),
         |       ('c-2', 0, 'user', 'other conv', NULL, timestamp'2024-01-01 00:00:02', 12)""".stripMargin)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").collect()(0).getLong(0) == 3L)
    assert(spark.sql(s"SELECT ${Model.sourceColumn} FROM $cat.t").collect()
      .forall(_.getString(0) == "sql"), "omitted _source must default to 'sql'")

    // LWW upsert: higher lsn displaces, lower lsn (a replay) loses
    spark.sql(
      s"""INSERT INTO $cat.t (conv_id, turn_idx, role, text, tool, ts, _lsn)
         |VALUES ('c-1', 0, 'user', 'hello EDITED', NULL, timestamp'2024-01-02 00:00:00', 20),
         |       ('c-1', 1, 'assistant', 'stale replay', NULL, timestamp'2023-12-31 00:00:00', 5)""".stripMargin)
    val texts = spark.sql(
      s"SELECT turn_idx, text FROM $cat.t WHERE conv_id = 'c-1' ORDER BY turn_idx")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(texts == Seq((0, "hello EDITED"), (1, "hi there")),
      s"LWW must keep the max-lsn version per key, got $texts")

    // delete = a change row with _deleted true
    spark.sql(
      s"""INSERT INTO $cat.t (conv_id, turn_idx, role, text, tool, ts, _lsn, _deleted)
         |VALUES ('c-2', 0, 'user', '', NULL, timestamp'2024-01-03 00:00:00', 30, true)""".stripMargin)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t WHERE conv_id = 'c-2'")
      .collect()(0).getLong(0) == 0L, "tombstoned key must disappear")

    // engine interop: same state through the library read path
    val lib = t.read(spark).filter(!col(Model.deletedColumn))
    assert(lib.count() == 2L)
  }

  test("INSERT statement replay is exactly-once; INSERT OVERWRITE is refused") {
    val (cat, root) = freshCatalog("once")
    spark.sql(s"CREATE TABLE $cat.t (conv_id string, turn_idx int, role string, " +
      "text string, tool string, ts timestamp) TBLPROPERTIES ('buckets'='2')")
    val ins = s"INSERT INTO $cat.t (conv_id, turn_idx, role, text, tool, ts, _lsn) " +
      "VALUES ('c-1', 0, 'user', 'once', NULL, timestamp'2024-01-01 00:00:00', 1)"
    spark.sql(ins)
    val t = new ChronicleTable(s"$root/t")
    val v1 = t.loadCurrent().version
    spark.sql(ins) // identical statement = identical batch key = replay
    assert(t.loadCurrent().version == v1,
      "replaying an identical INSERT must not commit a new snapshot")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").collect()(0).getLong(0) == 1L)

    // same LSN range and count but different content is a DIFFERENT batch
    spark.sql(s"INSERT INTO $cat.t (conv_id, turn_idx, role, text, tool, ts, _lsn) " +
      "VALUES ('c-9', 0, 'user', 'different', NULL, timestamp'2024-01-01 00:00:00', 1)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").collect()(0).getLong(0) == 2L,
      "content signature must keep distinct same-range statements apart")

    val e = intercept[Exception] {
      spark.sql(s"INSERT OVERWRITE $cat.t SELECT * FROM $cat.t")
    }
    assert(e.getMessage.toLowerCase.contains("overwrite") ||
      e.getMessage.toLowerCase.contains("truncate"),
      s"INSERT OVERWRITE must be refused in analysis, got: ${e.getMessage}")
  }

  test("INSERT INTO … SELECT replays a change stream; null _lsn and mixed _source are refused") {
    val (cat, root) = freshCatalog("sel")
    spark.sql(s"CREATE TABLE $cat.t (conv_id string, turn_idx int, role string, " +
      "text string, tool string, ts timestamp) TBLPROPERTIES ('buckets'='4')")
    // 40 keys, two versions each: the SELECT form carries the whole stream
    // through ONE merge batch (per-key LWW inside the statement)
    spark.range(80).selectExpr(
      "concat('c-', id % 40) AS conv_id", "0 AS turn_idx",
      "'user' AS role", "concat('v', id) AS text",
      "CAST(NULL AS string) AS tool",
      "timestamp'2024-01-01 00:00:00' AS ts", "id AS _lsn")
      .createOrReplaceTempView("stream_v")
    spark.sql(s"INSERT INTO $cat.t (conv_id, turn_idx, role, text, tool, ts, _lsn) " +
      "SELECT * FROM stream_v")
    val got = spark.sql(s"SELECT text FROM $cat.t WHERE conv_id = 'c-3'")
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("v43"), s"per-key max lsn must win inside the statement, got $got")

    intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.t (conv_id, turn_idx, role, text, tool, ts, _lsn) " +
        "VALUES ('c-1', 0, 'user', 'x', NULL, timestamp'2024-01-01 00:00:00', CAST(NULL AS bigint))")
    }
    intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.t (conv_id, turn_idx, role, text, tool, ts, _lsn, _source) " +
        "VALUES ('c-1', 0, 'u', 'x', NULL, timestamp'2024-01-01 00:00:00', 200, 'a'), " +
        "('c-1', 1, 'u', 'y', NULL, timestamp'2024-01-01 00:00:00', 201, 'b')")
    }
  }

  test("CALL compact folds MOR deltas and GCs tombstones from SQL") {
    val (cat, root) = freshCatalog("proc")
    spark.sql(s"CREATE TABLE $cat.t (conv_id string, turn_idx int, role string, " +
      "text string, tool string, ts timestamp) TBLPROPERTIES ('buckets'='2')")
    val t = new ChronicleTable(s"$root/t")
    import spark.implicits._
    def batch(lo: Long, op: String) = (0 until 8).map { i =>
      (lo + i, op, s"c-$i", 0, "user", s"t$lo-$i", None: Option[String],
        new java.sql.Timestamp(1704067200000L))
    }.toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    MergeInto(spark, t, batch(0L, "I"), "m#0", "m", mergeOnRead = true)
    MergeInto(spark, t, batch(100L, "U"), "m#1", "m", mergeOnRead = true)
    MergeInto(spark, t, batch(200L, "D"), "m#2", "m", mergeOnRead = true)
    assert(t.hasDeltas(t.loadCurrent()), "setup must leave MOR deltas")

    val r = spark.sql(
      s"CALL $cat.compact(table => 't', horizon_lsn => ${Long.MaxValue}L)")
      .collect()(0)
    assert(r.getInt(0) > 0, "compaction must touch delta buckets")
    assert(!t.hasDeltas(t.loadCurrent()), "CALL compact must fold all deltas")
    // every key tombstoned at lsn 2xx and the horizon covers them: gone
    assert(t.read(spark).count() == 0L)

    val ex = spark.sql(s"CALL $cat.expire_snapshots(table => 't', keep_last => 1)")
      .collect()(0)
    assert(ex.getInt(0) > 0, "older snapshots must expire")
    assert(t.versions.size == 1)

    val gc = spark.sql(s"CALL $cat.gc_orphans(table => 't', min_age_ms => 0L)")
      .collect()(0)
    assert(gc.getInt(0) >= 0)
  }

  test("CALL rescale rewrites the layout under a new bucket count from SQL") {
    val (cat, root) = freshCatalog("resc")
    spark.sql(s"CREATE TABLE $cat.t (conv_id string, turn_idx int, role string, " +
      "text string, tool string, ts timestamp) TBLPROPERTIES ('buckets'='2')")
    spark.range(64).selectExpr(
      "concat('c-', id) AS conv_id", "0 AS turn_idx", "'user' AS role",
      "concat('x', id) AS text", "CAST(NULL AS string) AS tool",
      "timestamp'2024-01-01 00:00:00' AS ts", "id AS _lsn")
      .createOrReplaceTempView("resc_v")
    spark.sql(s"INSERT INTO $cat.t (conv_id, turn_idx, role, text, tool, ts, _lsn) " +
      "SELECT * FROM resc_v")
    val before = spark.sql(s"SELECT conv_id, text FROM $cat.t").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet

    val r = spark.sql(s"CALL $cat.rescale(table => 't', buckets => 8)").collect()(0)
    assert(r.getInt(0) == 2 && r.getInt(1) == 8)
    val t = new ChronicleTable(s"$root/t")
    assert(t.loadCurrent().numBuckets == 8)
    val after = spark.sql(s"SELECT conv_id, text FROM $cat.t").collect()
      .map(r2 => (r2.getString(0), r2.getString(1))).toSet
    assert(after == before, "rescale must preserve the visible state")

    // a key filter now prunes against the NEW bucket layout
    assert(spark.sql(s"SELECT text FROM $cat.t WHERE conv_id = 'c-7'")
      .collect().map(_.getString(0)).toSeq == Seq("x7"))
  }

  test("SHOW TBLPROPERTIES serves snapshot health from the manifest") {
    val (cat, _) = freshCatalog("props")
    spark.sql(s"CREATE TABLE $cat.t (conv_id string, turn_idx int, role string, " +
      "text string, tool string, ts timestamp) TBLPROPERTIES ('buckets'='4')")
    spark.sql(s"INSERT INTO $cat.t (conv_id, turn_idx, role, text, tool, ts, _lsn) " +
      "VALUES ('c-1', 0, 'user', 'x', NULL, timestamp'2024-01-01 00:00:00', 7)")
    val props = spark.sql(s"SHOW TBLPROPERTIES $cat.t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("buckets") == "4")
    assert(props("version") == "1")
    assert(props("rows") == "1")
    assert(props("has_deltas") == "false")
    assert(props("hwm.sql") == "7", s"per-source hwm must surface, got $props")

    // CALL history: the snapshot log (time-travel targets) from SQL
    val hist = spark.sql(s"CALL $cat.history(table => 't')").collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    assert(hist.map(_._1).toSeq == Seq(0L, 1L))
    assert(hist.last._2 == 1L, s"v1 must report 1 row, got ${hist.toSeq}")
  }

  test("DDL guardrails: duplicate create, partitioning, bad keys, drop/alter refusals") {
    val (cat, _) = freshCatalog("ddl")
    spark.sql(s"CREATE TABLE $cat.t (conv_id string, turn_idx int, text string)")
    intercept[Exception] { spark.sql(
      s"CREATE TABLE $cat.t (conv_id string, turn_idx int, text string)") }
    intercept[Exception] { spark.sql(
      s"CREATE TABLE $cat.p (conv_id string, turn_idx int, text string) PARTITIONED BY (conv_id)") }
    intercept[Exception] { spark.sql(
      s"CREATE TABLE $cat.k (conv_id string, text string)") } // no turn_idx
    intercept[Exception] { spark.sql(s"DROP TABLE $cat.t") }
    // destructive ALTERs stay refused (additive ADD/widen are supported)
    intercept[Exception] { spark.sql(s"ALTER TABLE $cat.t DROP COLUMN text") }
    intercept[Exception] { spark.sql(
      s"ALTER TABLE $cat.t RENAME COLUMN text TO body") }
  }

  test("ALTER TABLE ADD COLUMNS / lossless widening are metadata-only commits") {
    val (cat, root) = freshCatalog("alter")
    spark.sql(s"CREATE TABLE $cat.t (conv_id string, turn_idx int, role string, " +
      "text string, tool string, ts timestamp, score int) " +
      "TBLPROPERTIES ('buckets'='2')")
    spark.sql(s"INSERT INTO $cat.t (conv_id, turn_idx, role, text, tool, ts, score, _lsn) " +
      "VALUES ('c-1', 0, 'user', 'x', NULL, timestamp'2024-01-01 00:00:00', 3, 1)")
    val t = new ChronicleTable(s"$root/t")
    val before = t.loadCurrent()
    val filesBefore = t.filesOf(before).map(_.path).toSet

    spark.sql(s"ALTER TABLE $cat.t ADD COLUMNS (rating double)")
    val afterAdd = t.loadCurrent()
    assert(afterAdd.version == before.version + 1,
      "ALTER must land as a versioned commit")
    assert(t.filesOf(afterAdd).map(_.path).toSet == filesBefore,
      "ALTER ADD COLUMN must touch no data files")
    assert(afterAdd.schema.fieldNames.contains("rating"))
    assert(afterAdd.hwms == before.hwms,
      "a metadata-only commit must leave every source mark untouched")
    // pre-ALTER rows read NULL for the new column; new inserts carry it
    assert(spark.sql(s"SELECT rating FROM $cat.t WHERE conv_id = 'c-1'")
      .collect()(0).isNullAt(0))
    spark.sql(s"INSERT INTO $cat.t (conv_id, turn_idx, role, text, tool, ts, score, rating, _lsn) " +
      "VALUES ('c-2', 0, 'user', 'y', NULL, timestamp'2024-01-02 00:00:00', 4, 0.5, 2)")
    assert(spark.sql(s"SELECT rating FROM $cat.t WHERE conv_id = 'c-2'")
      .collect()(0).getDouble(0) == 0.5)

    // lossless widening: int -> bigint; narrow int files up-cast natively
    spark.sql(s"ALTER TABLE $cat.t ALTER COLUMN score TYPE bigint")
    val widened = t.loadCurrent()
    assert(widened.schema(widened.schema.fieldIndex("score")).dataType ==
      org.apache.spark.sql.types.LongType)
    val scores = spark.sql(s"SELECT score FROM $cat.t ORDER BY conv_id")
      .collect().map(_.getLong(0)).toSeq
    assert(scores == Seq(3L, 4L),
      s"pre-widening int files must read as long, got $scores")

    // time travel still serves the PRE-alter schema at the old version
    assert(!spark.sql(s"SELECT * FROM $cat.t VERSION AS OF ${before.version}")
      .schema.fieldNames.contains("rating"))

    // refusals: narrowing, lossy widening, duplicates, NOT NULL, missing col
    intercept[Exception] { spark.sql(
      s"ALTER TABLE $cat.t ALTER COLUMN score TYPE int") }
    intercept[Exception] { spark.sql(
      s"ALTER TABLE $cat.t ALTER COLUMN _lsn TYPE double") } // long->double rounds
    intercept[Exception] { spark.sql(
      s"ALTER TABLE $cat.t ADD COLUMNS (text string)") }
    intercept[Exception] { spark.sql(
      s"ALTER TABLE $cat.t ADD COLUMNS (req string NOT NULL)") }
    intercept[Exception] { spark.sql(
      s"ALTER TABLE $cat.t ALTER COLUMN nope TYPE bigint") }
    assert(t.loadCurrent().version == widened.version,
      "refused ALTERs must not commit")
  }

  test("metadata tables: snapshots, files and lineage read from manifests only") {
    val (cat, root) = freshCatalog("meta")
    spark.sql(s"CREATE TABLE $cat.t (conv_id string, turn_idx int, role string, " +
      "text string, tool string, ts timestamp) TBLPROPERTIES ('buckets'='2')")
    spark.sql(s"INSERT INTO $cat.t (conv_id, turn_idx, role, text, tool, ts, _lsn) " +
      "VALUES ('c-1', 0, 'user', 'a', NULL, timestamp'2024-01-01 00:00:00', 1), " +
      "('c-2', 0, 'user', 'b', NULL, timestamp'2024-01-01 00:00:01', 2)")
    spark.sql(s"INSERT INTO $cat.t (conv_id, turn_idx, role, text, tool, ts, _lsn, _deleted) " +
      "VALUES ('c-2', 0, 'user', '', NULL, timestamp'2024-01-02 00:00:00', 3, true)")
    val t = new ChronicleTable(s"$root/t")
    val snap = t.loadCurrent()

    // .snapshots ≡ CALL history (plus buckets + hwm)
    val snaps = spark.sql(s"SELECT * FROM $cat.t.snapshots ORDER BY version")
      .collect()
    assert(snaps.map(_.getLong(0)).toSeq == t.versions.sorted,
      "one row per retained version")
    val cur = snaps.last
    assert(cur.getLong(2) == snap.totalRows && cur.getInt(3) == snap.numFiles)
    assert(cur.getLong(5) == snap.hwmLsn)

    // .files mirrors the live inventory and its pruning stats
    val files = spark.sql(s"SELECT * FROM $cat.t.files").collect()
    assert(files.length == snap.numFiles)
    assert(files.map(_.getLong(3)).sum == snap.totalRows)
    assert(files.forall(r => r.getInt(1) >= 0 && r.getInt(1) < snap.numBuckets))
    assert(files.forall(r => r.getString(5) <= r.getString(6)),
      "min_key <= max_key in every manifest row")

    // .lineage is the per-commit ledger; SQL inserts tag source 'sql'.
    // Change rows are counted via upserts+deletes (layout-independent);
    // row_count is rows WRITTEN, which includes co-located survivor
    // rewrites and so depends on the physical file split — at least the
    // change rows, not exactly them.
    val lin = spark.sql(
      s"SELECT source, upserts + deletes AS changes, row_count " +
        s"FROM $cat.t.lineage ORDER BY version")
      .collect()
    assert(lin.length == t.fullLineage().size)
    assert(lin.forall(_.getString(0) == "sql"))
    assert(lin.map(_.getLong(1)).sum == 3L, "three change rows across commits")
    assert(lin.map(_.getLong(2)).sum >= 3L)

    // a real table always wins over the meta suffix; unknown parents fail
    intercept[Exception] { spark.sql(s"SELECT * FROM $cat.nope.files") }
  }

  test("DELETE FROM emits tombstone change events through the exactly-once merge") {
    val (cat, root) = freshCatalog("del")
    spark.sql(s"CREATE TABLE $cat.t (conv_id string, turn_idx int, role string, " +
      "text string, tool string, ts timestamp) TBLPROPERTIES ('buckets'='2')")
    spark.sql(s"INSERT INTO $cat.t (conv_id, turn_idx, role, text, tool, ts, _lsn) " +
      "VALUES ('c-1', 0, 'user', 'a', NULL, timestamp'2024-01-01 00:00:00', 1), " +
      "('c-1', 1, 'assistant', 'b', NULL, timestamp'2024-01-01 00:00:01', 2), " +
      "('c-2', 0, 'user', 'c', NULL, timestamp'2024-01-01 00:00:02', 3)")
    val t = new ChronicleTable(s"$root/t")
    val preDelete = t.loadCurrent().version

    spark.sql(s"DELETE FROM $cat.t WHERE conv_id = 'c-1'")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").collect()(0).getLong(0) == 1L)
    val postDelete = t.loadCurrent()
    assert(postDelete.version == preDelete + 1, "DELETE is one versioned commit")

    // time travel keeps the pre-DELETE state; the deletes are ordinary
    // tombstone change rows in the table (SQL is an UNORDERED source, so
    // the mark-based changelog correctly refuses — the tombstones are what
    // a compaction-aware or snapshot-diff downstream consumes)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF $preDelete")
      .collect()(0).getLong(0) == 3L)
    val shipped = t.read(spark).filter(col(Model.deletedColumn)).collect()
    assert(shipped.map(r => (r.getAs[String]("conv_id"),
      r.getAs[Int]("turn_idx"))).toSet == Set(("c-1", 0), ("c-1", 1)),
      "the tombstoned keys must win their LWW merge")
    // tombstones land strictly above the pre-delete high-water mark
    assert(shipped.forall(_.getAs[Long](Model.lsnColumn) > 3L))

    // replaying the identical DELETE finds no visible victims: no commit
    spark.sql(s"DELETE FROM $cat.t WHERE conv_id = 'c-1'")
    assert(t.loadCurrent().version == postDelete.version,
      "an already-applied DELETE must not commit a new snapshot")

    // non-pushable predicates refuse in analysis, never half-apply
    intercept[Exception] {
      spark.sql(s"DELETE FROM $cat.t WHERE length(text) > 100")
    }
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").collect()(0).getLong(0) == 1L)

    // TRUNCATE = delete-all with the same semantics: state empties,
    // history stays travelable
    spark.sql(s"TRUNCATE TABLE $cat.t")
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").collect()(0).getLong(0) == 0L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF $preDelete")
      .collect()(0).getLong(0) == 3L)
    // the lineage ledger records the delete batches as source 'sql'
    val dels = spark.sql(s"SELECT deletes FROM $cat.t.lineage " +
      s"WHERE version > $preDelete").collect().map(_.getLong(0)).toSeq
    assert(dels.sorted == Seq(1L, 2L), s"2 then 1 tombstones, got $dels")
  }

  test("an INSERT tagged with an ordered source's id is refused, in either order, and the drain still converges") {
    import graft.cdc.{CdcPipeline, PipelineConfig}
    import graft.source.{BinlogConfig, BinlogGenerator}
    import graft.sql.GraftWrite
    val cfg = BinlogConfig(numEvents = 300, numConversations = 4, segmentSize = 100)
    val src = tmpDir("sqltag-bl")
    BinlogGenerator.writeSegments(spark, cfg, src)
    def tagged(lsn: Long) = spark.createDataFrame(java.util.List.of(
        org.apache.spark.sql.Row("conv-0", 0, "user", "sql row", null,
          java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), lsn, "binlog")),
      StructType(Model.turnSchema.fields ++ Seq(
        StructField(Model.lsnColumn, LongType), StructField(Model.sourceColumn, StringType))))
    def visible(p: CdcPipeline) = p.currentState(spark)
      .select("conv_id", "turn_idx", "text").collect()
      .map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
    val oracle = BinlogGenerator.referenceReduction(cfg).values
      .map(e => (e.conv_id, e.turn_idx, e.text)).toSet

    // pipeline first: the source is ordered, so the INSERT refuses up front
    val p = new CdcPipeline(PipelineConfig(src, tmpDir("sqltag-pipe"),
      segmentsPerBatch = 1, numBuckets = 2))
    assert(p.runAll(spark, maxBatches = 1) == 1)
    val v = p.table.loadCurrent().version
    val e1 = intercept[IllegalArgumentException](GraftWrite.insertChanges(p.table, tagged(1000L)))
    assert(e1.getMessage.contains("source tag binlog"), e1.getMessage)
    assert(p.table.loadCurrent().version == v)
    assert(p.runAll(spark) == 2)
    assert(visible(p) == oracle)

    // INSERT first: the source is unordered, so the drain refuses up front
    val t = new ChronicleTable(tmpDir("sqltag-sql"))
    t.create(Model.physicalSchemaV1, 2)
    GraftWrite.insertChanges(t, tagged(5L))
    val v2 = t.loadCurrent().version
    val p2 = new CdcPipeline(PipelineConfig(src, t.root, segmentsPerBatch = 1,
      numBuckets = 2))
    val e2 = intercept[IllegalArgumentException](p2.runAll(spark))
    assert(e2.getMessage.contains("source binlog"), e2.getMessage)
    assert(t.loadCurrent().version == v2)
  }
}
