package graft.queries

import graft.model.Model
import graft.ops.{Dedup, MergeInto}
import graft.table.ChronicleTable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** CDC operators exposed over the driver's `events` table so each one has a
  * DuckDB-checkable oracle (the driver's correctness gate). The `events`
  * rows are deterministically mapped into a change stream of the
  * transcripts shape — the same mapping is expressed in ANSI SQL in
  * [[graft.SparkEntry.oracleSql]].
  *
  * Mapping: lsn = event_id; op from event_type (click/view/signup -> I,
  * purchase -> U, error -> D); conv_id = user_id zero-padded; turn_idx from
  * value; tool extracted from the JSON props only at-or-after the
  * schema-evolution LSN.
  */
object CdcQueries {

  val evolveLsn = 500L

  def events(spark: SparkSession, dir: String): DataFrame =
    // testdata timestamps are NTZ; session tz is UTC so the cast is exact
    spark.read.parquet(s"$dir/events.parquet")
      .withColumn("ts", col("ts").cast("timestamp"))

  /** events -> change stream (the reference's RecordParser/JsonLine stage:
    * key extraction + typed projection + JSON field access,
    * suro-s3/.../JsonLine.java:41-70).
    */
  def changes(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).select(
      col("event_id").as("lsn"),
      when(col("event_type").isin("click", "view", "signup"), "I")
        .when(col("event_type") === "purchase", "U")
        .otherwise("D").as("op"),
      concat(lit("conv-"), lpad((col("user_id") % 100).cast("string"), 4, "0"))
        .as("conv_id"),
      (floor(col("value")).cast("int") % 8).as("turn_idx"),
      element_at(
        array(lit("user"), lit("assistant"), lit("tool"), lit("system")),
        (col("event_id") % 4).cast("int") + 1).as("role"),
      concat(col("event_type"), lit(" #"), col("event_id")).as("text"),
      when(col("event_id") >= evolveLsn,
        get_json_object(col("props"), "$.k")).as("tool"),
      col("ts"))

  private def withMs(df: DataFrame): DataFrame =
    df.withColumn("ts_ms", unix_millis(col("ts"))).drop("ts")

  /** The parse/projection stage itself, ordered by lsn (oracle-checkable). */
  def parseChanges(spark: SparkSession, dir: String): DataFrame =
    withMs(changes(spark, dir)).orderBy("lsn")

  /** Latest change per key — the LSN last-writer-wins dedup operator. */
  def dedupLatest(spark: SparkSession, dir: String): DataFrame =
    withMs(Dedup.latestByKey(changes(spark, dir), Model.keyColumns, "lsn"))
      .orderBy("conv_id", "turn_idx")

  /** Same semantics through the explicit two-phase salted plan (skew path);
    * shares the oracle with dedupLatest — the salt must not change results.
    */
  def dedupSalted(spark: SparkSession, dir: String): DataFrame =
    withMs(Dedup.saltedLatest(changes(spark, dir), Model.keyColumns, "lsn", 16))
      .orderBy("conv_id", "turn_idx")

  /** Replay tables are memoized per (dir, numBatches) so the several
    * oracle queries that exercise the real table (final state, time slice)
    * share ONE engine replay instead of re-running it each.
    */
  private val replayCache =
    scala.collection.concurrent.TrieMap[(String, Int), String]()

  /** Forget memoized replay tables so a re-timed pass re-runs the REAL
    * engine replay instead of a warm table read — the bench's min-of-2
    * noise guard must compare cold-to-cold (the replay IS the measured
    * operator for the cdc_final_state family).
    */
  def clearReplayCache(): Unit = replayCache.clear()

  /** Replay `numBatches` LSN-range batches of `ch` through MERGE with the
    * pipelined drain's prepare-ahead ([[MergeInto.prepareAhead]]): batch
    * b+1's table-independent map stage (its rows shuffled to their
    * buckets) runs CONCURRENTLY with batch b's apply, exactly like
    * CdcPipeline.runAllPipelined. Identical results: prepare reads no
    * table state, and the dedup and the HWM redelivery filter run in the
    * apply's write tasks.
    */
  private def replayBatches(spark: SparkSession, ch: DataFrame,
      table: ChronicleTable, numBatches: Int, keyPrefix: String,
      mergeOnRead: Boolean = false,
      afterBatch: Int => Unit = _ => ()): Unit = {
    val maxLsn = ch.agg(max("lsn")).collect()(0).getLong(0)
    val step = maxLsn / numBatches + 1
    def batchDf(b: Int): DataFrame =
      ch.filter(col("lsn") >= b * step && col("lsn") < (b + 1) * step)
    MergeInto.prepareAhead(spark, (0 until numBatches).iterator)(b =>
      MergeInto.prepare(spark, batchDf(b), numBuckets = 8)) { (b, prepared) =>
      MergeInto(spark, table, batchDf(b), s"$keyPrefix#$b", s"lsn-range-$b",
        prepared = Some(prepared), mergeOnRead = mergeOnRead)
      afterBatch(b)
    }
  }

  def replayTable(spark: SparkSession, dir: String,
      numBatches: Int = 4): ChronicleTable = {
    val root = replayCache.getOrElseUpdate((dir, numBatches), {
      val ch = changes(spark, dir).cache()
      try {
        // session-scratch table on tmpfs when available — the same
        // storage-class policy the bench's own replay tables use
        // (Scratch.shmTemp; the sandbox's /tmp is a real disk)
        val r = graft.util.Scratch.shmTemp("graft-finalstate")
        val table = new ChronicleTable(r)
        table.create(graft.model.Model.physicalSchemaV1, numBuckets = 8)
        replayBatches(spark, ch, table, numBatches, "fs")
        r
      } finally ch.unpersist()
    })
    new ChronicleTable(root)
  }

  /** Full engine replay: final visible state through the real table.
    * Oracle: a last-writer-wins window query in DuckDB. Returned uncached —
    * the table files stay on disk for the session, so the lazy plan
    * re-reads them deterministically with no pinned executor memory.
    */
  def finalState(spark: SparkSession, dir: String, numBatches: Int = 4): DataFrame =
    withMs(
      replayTable(spark, dir, numBatches).read(spark)
        .filter(!col(Model.deletedColumn))
        .drop(Model.systemColumns: _*))
      .orderBy("conv_id", "turn_idx")

  /** The same engine replay through the MERGE-ON-READ write path: batches
    * land as delta files, a mid-replay compaction folds the first half into
    * base files, and the final read LWW-merges base + trailing deltas —
    * exercising overlay, fold, and mixed-layout read against the identical
    * oracle as [[finalState]] (the mode changes IO, never results).
    */
  def finalStateMor(spark: SparkSession, dir: String, numBatches: Int = 4): DataFrame = {
    val root = replayCache.getOrElseUpdate((dir, -numBatches), {
      val ch = changes(spark, dir).cache()
      try {
        val r = graft.util.Scratch.shmTemp("graft-finalstate-mor")
        val table = new ChronicleTable(r)
        table.create(graft.model.Model.physicalSchemaV1, numBuckets = 8)
        // prepare-ahead is safe alongside the mid-replay compaction too:
        // prepare is table-independent (see MergeInto.prepareAhead)
        replayBatches(spark, ch, table, numBatches, "fsm", mergeOnRead = true,
          afterBatch = b =>
            if (b == numBatches / 2 - 1) // fold the first half into base files
              graft.ops.Compaction(spark, table, maxFilesPerBucket = 0))
        r
      } finally ch.unpersist()
    })
    withMs(
      new ChronicleTable(root).read(spark)
        .filter(!col(Model.deletedColumn))
        .drop(Model.systemColumns: _*))
      .orderBy("conv_id", "turn_idx")
  }

  /** Incremental changelog read of the replayed table: the net row changes
    * applied after snapshot v2 of the 4-batch replay (the downstream-stage
    * tailing primitive — [[ChronicleTable.readChanges]]; the reference's
    * SuroSink pipeline chaining, SuroSink.java:15-38). Oracle: final-state
    * rows whose winning lsn exceeds the max lsn of the first two LSN-range
    * batches.
    */
  def incrementalChanges(spark: SparkSession, dir: String): DataFrame =
    withMs(
      replayTable(spark, dir).readChanges(spark, sinceVersion = 2L)
        .filter(!col(Model.deletedColumn))
        .drop(Model.systemColumns: _*))
      .orderBy("conv_id", "turn_idx")

  /** Point lookup on the replayed table: one conversation's visible turns,
    * planned from metadata alone ([[ChronicleTable.readKey]] — the key's
    * hash bucket is computed driver-side, so the scan touches one bucket's
    * files instead of the table). The looked-up key is the smallest visible
    * conv_id, chosen identically by the oracle.
    */
  def pointLookup(spark: SparkSession, dir: String): DataFrame = {
    val t = replayTable(spark, dir)
    val k = t.read(spark).filter(!col(Model.deletedColumn))
      .agg(min("conv_id")).collect()(0).getString(0)
    withMs(t.readKey(spark, k).drop(Model.systemColumns: _*))
      .orderBy("turn_idx")
  }

  /** The point lookup through the SQL CATALOG surface
    * ([[graft.sql.GraftCatalog]]): the replayed table resolves as
    * `graft_cat.<name>` and is queried with plain SQL — no view
    * registration, manifest pruning (conv_id equality prunes to ONE hash
    * bucket during planning), tombstones hidden by the source. Shares
    * [[pointLookup]]'s oracle shape: the answer must not depend on which
    * surface reads the table.
    */
  def sqlCatalogLookup(spark: SparkSession, dir: String): DataFrame = {
    val t = replayTable(spark, dir)
    val k = t.read(spark).filter(!col(Model.deletedColumn))
      .agg(min("conv_id")).collect()(0).getString(0)
    val root = java.nio.file.Paths.get(t.root)
    spark.conf.set("spark.sql.catalog.graft_cat", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.graft_cat.root", root.getParent.toString)
    spark.sql(
      s"""SELECT conv_id, turn_idx, role, text, tool, unix_millis(ts) AS ts_ms
         |FROM graft_cat.`${root.getFileName}`
         |WHERE conv_id = '$k'
         |ORDER BY turn_idx""".stripMargin)
  }

  /** Full replay through the SQL DML surface: CREATE TABLE on the graft
    * catalog, then the whole change stream applies as ONE
    * `INSERT INTO … SELECT` of change rows (explicit `_lsn`, `_deleted`
    * from op) — per-key LWW inside the statement, tombstones hidden by the
    * read ([[graft.sql.GraftWriteBuilder]]). Shares [[finalState]]'s
    * oracle: the write surface (SQL DML vs library MERGE) must not change
    * the replayed state.
    */
  private val dmlCatalogSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  def sqlInsertState(spark: SparkSession, dir: String): DataFrame = {
    // the memo value carries the CATALOG NAME with the root: Spark caches
    // catalog plugin instances per name, so a cache-cleared re-run (the
    // bench's cold-to-cold rule) must replay under a FRESH name — re-using
    // one would resolve against the instance pinned to the old root
    val memo = replayCache.getOrElseUpdate((s"$dir#sqldml", 1), {
      val cat = s"graft_dml_${dmlCatalogSeq.incrementAndGet()}"
      val r = graft.util.Scratch.shmTemp("graft-sqldml")
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.root", r)
      spark.sql(
        s"""CREATE TABLE $cat.t (
           |  conv_id string, turn_idx int, role string, text string,
           |  tool string, ts timestamp) TBLPROPERTIES ('buckets'='8')""".stripMargin)
      changes(spark, dir).selectExpr("conv_id", "turn_idx", "role", "text",
        "tool", "ts", "lsn AS _lsn", "op = 'D' AS _deleted")
        .createOrReplaceTempView("graft_dml_changes")
      spark.sql(
        s"""INSERT INTO $cat.t
           |  (conv_id, turn_idx, role, text, tool, ts, _lsn, _deleted)
           |SELECT * FROM graft_dml_changes""".stripMargin)
      s"$cat $r"
    })
    val parts = memo.split(' ')
    val (catName, catRoot) = (parts(0), parts(1))
    spark.conf.set(s"spark.sql.catalog.$catName", "graft.sql.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$catName.root", catRoot)
    withMs(spark.sql(
      s"SELECT conv_id, turn_idx, role, text, tool, ts FROM $catName.t"))
      .orderBy("conv_id", "turn_idx")
  }

  /** SQL-DML replay followed by a SQL `DELETE FROM … WHERE turn_idx >= 4`:
    * the remaining visible state must equal the replayed final state under
    * the same plain-SQL filter — DELETE-as-tombstone-events is oracle-gated
    * against ordinary SQL delete semantics (DuckDB computes the survivor
    * set directly; the engine computes it via LWW over tombstones at
    * hwm+1).
    */
  def sqlDeleteState(spark: SparkSession, dir: String): DataFrame = {
    val memo = replayCache.getOrElseUpdate((s"$dir#sqldel", 1), {
      val cat = s"graft_dml_${dmlCatalogSeq.incrementAndGet()}"
      val r = graft.util.Scratch.shmTemp("graft-sqldel")
      spark.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
      spark.conf.set(s"spark.sql.catalog.$cat.root", r)
      spark.sql(
        s"""CREATE TABLE $cat.t (
           |  conv_id string, turn_idx int, role string, text string,
           |  tool string, ts timestamp) TBLPROPERTIES ('buckets'='8')""".stripMargin)
      changes(spark, dir).selectExpr("conv_id", "turn_idx", "role", "text",
        "tool", "ts", "lsn AS _lsn", "op = 'D' AS _deleted")
        .createOrReplaceTempView("graft_del_changes")
      spark.sql(
        s"""INSERT INTO $cat.t
           |  (conv_id, turn_idx, role, text, tool, ts, _lsn, _deleted)
           |SELECT * FROM graft_del_changes""".stripMargin)
      spark.sql(s"DELETE FROM $cat.t WHERE turn_idx >= 4")
      s"$cat $r"
    })
    val parts = memo.split(' ')
    val (catName, catRoot) = (parts(0), parts(1))
    spark.conf.set(s"spark.sql.catalog.$catName", "graft.sql.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$catName.root", catRoot)
    withMs(spark.sql(
      s"SELECT conv_id, turn_idx, role, text, tool, ts FROM $catName.t"))
      .orderBy("conv_id", "turn_idx")
  }

  /** Full replay through the NATIVE STREAMING SINK: the change stream is
    * staged as parquet segments, tailed by a file source, and written with
    * `writeStream.format("graft")` ([[graft.sql.GraftStreamSink]]) — each
    * micro-batch an exactly-once merge epoch. Shares [[finalState]]'s
    * oracle: pipeline drain, SQL DML and the streaming sink must all
    * converge to the identical replayed state.
    */
  def streamSinkState(spark: SparkSession, dir: String): DataFrame = {
    val root = replayCache.getOrElseUpdate((s"$dir#wsink", 1), {
      val base = graft.util.Scratch.shmTemp("graft-wsink")
      val src = s"$base/segments"
      // Up to 4 lsn-range segments so the drain is a multi-epoch tail,
      // staged by ONE partitioned write job (dynamic partitionBy on the
      // lsn-range id, exact integer division): hash-repartitioning on
      // `seg` puts each segment's rows in exactly one task, so each seg=N
      // directory gets exactly one file. Versus one write action per
      // segment this runs 6 jobs instead of 9, at parity in time
      // (OPTIMIZATION_r06.md). The number of seg=N directories depends on
      // the data: partitionBy writes no directory for an empty range, so
      // a log with maxLsn < 3 stages fewer than 4 epochs. The sink merges
      // each file as an UNORDERED epoch (per-key LSN guard + tombstones),
      // so the final state does not depend on the epoch count.
      val ch = changes(spark, dir).cache()
      try {
        val maxLsn = ch.agg(max("lsn")).collect()(0).getLong(0)
        val step = maxLsn / 4 + 1
        ch.withColumn("seg", expr(s"CAST(lsn DIV $step AS INT)"))
          .repartition(4, col("seg"))
          .write.partitionBy("seg").parquet(src)
      } finally ch.unpersist()
      // the staged files carry exactly ch's columns — deriving the tail
      // schema from the frame (nullable, as parquet reads back) saves the
      // schema-inference read of seg=0
      val schema = org.apache.spark.sql.types.StructType(
        changes(spark, dir).schema.fields.map(_.copy(nullable = true)))
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(s"$src/seg=*")
        .writeStream.format("graft")
        .option("path", s"$base/table")
        .option("checkpointLocation", s"$base/ckpt")
        .option("buckets", "8").option("source", "oracle-wsink")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start().awaitTermination()
      s"$base/table"
    })
    withMs(
      new ChronicleTable(root).read(spark)
        .filter(!col(Model.deletedColumn))
        .drop(Model.systemColumns: _*))
      .orderBy("conv_id", "turn_idx")
  }

  /** SCD type-2 history: every key's version chain with LSN validity
    * ranges — each I/U change opens a version valid [lsn, next change's
    * lsn); a delete closes the chain without opening one; the open version
    * is flagged current. The standard lakehouse shape for "what did this
    * row look like when" over a CDC stream, expressed as one window pass
    * (lead over the per-key change sequence).
    */
  def scd2(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(Model.keyColumns.map(col): _*).orderBy(col("lsn"))
    withMs(changes(spark, dir)
      .withColumn("valid_to_lsn", lead(col("lsn"), 1).over(w) - 1)
      .filter(col("op") =!= "D")
      .withColumn("is_current", col("valid_to_lsn").isNull)
      .withColumnRenamed("lsn", "valid_from_lsn")
      .drop("op"))
      .orderBy("conv_id", "turn_idx", "valid_from_lsn")
  }

  /** One-week time-sliced read of the replayed table: manifest-level ts
    * pruning (`ChronicleTable.files` through the table's one rule,
    * `FilePrune`) keeps untouched days' files off the scan entirely, then
    * the residual predicate exacts the bounds — the table's
    * second partition dimension (the reference's date-suffixed sinks,
    * IndexSuffixFormatter.java:27-41).
    */
  val sliceFromMs = 1705881600000L // 2024-01-22T00:00:00Z
  val sliceToMs = 1706659200000L   // 2024-01-31T00:00:00Z

  def timeSlice(spark: SparkSession, dir: String): DataFrame =
    withMs(
      replayTable(spark, dir).readSlice(spark, sliceFromMs, sliceToMs)
        .filter(!col(Model.deletedColumn))
        .drop(Model.systemColumns: _*))
      .orderBy("conv_id", "turn_idx")

  /** High-water-mark anti-join: changes whose key was never touched by the
    * already-applied prefix (lsn < hwm) — the applied-offset exactly-once
    * primitive as a standalone relational operator (left_anti).
    */
  def hwmAntiJoin(spark: SparkSession, dir: String, hwm: Long = 500L): DataFrame = {
    val ch = changes(spark, dir)
    val applied = ch.filter(col("lsn") < hwm).select("conv_id", "turn_idx")
    withMs(ch.filter(col("lsn") >= hwm)
      .join(applied, Model.keyColumns, "left_anti"))
      .orderBy("lsn")
  }

  /** A DSL-compiled route (the reference's XPathFilter,
    * suro-core/.../routing/XPathFilter.java:40-63): purchases and signups
    * in a value band, key-aliased.
    */
  def routeDsl(spark: SparkSession, dir: String): DataFrame = {
    val pred = graft.dsl.FilterDsl.compile(
      """xpath("event_type") in ("purchase", "signup") and xpath("value") between (10, 100)""")
    events(spark, dir).filter(pred)
      .select(col("event_id"), col("event_type"), col("value"),
        lit("funnel").as("routed_to"))
      .orderBy("event_id")
  }

  /** Quarantine stand-in for the reference's CRC-reject path
    * (MessageSetProcessor.java:125-182): events failing validation are
    * diverted, not dropped.
    */
  def quarantine(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .filter(col("event_type") === "error" && col("value") < 20.0)
      .select(col("event_id"), col("user_id"),
        lit("validation_failed").as("reason"))
      .orderBy("event_id")

  /** Per-micro-batch lineage aggregates (offset range + op counts) — the
    * notice/lineage record as a relational operator (batch = lsn div 250).
    */
  def lineageStats(spark: SparkSession, dir: String): DataFrame =
    changes(spark, dir)
      .groupBy((col("lsn") / 250).cast("long").as("batch_id"))
      .agg(
        min("lsn").as("start_lsn"), max("lsn").as("end_lsn"),
        sum(when(col("op") === "I", 1L).otherwise(0L)).as("inserts"),
        sum(when(col("op") === "U", 1L).otherwise(0L)).as("updates"),
        sum(when(col("op") === "D", 1L).otherwise(0L)).as("deletes"),
        count(lit(1)).as("n_events"),
        sum(length(col("text"))).as("payload_chars"))
      .orderBy("batch_id")

  /** Schema-evolution audit: tool values only exist at-or-after the
    * evolution LSN; counts per tool value.
    */
  def schemaEvolution(spark: SparkSession, dir: String): DataFrame =
    changes(spark, dir)
      .groupBy(col("tool"))
      .agg(count(lit(1)).as("n"), min("lsn").as("first_lsn"), max("lsn").as("last_lsn"))
      .orderBy(col("tool").asc_nulls_first)

  /** Sessionization by inactivity gap (1 hour) per user — the event-time
    * windowing operator the reference lacks but a transcript pipeline
    * needs; lag + cumulative sum over a window.
    */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapped = events(spark, dir)
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_millis(col("ts")) - unix_millis(col("prev_ts")) > 3600000L, 1L)
          .otherwise(0L))
      .withColumn("session_seq",
        sum("new_session").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    gapped.groupBy("user_id", "session_seq")
      .agg(count(lit(1)).as("n_events"),
        unix_millis(min("ts")).as("start_ms"),
        unix_millis(max("ts")).as("end_ms"))
      .orderBy("user_id", "session_seq")
  }

  /** Tumbling 1-hour event-time window aggregate (Structured Streaming's
    * windowed agg shape, computed identically in batch).
    */
  def windowAgg(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        cast2(sum("value")).as("sum_value_e2"))
      .select(unix_millis(col("w.start")).as("window_start_ms"),
        col("event_type"), col("n"), col("sum_value_e2"))
      .orderBy("window_start_ms", "event_type")

  /** Scaled-bigint rounding for float-safe oracle comparison. */
  def cast2(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    round(c * 100).cast("long")
}
