package graft.ops

import graft.model.Model
import graft.table._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{DatasetFactory, RowShuffle}
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StructField, StructType}

import scala.jdk.CollectionConverters._

/** Result of one merge attempt; `sec` is the apply's wall time. */
case class MergeResult(
    snapshot: Snapshot,
    skipped: Boolean,
    upserts: Long,
    deletes: Long,
    rewrittenFiles: Int,
    addedFiles: Int,
    sec: Double)

/** Hand-rolled MERGE INTO (copy-on-write) against a [[ChronicleTable]].
  *
  * Semantics: for each key (conv_id, turn_idx), the highest-LSN change wins
  * — within the batch, across batches, and across replays. `I`/`U` both
  * upsert (insert-or-replace, so redelivery is idempotent — the reference's
  * create-vs-index ES tolerance, DefaultIndexInfoBuilder.java:135-173), `D`
  * removes the key.
  *
  * Exactly-once is layered:
  *   - batchKey ledger: a whole replayed batch is skipped (suro's
  *     `processingFileSet` upload dedup, RemoteFileSink.java:159-216);
  *   - LSN high-water mark: events at-or-below the snapshot's hwm are
  *     already applied and are dropped before dedup (the north star's
  *     "dedup per key using LSN/offset high-water marks") — this is also
  *     what makes a delete final against a later redelivery of an older
  *     insert (tombstone-free);
  *   - per-key `_lsn` guard: each table row stores the LSN that wrote it;
  *     a batch change only displaces a row it strictly beats. In-order
  *     replay never triggers this, but it keeps update reordering across
  *     epochs from regressing row content.
  *
  * Physical plan, designed for 100 TB:
  *   1. dedup the batch (map-side combine + optional salt — [[Dedup]]);
  *   2. ONE metadata aggregate over the deduped batch yields lsn range, key
  *      range, affected bucket set, op counts and the lineage checksum;
  *   3. file pruning is metadata-only: only files in affected buckets whose
  *      conv_id range intersects the batch's are rewritten — untouched files
  *      carry forward in the manifest without any IO (a touched delta
  *      brings its whole bucket);
  *   4. copy-on-write: ONE stage, one task per touched bucket. The rewrite
  *      scan ([[ChronicleTable.readRewrite]]) plans one partition per
  *      bucket the batch touches, each the bucket's touched files as one
  *      sorted, key-unique stream — table data never crosses an exchange;
  *   5. the batch's winners are the only rows shuffled: partition i holds
  *      bucket i's winners, sorted by key. Each task two-way merges the
  *      pair ([[graft.sql.SortedLwwMerge]]; an ordered source's row
  *      displaces unconditionally, an unordered source's only with a
  *      strictly greater `_lsn`);
  *   6. the task writes the bucket's one file, sorted by (conv_id,
  *      turn_idx), so parquet row-group stats stay tight; pruning
  *      granularity for the NEXT merge is the bucket. Merge-on-read writes
  *      only the batch, hash-split within each bucket;
  *   7. commit is a metadata-only atomic pointer flip recording the batchKey,
  *      then the commit's [[graft.cdc.Metrics]] line (under the writer's `mode`).
  */
object MergeInto {

  /** Floor on the estimated bytes a single merge-on-read delta-write task
    * should own (guide §2.5/§6: derive partitioning from input size, keep
    * output files from fragmenting). Only ever REDUCES the write's task
    * count — the shuffle-partition/bucket cap still bounds it above — so
    * cluster-scale merges plan exactly as before while micro-batches stop
    * paying a fleet of near-empty write tasks. A production floor would sit
    * toward a full target file size (128M+); 16 MiB stays modest so the
    * local bench's mid-size merges keep their parallelism.
    */
  private val MinWritePartitionBytes: Long = 16L << 20

  // Cumulative per-phase wall nanos since the last drain — always recorded
  // (two clock reads + one adder bump per phase) so the bench can report a
  // per-phase scaling breakdown without a special profiling mode. Phases
  // overlap wall-clock in the pipelined drain (prepare runs concurrently
  // with the predecessor's write), so these sum to MORE than elapsed time;
  // the per-phase lo/hi RATIO is the meaningful signal.
  private val phaseNanos =
    new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.LongAdder]()

  private def tick[T](name: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    val dt = System.nanoTime() - t0
    phaseNanos.computeIfAbsent(name,
      _ => new java.util.concurrent.atomic.LongAdder).add(dt)
    r
  }

  /** Per-phase cumulative seconds since the previous drain, then reset —
    * the bench snapshots this around each replay trial.
    */
  def drainPhaseSeconds(): Map[String, Double] = {
    val out = phaseNanos.asScala.map { case (k, v) => k -> v.sum / 1e9 }.toMap
    phaseNanos.clear()
    out
  }

  /** A prepared (deduped, cached) batch plus the slim planning stats the
    * apply phase needs BEFORE writing: key range + bucket set (file
    * pruning), row count (delta write sizing, empty-batch exit) and max LSN
    * (fully-stale-batch exit). Computed over the PRE-HWM dedup result —
    * for pruning that is a safe superset; correctness of redelivery
    * handling stays with the HWM filter at apply time.
    */
  case class Prepared(df: DataFrame, minKey: String, maxKey: String,
      n: Long, maxLsn: Long, buckets: Set[Int],
      /** The bucket count `buckets` (and the cached `__bucket` column) were
        * computed under. The apply phase reloads the snapshot LATER; if an
        * online rescale committed in between, apply recomputes the bucket
        * set under the current count instead of pruning with stale ids
        * (which would miss touched files and break base-file key
        * uniqueness).
        */
      numBuckets: Int) {
    def unpersist(): Unit = df.unpersist()
  }

  /** The table-independent heavy phase: LWW dedup of a raw batch, bucket
    * assignment, persisted — with the slim planning aggregate as the
    * materializing action (one job does both; a separate apply-side stats
    * job was measured stalling ~seconds per batch behind the in-flight
    * next-batch prepare under the pipelined drain's FIFO scheduling).
    * Safe to run CONCURRENTLY with the previous batch's apply (it reads no
    * table state) — the exact high-water-mark redelivery filter happens at
    * apply time over the (small) cached result, so preparing against a
    * not-yet-committed predecessor cannot resurrect deleted rows.
    */
  def prepare(spark: SparkSession, batch: DataFrame, numBuckets: Int,
      saltBuckets: Int = 0): Prepared = tick("prepare") {
    val d = dedupOnly(batch, numBuckets, saltBuckets).cache()
    // a failed or cancelled materialization must not leave the cache pinned
    val s = try d.agg(
      min("conv_id").as("minKey"), max("conv_id").as("maxKey"),
      count(lit(1)).as("n"), max(col(Model.ordColumn)).as("maxLsn"),
      collect_set("__bucket").as("buckets")).collect()(0)
    catch { case t: Throwable => d.unpersist(); throw t }
    val n = s.getAs[Long]("n")
    Prepared(d, s.getAs[String]("minKey"), s.getAs[String]("maxKey"), n,
      if (n == 0) -1L else s.getAs[Long]("maxLsn"),
      s.getSeq[Int](s.fieldIndex("buckets")).toSet, numBuckets)
  }

  /** Applies `batches` in order while the NEXT batch's [[prepare]] runs on
    * one background thread: the CPU-heavy, table-independent dedup of
    * batch k+1 overlaps the IO-heavy apply of batch k, so cores stay busy
    * through the write's IO waits and stage tails. Prepare jobs run under
    * their own job group, so a failure anywhere CANCELS the in-flight
    * prepare's Spark jobs, including any it has yet to submit (a bare
    * Future.cancel would only interrupt the submitter thread and leave the
    * job running), and unpersists whatever prepared result is still
    * cached.
    */
  def prepareAhead[B](spark: SparkSession, batches: Iterator[B])(
      prep: B => Prepared)(applyOne: (B, Prepared) => Unit): Unit =
    if (batches.hasNext) {
      val sc = spark.sparkContext
      val exec = java.util.concurrent.Executors.newSingleThreadExecutor()
      val group = s"graft-prep-${java.util.UUID.randomUUID()}"
      def submit(b: B) = b -> exec.submit(new java.util.concurrent.Callable[Prepared] {
        def call(): Prepared = {
          sc.setJobGroup(group, "prepare ahead", interruptOnCancel = true)
          try prep(b) finally sc.clearJobGroup()
        }
      })
      var next = Option(submit(batches.next()))
      var applying: Option[Prepared] = None
      try while (next.nonEmpty) {
        val (b, f) = next.get
        next = if (batches.hasNext) Some(submit(batches.next())) else None
        applying = Some(f.get())
        applyOne(b, applying.get)
        applying = None
      } catch {
        case t: Throwable =>
          applying.foreach(_.unpersist())
          next.foreach { case (_, f) =>
            sc.cancelJobGroupAndFutureJobs(group)
            try f.get(30, java.util.concurrent.TimeUnit.SECONDS).unpersist()
            catch { case _: Throwable => () }
          }
          throw t
      } finally exec.shutdownNow()
    }

  /** Change rows in the table's shape (`_lsn`, optional `_deleted`,
    * `_source`, payload) as merge events: `_lsn` becomes the event order,
    * a tombstone a `D` and anything else (a null `_deleted` too) a `U`.
    * `_source` is dropped; the batch key names the source.
    */
  def eventsOf(rows: DataFrame): DataFrame = {
    val deleted =
      if (rows.columns.contains(Model.deletedColumn))
        coalesce(col(Model.deletedColumn), lit(false))
      else lit(false)
    rows.withColumn("op", when(deleted, "D").otherwise("U"))
      .drop(Model.deletedColumn, Model.sourceColumn)
      .withColumnRenamed(Model.lsnColumn, Model.ordColumn)
  }

  private def dedupOnly(batch: DataFrame, numBuckets: Int,
      saltBuckets: Int): DataFrame = {
    // Window dedup by default: one hash shuffle + one reduce-side sort.
    // In the common CDC shape (keyspace >> per-task events) max_by's
    // map-side combine reduces nothing, so its extra map-side sort of the
    // full batch costs ~40% of the dedup phase (BENCH.md, "Absolute
    // throughput": 4.2M vs 2.9M events/s at 16 cores, and better 4->16
    // scaling).
    // Salted max_by remains the explicit hot-key path.
    val deduped0 =
      if (saltBuckets > 1)
        Dedup.saltedLatest(batch, Model.keyColumns, Model.ordColumn, saltBuckets)
      else Dedup.latestByKeyWindow(batch, Model.keyColumns, Model.ordColumn)
    deduped0.withColumn("__bucket",
      ChronicleTable.bucketExpr("conv_id", numBuckets))
  }

  def apply(spark: SparkSession, table: ChronicleTable, batch: DataFrame,
      batchKey: String, source: String, saltBuckets: Int = 0,
      orderedSource: Boolean = true,
      cursor: Option[(String, Long)] = None,
      prepared: Option[Prepared] = None,
      /** Merge-on-read mode: the batch's winners (upserts AND delete
        * tombstones) are written as DELTA files overlaying the table —
        * write IO is O(batch) with NO table reads, where copy-on-write
        * reads and rewrites every touched file. Readers pay a per-key LWW
        * merge (the scan's sorted bucket merge, `graft.sql.SortedLwwMerge`)
        * until compaction folds the deltas into base files; the per-key
        * `_lsn` comparison that the copy-on-write merge makes at write time
        * happens there at read time. The
        * write-amplification arm of the LSM trade — right when batches are
        * small relative to the touched working set (the 100 TB steady
        * state); CoW stays right when reads dominate commits.
        */
      mergeOnRead: Boolean = false, mode: String = "merge"): MergeResult = {
    val t0 = System.nanoTime()
    // A streaming epoch's batch DataFrame rides the micro-batch's CLONED
    // session, not the caller's. Every internal scan and the staged write
    // must run on the BATCH's session: the final action executes under the
    // plan root's session, and the write-riding Observation only hears
    // execution-end events from the session it registered on
    // (ExecutionListenerBus filters by session UUID) — a mixed-session
    // union leaves commitFiles waiting on the observation forever.
    val sess = batch.sparkSession
    val base = table.loadCurrent()
    if (ChronicleTable.isCommitted(base, batchKey)) {
      // Exactly-once: replay of an already-applied batch is a no-op.
      prepared.foreach(_.unpersist())
      return MergeResult(base, skipped = true, 0, 0, 0, 0, 0.0)
    }

    // --- schema evolution ------------------------------------------------
    val systemCols = Model.systemColumns.toSet
    val batchPayload = StructType(batch.schema.fields.filterNot(f =>
      f.name == Model.ordColumn || f.name == "op"))
    val tablePayload = StructType(
      base.schema.fields.filterNot(f => systemCols.contains(f.name)))
    val mergedPayload = ChronicleTable.mergeSchemas(tablePayload, batchPayload)
    val physicalSchema = StructType(mergedPayload.fields ++ Model.systemFields)
    // also true for a pre-`_source` table (first merge adds the system
    // column; older files read as null) and for a TYPE WIDENING (same
    // names, wider type — name comparison alone would silently drop the
    // widened schema from the commit)
    def sig(s: StructType) = s.fields.map(f => (f.name, f.dataType)).toSeq
    val evolved = sig(physicalSchema) != sig(base.schema)
    val srcPrefix = batchKey.takeWhile(_ != '#')

    // every commit ends here: timed and recorded, `-ss` (stream epoch) dropped
    def committed(next: Snapshot, upserts: Long, deletes: Long,
        rewritten: Int, added: Int): MergeResult = {
      val r = MergeResult(next, skipped = false, upserts, deletes, rewritten,
        added, (System.nanoTime() - t0) / 1e9)
      graft.cdc.Metrics.record(table.root, srcPrefix.stripSuffix("-ss"), r, mode)
      r
    }

    val prep0 = prepared.getOrElse(
      prepare(spark, batch, base.numBuckets, saltBuckets))
    // An online rescale may have committed between a pipelined prepare and
    // this apply: the cached dedup result is still valid (table-independent)
    // but its bucket set was computed under the OLD count — recompute it
    // over the (small, cached) result so file pruning sees the real layout.
    val prep =
      if (prep0.numBuckets == base.numBuckets) prep0
      else prep0.copy(numBuckets = base.numBuckets,
        buckets = prep0.df
          .select(ChronicleTable.bucketExpr("conv_id", base.numBuckets).as("__b"))
          .distinct().collect().map(_.getInt(0)).toSet)
    val dedupedAll = prep.df
    // --- high-water-mark redelivery filter (ordered sources) -------------
    // Applied AFTER dedup, over the small cached result: per key the
    // winner's LSN is the batch maximum, so a winner at-or-below the
    // applied high-water mark means every event for that key is a
    // redelivery — dropping it is exactly the pre-dedup filter's effect
    // (this ordering is what lets `prepare` run table-independently; it
    // also keeps a late redelivery of a pre-delete insert from winning:
    // its LSN cannot exceed the hwm that covered the delete).
    // The mark is PER SOURCE (batch-key prefix): LSN sequences of distinct
    // sources (Kafka partitions, binlog shards) are independent, so a
    // global mark would silently drop a second source whose sequence runs
    // below the first's.
    val mark = if (orderedSource) Some(base.hwmFor(srcPrefix)) else None

    try {
      // Write planning runs off the stats the PREPARE pass already
      // computed with its materializing action (key range + bucket set are
      // a safe superset of the post-HWM batch; the delta write's size needs
      // only the order of magnitude). The expensive lineage stats (LSN range,
      // delete count, payload checksum over the full text column) ride the
      // WRITE job as observed metrics — no apply-side aggregate job at
      // all, which under the pipelined drain's FIFO scheduling used to
      // stall behind the in-flight next-batch prepare.
      val n = prep.n
      // empty batch, or an ordered batch that is redeliveries end-to-end
      // (its max LSN at-or-below this source's mark): ledger the batchKey
      // and advance the cursor without touching data
      if (n == 0 || mark.exists(prep.maxLsn <= _)) {
        val lineage = LineageEntry(batchKey, source, -1L, -1L, 0, 0, 0, 0L, Map.empty, -1L)
        return committed(table.commit(base, PendingCommit(batchKey, Nil, Nil,
          None, lineage, cursor, ordered = orderedSource)), 0, 0, 0, 0)
      }
      val minKey = prep.minKey
      val maxKey = prep.maxKey
      val buckets = prep.buckets

      // Lineage metrics collected by the write job over the rows it writes:
      // `__win` marks the batch's winners (every delta row; a copy-on-write
      // batch row that displaced or joined the table), `__ck` carries each
      // upsert's checksum term, hashed over the batch's own column types.
      // The CollectMetrics node must sit where the write plan executes
      // EXACTLY ONCE (below the ordered-mode tombstone drop) — on a shared
      // subplan it would execute once per branch and the bit_xor checksum
      // would self-cancel.
      val obs = org.apache.spark.sql.Observation()
      // lineage checksum columns: keys + text for transcript tables (the
      // per-turn text equality invariant), keys + full payload for derived
      // tables without a text column (e.g. a maintained signature index)
      val checksumCols = (Model.keyColumns ++
        (if (mergedPayload.fieldNames.contains("text")) Seq("text")
         else mergedPayload.fieldNames.toSeq
           .filterNot(Model.keyColumns.contains))).map(col)
      val win = col("__win")
      val metricExprs = Seq(
        coalesce(min(when(win, col(Model.lsnColumn))), lit(-1L)).as("minLsn"),
        coalesce(max(when(win, col(Model.lsnColumn))), lit(-1L)).as("maxLsn"),
        coalesce(sum(when(win && col(Model.deletedColumn), 1L).otherwise(0L)),
          lit(0L)).as("deletes"),
        coalesce(sum(when(win && !col(Model.deletedColumn), 1L).otherwise(0L)),
          lit(0L)).as("upserts"),
        coalesce(bit_xor(col("__ck")), lit(0L)).as("checksum"))
      var obsInput: DataFrame = null
      def observed(rows: DataFrame): DataFrame = {
        obsInput = rows
        rows.observe(obs, metricExprs.head, metricExprs.tail: _*)
      }
      // The rows the write and the metrics see, each in the bucket it lands
      // in: the table's physical columns, then `bucket`, `__win`, `__ck`.
      val rowSchema = StructType(physicalSchema.fields ++ Seq(
        StructField("bucket", IntegerType), StructField("__win", BooleanType),
        StructField("__ck", LongType)))
      def inRowShape(rows: DataFrame, isWinner: Boolean,
          derived: (String, Column)*): DataFrame = conform(rows, rowSchema,
        (derived ++ Seq("__win" -> lit(isWinner),
          "bucket" -> ChronicleTable.bucketExpr("conv_id", base.numBuckets))).toMap)
      // every deduped batch row; the mark filter is the caller's
      val batchRows = inRowShape(dedupedAll, isWinner = true,
        "__ck" -> when(col("op") =!= "D", xxhash64(checksumCols: _*)),
        Model.lsnColumn -> col(Model.ordColumn),
        Model.deletedColumn -> (col("op") === "D"),
        Model.sourceColumn -> lit(srcPrefix))
      def written(rows: DataFrame): DataFrame = rows.drop("__win", "__ck")

      // (reads obs — call only after the write's action completed)
      def commitFiles(removed: Seq[String], added: Seq[DataFileMeta]): (Snapshot, Long, Long) = {
        // When the staged write lands ZERO rows end-to-end (a pure-delete
        // batch displacing every touched row), AQE's empty-relation
        // propagation may plan the CollectMetrics node away — the
        // observation then completes with an EMPTY row. Recompute the same
        // aggregates directly over the observed input (tiny in exactly this
        // case) instead of committing bogus lineage.
        val m0 = obs.get
        val m =
          if (m0.nonEmpty) m0
          else {
            val r = obsInput.agg(metricExprs.head, metricExprs.tail: _*)
              .collect()(0)
            r.schema.fieldNames.map(f => f -> r.getAs[Any](f)).toMap
          }
        val upserts = m("upserts").asInstanceOf[Long]
        val deletes = m("deletes").asInstanceOf[Long]
        val lineage = LineageEntry(batchKey, source,
          m("minLsn").asInstanceOf[Long], m("maxLsn").asInstanceOf[Long],
          upserts, deletes, added.map(_.rows).sum,
          m("checksum").asInstanceOf[Long],
          LineageEntry.rowsByBucket(added), -1L)
        val pending = PendingCommit(batchKey, removed, added,
          if (evolved) Some(physicalSchema) else None, lineage, cursor,
          ordered = orderedSource)
        (tick("commit")(table.commit(base, pending)), upserts, deletes)
      }

      if (mergeOnRead) {
        // --- merge-on-read: the batch IS the write — no table reads --------
        // Tombstones persist unconditionally (ordered or not): read-time
        // LWW needs them to mask the base rows they delete. The delta rows
        // hash-split within each bucket, sorted by key inside every file;
        // the split count derives from DATA SIZE, floored so no write task
        // owns less than ~MinWritePartitionBytes (a core-count constant
        // produced 32 near-empty files for an 800-row micro-batch).
        val cap = math.max(1, math.min(
          sess.conf.get("spark.sql.shuffle.partitions").toInt, buckets.size * 4))
        val parts = math.max(1L, math.min(cap.toLong,
          (n * 256L + MinWritePartitionBytes - 1) / MinWritePartitionBytes)).toInt
        val splitsPerBucket = math.max(1, parts / math.max(1, buckets.size))
        val winners =
          mark.fold(batchRows)(m => batchRows.filter(col(Model.lsnColumn) > m))
        val added = tick("write")(StagedWrite(table, written(observed(winners))
          .withColumn("__split",
            pmod(xxhash64(col("conv_id"), lit(1)), lit(splitsPerBucket)))
          .repartition(parts, col("bucket"), col("__split"))
          .drop("__split")
          .sortWithinPartitions("bucket", "conv_id", "turn_idx")))
          .map(_.copy(delta = true))
        val (next, upserts, deletes) = commitFiles(Nil, added)
        return committed(next, upserts, deletes, 0, added.size)
      }

      // --- metadata-only file pruning --------------------------------------
      // The commit removes a touched delta whole, with rows of keys whose
      // base file the key range pruned: its whole bucket comes along, or
      // those rows would land as second base rows beside the pruned ones.
      val pruned = table.files(base,
        FilePrune(Some(buckets), Some(minKey), Some(maxKey)))
      val deltaBuckets = pruned.filter(_.delta).map(_.bucket).toSet
      val touched =
        if (deltaBuckets.isEmpty) pruned
        else pruned.filterNot(f => deltaBuckets(f.bucket)) ++
          table.files(base, FilePrune(Some(deltaBuckets)))

      // --- bucket-aligned merge: one task per touched bucket ----------------
      // Partition i of both sides is bucket bs(i). The table side is the
      // rewrite scan (each bucket's touched files as one sorted, key-unique
      // stream; table data never crosses an exchange); the batch side is
      // the only shuffle, its winners moved to their bucket's partition and
      // sorted by key. Each task merges the pair — an ordered source's row
      // displaces the table's unconditionally (its high-water mark already
      // made every batch event newer than anything applied), an unordered
      // source's only with a strictly greater `_lsn` — and writes the
      // bucket's one sorted file.
      val bs = buckets.toSeq.sorted
      val tableRows = inRowShape(table.readRewrite(sess, base, touched, bs),
        isWinner = false)
      val layout = StructType(tableRows.schema.zip(batchRows.schema).map {
        case (t, b) => t.copy(nullable = t.nullable || b.nullable) })
      val Seq(convIdx, turnIdx, lsnIdx, bucketIdx) =
        Seq("conv_id", "turn_idx", Model.lsnColumn, "bucket").map(layout.fieldIndex)
      val partOf = bs.zipWithIndex.toMap
      // The mark filters the rows as they enter the shuffle: as a column
      // filter, its per-commit constant would compile the batch side's
      // generated code anew on every commit.
      val winners = batchRows.queryExecution.toRdd
        .filter(r => mark.forall(r.getLong(lsnIdx) > _))
      val batchSide = DatasetFactory.ofRows(sess,
        RowShuffle(winners, layout, bs.size)(r => partOf(r.getInt(bucketIdx))), layout)
        .sortWithinPartitions("conv_id", "turn_idx").queryExecution.toRdd
      val added = tick("write") {
        val merged = tableRows.queryExecution.toRdd.zipPartitions(batchSide) {
          (t, b) => new graft.sql.SortedLwwMerge(Seq(t, b),
            Seq("the bucket's files", "the batch"), convIdx, turnIdx, lsnIdx,
            lastWins = orderedSource)
        }
        // Winning deletes persist as tombstones, so a later redelivery of an
        // older change for the key loses the LSN comparison instead of
        // resurrecting the row. An ordered source needs no tombstones — the
        // HWM filter already makes deletes final — so they are dropped there
        // ABOVE the metrics node (the delete count and LSN range must still
        // see them).
        val rows = observed(DatasetFactory.ofRows(sess, merged, layout,
          sortedBy = Seq("bucket", "conv_id", "turn_idx")))
        StagedWrite(table, written(
          if (orderedSource) rows.filter(!(win && col(Model.deletedColumn))) else rows)
          .sortWithinPartitions("bucket", "conv_id", "turn_idx"))
      }
      val (next, upserts, deletes) = commitFiles(touched.map(_.path), added)
      committed(next, upserts, deletes, touched.size, added.size)
    } finally dedupedAll.unpersist()
  }

  /** Project `df` onto `schema` in one select: a `derived` column is its
    * expression, shared columns pass through, columns the frame lacks
    * become typed nulls (schema-on-read fill for pre-evolution data).
    */
  def conform(df: DataFrame, schema: StructType,
      derived: Map[String, Column] = Map.empty): DataFrame = {
    val have = df.columns.toSet
    df.select(schema.fields.toSeq.map { f =>
      derived.getOrElse(f.name,
        if (have(f.name)) col(f.name) else lit(null)).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** Canonical change-event projection (lsn, op, payload...). */
  def changeColumns: Seq[Column] =
    (Seq(Model.ordColumn, "op") ++ Model.payloadColumns).map(col)
}
