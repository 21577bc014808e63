package graft.ops

import graft.model.Model
import graft.table._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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
  *   4. touched files read key-unique through the readers' scan
  *      ([[ChronicleTable.readRewrite]]); the existing-LSN guard reads ONLY
  *      (conv_id, turn_idx, _lsn) of them and semi-joins a broadcast of
  *      the batch keys — result is at most batch-sized;
  *   5. survivors = touched rows LEFT ANTI JOIN broadcast(winner keys):
  *      table data never shuffles, it streams through whole-stage codegen;
  *   6. new files are hash-split within each bucket and sorted by
  *      (bucket, conv_id, turn_idx) inside every file, so parquet row-group
  *      stats stay tight; pruning granularity for the NEXT merge is the
  *      bucket (per-file conv_id bounds inside a bucket are near-full by
  *      construction of the hash split — the single write pass is worth more
  *      than narrow per-file ranges, which would need a second
  *      sampling/range pass);
  *   7. commit is a metadata-only atomic pointer flip recording the batchKey,
  *      then the commit's [[graft.cdc.Metrics]] line (under the writer's `mode`).
  */
object MergeInto {

  /** Broadcast the anti-join key side when the deduped batch has fewer keys
    * than this; larger batches use a shuffled join instead. Building a
    * multi-million-entry broadcast hash relation is SERIAL driver work per
    * micro-batch — measured to cap cluster scaling long before the shuffle
    * would — so the cutoff stays modest (typical CDC micro-batches are far
    * below it; a bulk backfill is exactly the case where the shuffled join
    * is right). Settable only from specs, which lower it to plan the
    * shuffled join on small fixtures.
    */
  @volatile private[graft] var broadcastKeyLimit: Long = 1000000L

  /** Broadcast-hint a batch-derived join side only under the key cutoff
    * (above it the hint is omitted and the join shuffles / AQE decides).
    */
  private[graft] def maybeBroadcastDf(df: DataFrame, keyCount: Long): DataFrame =
    if (keyCount <= broadcastKeyLimit) broadcast(df) else df

  /** Floor on the estimated bytes a single staged-write task should own
    * (guide §2.5/§6: derive partitioning from input size, keep output
    * files from fragmenting). Only ever REDUCES the write's task count —
    * the shuffle-partition/bucket cap still bounds it above — so cluster-
    * scale merges plan exactly as before while micro-batches stop paying
    * a fleet of near-empty write tasks. A production floor would sit
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
    * pruning), row count (broadcast sizing, empty-batch exit) and max LSN
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
        * `_lsn` comparison that the
        * CoW guard join performs at write time happens there at read time,
        * so unordered sources need no guard scan either. The
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
    val deduped =
      if (orderedSource)
        dedupedAll.filter(col(Model.ordColumn) > lit(base.hwmFor(srcPrefix)))
      else dedupedAll

    try {
      // Write planning runs off the stats the PREPARE pass already
      // computed with its materializing action (key range + bucket set are
      // a safe superset of the post-HWM batch; broadcast sizing needs only
      // the order of magnitude). The expensive lineage stats (LSN range,
      // delete count, payload checksum over the full text column) ride the
      // WRITE job as observed metrics — no apply-side aggregate job at
      // all, which under the pipelined drain's FIFO scheduling used to
      // stall behind the in-flight next-batch prepare.
      val n = prep.n
      // empty batch, or an ordered batch that is redeliveries end-to-end
      // (its max LSN at-or-below this source's mark): ledger the batchKey
      // and advance the cursor without touching data
      if (n == 0 ||
          (orderedSource && prep.maxLsn <= base.hwmFor(srcPrefix))) {
        val lineage = LineageEntry(batchKey, source, -1L, -1L, 0, 0, 0, 0L, Map.empty, -1L)
        return committed(table.commit(base, PendingCommit(batchKey, Nil, Nil,
          None, lineage, cursor, ordered = orderedSource)), 0, 0, 0, 0)
      }
      val minKey = prep.minKey
      val maxKey = prep.maxKey
      val buckets = prep.buckets

      // Lineage metrics collected by the write job. The CollectMetrics
      // node must sit on a branch the write plan executes EXACTLY ONCE
      // (the upsert side of the union, below the ordered-mode tombstone
      // drop) — on a shared subplan like `deduped` it would execute once
      // per branch and the bit_xor checksum would self-cancel.
      val obs = org.apache.spark.sql.Observation()
      // lineage checksum columns: keys + text for transcript tables (the
      // per-turn text equality invariant), keys + full payload for derived
      // tables without a text column (e.g. a maintained signature index)
      val checksumCols = (Model.keyColumns ++
        (if (mergedPayload.fieldNames.contains("text")) Seq("text")
         else mergedPayload.fieldNames.toSeq
           .filterNot(Model.keyColumns.contains))).map(col)
      val metricExprs = Seq(
        coalesce(min(col(Model.ordColumn)), lit(-1L)).as("minLsn"),
        coalesce(max(col(Model.ordColumn)), lit(-1L)).as("maxLsn"),
        coalesce(sum(when(col("op") === "D", 1L).otherwise(0L)), lit(0L))
          .as("deletes"),
        coalesce(sum(when(col("op") =!= "D", 1L).otherwise(0L)), lit(0L))
          .as("upserts"),
        coalesce(bit_xor(when(col("op") =!= "D",
          xxhash64(checksumCols: _*))), lit(0L))
          .as("checksum"))
      var obsInput: DataFrame = null
      def observed(rows: DataFrame): DataFrame = {
        obsInput = rows
        rows.observe(obs, metricExprs.head, metricExprs.tail: _*)
      }

      // hash-split sorted write of the new files, which report their own
      // manifest stats (shared by both modes). `bytesHint` is the manifest-
      // derived estimate of the staged output (touched bytes + batch
      // estimate): the split count derives from DATA SIZE, floored so no
      // write task owns less than ~MinWritePartitionBytes — a core-count
      // constant here produced 32 near-empty files (and a 32-entry commit)
      // for an 800-row micro-batch, pure fixed overhead that shrinks at
      // neither cluster size nor data size. At scale the size-derived count
      // saturates the same shuffle-partition cap as before, so large merges
      // are unchanged.
      def writeStaged(newData: DataFrame, bytesHint: Long): Seq[DataFileMeta] = {
        val cap = math.max(1, math.min(
          sess.conf.get("spark.sql.shuffle.partitions").toInt, buckets.size * 4))
        val parts = math.max(1L, math.min(cap.toLong,
          (bytesHint + MinWritePartitionBytes - 1) / MinWritePartitionBytes))
          .toInt
        val splitsPerBucket = math.max(1, parts / math.max(1, buckets.size))
        tick("write")(StagedWrite(table, newData
          .withColumn("bucket", ChronicleTable.bucketExpr("conv_id", base.numBuckets))
          .withColumn("__split",
            pmod(xxhash64(col("conv_id"), lit(1)), lit(splitsPerBucket)))
          .repartition(parts, col("bucket"), col("__split"))
          .drop("__split")
          .sortWithinPartitions("bucket", "conv_id", "turn_idx")))
      }

      // (reads obs — call only after writeStaged's action completed)
      def commitFiles(removed: Seq[String], added: Seq[DataFileMeta]): (Snapshot, Long, Long) = {
        // When the staged write lands ZERO rows end-to-end (a pure-delete
        // batch displacing every touched row), AQE's empty-relation
        // propagation re-plans the finished map stage away and the
        // CollectMetrics node vanishes from the final plan — the
        // observation then completes with an EMPTY row. Recompute the same
        // aggregates directly over the observed input (cached, and tiny in
        // exactly this case) instead of committing bogus lineage.
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
        // LWW needs them to mask the base rows they delete.
        val deltaRows = conform(
          observed(deduped
            .withColumn(Model.lsnColumn, col(Model.ordColumn))
            .withColumn(Model.deletedColumn, col("op") === "D")
            .withColumn(Model.sourceColumn, lit(srcPrefix))),
          physicalSchema)
        val added = writeStaged(deltaRows, bytesHint = n * 256L)
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
      val touchedRows = touched.map(_.rows).sum
      // key-unique: the scan LWW-merges each delta-carrying bucket
      lazy val current = table.readRewrite(sess, base, touched)

      // Broadcast the batch-key side only when the table side dwarfs it:
      // building a broadcast hash relation is SERIAL driver work (collect +
      // hash build), measured ~2s for a 500k-key batch — pure Amdahl loss
      // when the touched table side is batch-sized anyway. The row counts
      // come free from the manifest.
      def maybeBroadcast(df: DataFrame): DataFrame =
        if (n * 8 <= touchedRows) maybeBroadcastDf(df, n) else df

      // --- per-key existing-LSN guard (column-pruned scan of touched files)
      // For an ordered source the HWM filter already guarantees every batch
      // event is strictly newer than anything applied, so the guard is
      // skipped — one fewer scan+join per micro-batch.
      val winners: DataFrame =
        if (touched.isEmpty || orderedSource) deduped
        else {
          // one existing row per contested key: the scan merged its versions
          val contested = current
            .select((Model.keyColumns :+ Model.lsnColumn).map(col): _*)
            .join(maybeBroadcast(deduped.select(Model.keyColumns.map(col): _*)),
              Model.keyColumns, "left_semi")
            .withColumnRenamed(Model.lsnColumn, "__existing_lsn")
          // contested is at most batch-sized, which a bulk unordered backfill
          // can push past the broadcast cutoff — gate it like every other
          // batch-derived side (AQE falls back to a shuffled join).
          deduped.join(maybeBroadcast(contested), Model.keyColumns, "left")
            .filter(col("__existing_lsn").isNull ||
              col(Model.ordColumn) > col("__existing_lsn"))
            .drop("__existing_lsn")
        }

      // --- survivors: touched rows whose key is NOT displaced --------------
      // (conformed: the scan reads the base schema, the commit the evolved)
      val winnerKeys = winners.select(Model.keyColumns.map(col): _*)
      val survivors: Option[DataFrame] =
        if (touched.isEmpty) None
        else Some(conform(current, physicalSchema)
          .join(maybeBroadcast(winnerKeys), Model.keyColumns, "left_anti"))

      // Winning deletes persist as tombstones (payload nulled), so a later
      // redelivery of an older change for the key loses the LSN comparison
      // instead of resurrecting the row. An ordered source needs no
      // tombstones — the HWM filter already makes deletes final — so they
      // are dropped there ABOVE the metrics node (the delete count and LSN
      // range must still see them).
      val upsertRows = conform({
        val o = observed(winners
          .withColumn(Model.lsnColumn, col(Model.ordColumn))
          .withColumn(Model.deletedColumn, col("op") === "D")
          .withColumn(Model.sourceColumn, lit(srcPrefix)))
        if (orderedSource) o.filter(col("op") =!= "D") else o
      }, physicalSchema)
      val newData = survivors match {
        case Some(s) => s.unionByName(upsertRows)
        case None => upsertRows
      }

      // --- write new files, sorted within each bucket split -----------------
      // Hash repartition on (bucket, sub-split), NOT repartitionByRange:
      // range partitioning runs a sampling job that would execute the whole
      // merge pipeline a second time — at scale that doubles the pass over
      // the touched data. The deterministic hash split keeps hot buckets
      // from serializing into one writer; files stay sorted by key so
      // row-group stats and the footer min/max remain useful.
      val touchedBytes = touched.map(_.bytes).sum
      val avgRowBytes =
        if (touchedRows > 0 && touchedBytes > 0)
          math.max(64L, touchedBytes / touchedRows)
        else 256L
      val added = writeStaged(newData,
        bytesHint = touchedBytes + n * avgRowBytes)
      val (next, upserts, deletes) = commitFiles(touched.map(_.path), added)
      committed(next, upserts, deletes, touched.size, added.size)
    } finally dedupedAll.unpersist()
  }

  /** Project `df` onto `schema`: shared columns pass through, columns the
    * frame lacks become typed nulls (schema-on-read fill for pre-evolution
    * data).
    */
  def conform(df: DataFrame, schema: StructType): DataFrame = {
    val have = df.columns.toSet
    df.select(schema.fields.toSeq.map { f =>
      if (have(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** Canonical change-event projection (lsn, op, payload...). */
  def changeColumns: Seq[Column] =
    (Seq(Model.ordColumn, "op") ++ Model.payloadColumns).map(col)
}
