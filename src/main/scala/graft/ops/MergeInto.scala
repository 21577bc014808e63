package graft.ops

import graft.model.Model
import graft.table._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{DatasetFactory, RowShuffle}
import org.apache.spark.sql.types.{BooleanType, IntegerType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

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
  *   - LSN high-water mark: a key whose latest batch event is at or below
  *     the source's hwm is already applied and is dropped (the north star's
  *     "dedup per key using LSN/offset high-water marks") — this is also
  *     what makes a delete final against a later redelivery of an older
  *     insert (tombstone-free);
  *   - per-key `_lsn` guard: each table row stores the LSN that wrote it;
  *     a batch change only displaces a row it strictly beats. In-order
  *     replay never triggers this, but it keeps update reordering across
  *     epochs from regressing row content.
  *
  * Physical plan, designed for 100 TB: two Spark jobs per commit.
  *   1. prepare (job 1) is the map stage of the batch's only shuffle: each
  *      raw batch row moves to partition = its bucket, and the same tasks
  *      fold the planning stats (key range, max LSN, touched buckets, row
  *      count) into an accumulator — the batch is evaluated once;
  *   2. file pruning is metadata-only: only files in touched buckets whose
  *      conv_id range intersects the batch's are rewritten — untouched files
  *      carry forward in the manifest without any IO (a touched delta
  *      brings its whole bucket);
  *   3. the write (job 2) reads the shuffle without re-running its map
  *      stage. Each task sorts its buckets' rows by (bucket, conv_id,
  *      turn_idx, LSN descending), keeps each key's first row — the LWW
  *      dedup — and drops an ordered source's winners at or below its
  *      high-water mark;
  *   4. copy-on-write: one task per touched bucket. The rewrite scan
  *      ([[ChronicleTable.readRewrite]]) plans one partition per touched
  *      bucket, the bucket's touched files as one sorted, key-unique
  *      stream (table data never crosses an exchange), and the task
  *      two-way merges it with the bucket's winners
  *      ([[graft.sql.SortedLwwMerge]]; an ordered source's row displaces
  *      unconditionally, an unordered source's only with a strictly
  *      greater `_lsn`), then writes the bucket's one file, sorted by
  *      (conv_id, turn_idx), so parquet row-group stats stay tight.
  *      Merge-on-read writes only the winners, a contiguous run of touched
  *      buckets per task;
  *   5. commit is a metadata-only atomic pointer flip recording the batchKey,
  *      then the commit's [[graft.cdc.Metrics]] line (under the writer's `mode`).
  */
object MergeInto {

  /** Floor on the estimated bytes a single merge-on-read delta-write task
    * should own: it only ever REDUCES the write's task count (the
    * shuffle-partition/touched-bucket cap bounds it above), so
    * micro-batches do not pay a fleet of near-empty write tasks. A
    * production floor would sit toward a full target file size (128M+).
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

  /** A prepared batch: its raw rows shuffled to their buckets (the map
    * stage has run) plus the planning stats the apply phase needs BEFORE
    * writing: key range + bucket set (file pruning), row count (delta
    * write sizing, empty-batch exit) and max LSN (fully-stale-batch exit).
    * Taken over the raw rows — for pruning a safe superset; redeliveries
    * are dropped in the write tasks, after their dedup. `numBuckets` is
    * the count the rows were shuffled under: an online rescale committed
    * before the apply makes the whole result stale.
    */
  case class Prepared(rows: RowShuffle.Rows, schema: StructType,
      numBuckets: Int, minKey: String, maxKey: String, n: Long,
      maxLsn: Long, buckets: Set[Int])

  /** The table-independent phase: the map stage of the batch's one
    * shuffle (raw rows to partition = bucket), whose tasks also fold the
    * planning stats — one job. Safe to run CONCURRENTLY with the previous
    * batch's apply (it reads no table state): the exact high-water-mark
    * redelivery filter runs in the apply's write tasks, so preparing
    * against a not-yet-committed predecessor cannot resurrect deleted rows.
    * Nothing is cached: the shuffle files live as long as the result.
    */
  def prepare(spark: SparkSession, batch: DataFrame, numBuckets: Int): Prepared =
    tick("prepare") {
      val rows = batch.withColumn("__bucket",
        ChronicleTable.bucketExpr("conv_id", numBuckets))
      val Seq(convIdx, lsnIdx, bucketIdx) =
        Seq("conv_id", Model.ordColumn, "__bucket").map(rows.schema.fieldIndex)
      val stats = spark.sparkContext.collectionAccumulator[BatchStats]
      val folded = rows.queryExecution.toRdd.mapPartitions { it =>
        val s = new BatchStats
        org.apache.spark.TaskContext.get()
          .addTaskCompletionListener[Unit](_ => stats.add(s))
        it.map { r => s.add(r, convIdx, lsnIdx, bucketIdx); r }
      }
      val shuffled = RowShuffle.mapStage(folded, rows.schema, numBuckets)(
        _.getInt(bucketIdx))
      val v = stats.value.asScala.foldLeft(new BatchStats)(_ merge _)
      Prepared(shuffled, rows.schema, numBuckets,
        Option(v.minKey).map(_.toString).orNull,
        Option(v.maxKey).map(_.toString).orNull, v.n,
        if (v.n == 0) -1L else v.maxLsn, v.buckets.toSet)
    }

  /** Applies `batches` in order while the NEXT batch's [[prepare]] runs on
    * one background thread: the map stage of batch k+1 overlaps the write
    * of batch k, so cores stay busy through the write's IO waits and stage
    * tails. Prepare jobs run under their own job group, so a failure
    * anywhere CANCELS the in-flight prepare's Spark jobs, including any it
    * has yet to submit (a bare Future.cancel would only interrupt the
    * submitter thread and leave the job running).
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
      try while (next.nonEmpty) {
        val (b, f) = next.get
        next = if (batches.hasNext) Some(submit(batches.next())) else None
        applyOne(b, f.get())
      } catch {
        case t: Throwable =>
          next.foreach { case (_, f) =>
            sc.cancelJobGroupAndFutureJobs(group)
            try f.get(30, java.util.concurrent.TimeUnit.SECONDS)
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

  def apply(spark: SparkSession, table: ChronicleTable, batch: DataFrame,
      batchKey: String, source: String,
      orderedSource: Boolean = true,
      cursor: Option[(String, Long)] = None,
      prepared: Option[Prepared] = None,
      /** Merge-on-read mode: the batch's winners (upserts AND delete
        * tombstones) are written as DELTA files overlaying the table —
        * write IO is O(batch) with NO table reads. Readers pay the per-key
        * `_lsn` comparison in the scan's sorted bucket merge
        * (`graft.sql.SortedLwwMerge`) until compaction folds the deltas:
        * the LSM trade, right when batches are small relative to the
        * touched working set; CoW stays right when reads dominate commits.
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
      return MergeResult(base, skipped = true, 0, 0, 0, 0, 0.0)
    }

    // An online rescale may have committed between a pipelined prepare and
    // this apply: its rows sit in buckets of the OLD count. Prepare again
    // under the current one and drop the stale result whole, so stats and
    // rows always come from one evaluation of the batch.
    val prep = prepared.filter(_.numBuckets == base.numBuckets)
      .getOrElse(prepare(spark, batch, base.numBuckets))

    // --- schema evolution ------------------------------------------------
    val systemCols = Model.systemColumns.toSet
    val batchPayload = StructType(prep.schema.fields.filterNot(f =>
      f.name == Model.ordColumn || f.name == "op" || f.name == "__bucket"))
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

    // --- high-water-mark redelivery filter (ordered sources) -------------
    // Applied AFTER dedup, in the write tasks: per key the winner's LSN is
    // the batch maximum, so a winner at-or-below the applied high-water
    // mark means every event for that key is a redelivery (this ordering
    // is what lets `prepare` run table-independently; a late redelivery of
    // a pre-delete insert cannot win: its LSN cannot exceed the hwm that
    // covered the delete). The mark is PER SOURCE (batch-key prefix): LSN
    // sequences of distinct sources are independent.
    val mark = if (orderedSource) Some(base.hwmFor(srcPrefix)) else None

    // Write planning runs off the stats the PREPARE map stage folded (key
    // range + bucket set are a safe superset of the post-HWM batch; the
    // delta write's size needs only the order of magnitude); the lineage
    // stats ride the WRITE job as observed metrics.
    val n = prep.n
    // empty batch, or an ordered batch that is redeliveries end-to-end
    // (its max LSN at-or-below this source's mark): ledger the batchKey
    // and advance the cursor without touching data
    if (n == 0 || mark.exists(prep.maxLsn <= _)) {
      val lineage = LineageEntry(batchKey, source, -1L, -1L, 0, 0, 0, 0L, Map.empty, -1L)
      return committed(table.commit(base, PendingCommit(batchKey, Nil, Nil,
        None, lineage, cursor, ordered = orderedSource)), 0, 0, 0, 0)
    }
    val bs = prep.buckets.toSeq.sorted

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
    // each column in one select: its derived expression, else the frame's
    // own column, else a typed null (schema-on-read fill for older data)
    def inRowShape(rows: DataFrame, isWinner: Boolean,
        derived: (String, Column)*): DataFrame = {
      val d = (("bucket" -> ChronicleTable.bucketExpr("conv_id", base.numBuckets)) +:
        derived :+ ("__win" -> lit(isWinner))).toMap
      rows.select(rowSchema.fields.toSeq.map(f => d.getOrElse(f.name,
        if (rows.columns.contains(f.name)) col(f.name) else lit(null))
        .cast(f.dataType).as(f.name)): _*)
    }
    // The batch's winners in the write tasks reading the shuffle's
    // partitions `ranges`: each task sorts its rows by (bucket, key, LSN
    // descending), keeps every key's first row and drops an ordered
    // source's redeliveries. The mark is applied as the rows pass, not
    // as a column filter: its per-commit constant would compile the
    // task's generated code anew on every commit.
    def winnersOf(ranges: Seq[(Int, Int)]): DataFrame = {
      val Seq(convIdx, turnIdx, ordIdx) =
        Seq("conv_id", "turn_idx", Model.ordColumn).map(prep.schema.fieldIndex)
      val latest = DatasetFactory.ofRows(sess,
        RowShuffle.read(prep.rows, ranges), prep.schema)
        .sortWithinPartitions(col("__bucket"), col("conv_id"), col("turn_idx"),
          col(Model.ordColumn).desc)
        .queryExecution.toRdd.mapPartitions { it =>
          // rows pass uncopied: only the previous key is kept
          var prev: (UTF8String, Int) = null
          it.filter { r =>
            val k = (r.getUTF8String(convIdx), r.getInt(turnIdx))
            val first = prev == null || k != prev
            if (first) prev = (Option(k._1).map(_.clone()).orNull, k._2)
            first && mark.forall(r.getLong(ordIdx) > _)
          }
        }
      inRowShape(DatasetFactory.ofRows(sess, latest, prep.schema,
          sortedBy = Seq("__bucket", "conv_id", "turn_idx")), isWinner = true,
        "bucket" -> col("__bucket"),
        "__ck" -> when(col("op") =!= "D", xxhash64(checksumCols: _*)),
        Model.lsnColumn -> col(Model.ordColumn),
        Model.deletedColumn -> (col("op") === "D"),
        Model.sourceColumn -> lit(srcPrefix))
    }
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
      // LWW needs them to mask the base rows they delete. Each write task
      // owns a contiguous run of touched buckets and writes one file per
      // bucket, sorted by key; the task count derives from DATA SIZE,
      // floored so no write task owns less than ~MinWritePartitionBytes.
      val cap = math.max(1, math.min(
        sess.conf.get("spark.sql.shuffle.partitions").toInt, bs.size))
      val parts = math.max(1L, math.min(cap.toLong,
        (n * 256L + MinWritePartitionBytes - 1) / MinWritePartitionBytes)).toInt
      val runs = bs.grouped((bs.size + parts - 1) / parts)
        .map(run => (run.head, run.last + 1)).toSeq
      val added = tick("write")(StagedWrite(table, written(observed(winnersOf(runs)))
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
      FilePrune(Some(prep.buckets), Some(prep.minKey), Some(prep.maxKey)))
    val deltaBuckets = pruned.filter(_.delta).map(_.bucket).toSet
    val touched =
      if (deltaBuckets.isEmpty) pruned
      else pruned.filterNot(f => deltaBuckets(f.bucket)) ++
        table.files(base, FilePrune(Some(deltaBuckets)))

    // --- bucket-aligned merge: one task per touched bucket ----------------
    // Partition i of both sides is bucket bs(i). The table side is the
    // rewrite scan (each bucket's touched files as one sorted, key-unique
    // stream; table data never crosses an exchange); the batch side is
    // the bucket's partition of the prepare's shuffle, deduped in the
    // task. Each task merges the pair — an ordered source's row
    // displaces the table's unconditionally (its high-water mark already
    // made every batch event newer than anything applied), an unordered
    // source's only with a strictly greater `_lsn` — and writes the
    // bucket's one sorted file.
    val tableRows = inRowShape(table.readRewrite(sess, base, touched, bs),
      isWinner = false)
    val batchRows = winnersOf(bs.map(b => (b, b + 1)))
    val layout = StructType(tableRows.schema.zip(batchRows.schema).map {
      case (t, b) => t.copy(nullable = t.nullable || b.nullable) })
    val Seq(convIdx, turnIdx, lsnIdx) =
      Seq("conv_id", "turn_idx", Model.lsnColumn).map(layout.fieldIndex)
    val added = tick("write") {
      val merged = tableRows.queryExecution.toRdd
        .zipPartitions(batchRows.queryExecution.toRdd) { (t, b) =>
          new graft.sql.SortedLwwMerge(Seq(t, b),
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
  }

  /** Canonical change-event projection (lsn, op, payload...). */
  def changeColumns: Seq[Column] =
    (Seq(Model.ordColumn, "op") ++ Model.payloadColumns).map(col)
}

/** Planning stats a prepare's map task folds over its raw batch rows.
  * Min, max and set union stay exact when a retried task reports twice;
  * the row count may then overcount, which is fine for its two uses (empty
  * or not, and the merge-on-read write's size).
  */
private final class BatchStats extends Serializable {
  var minKey, maxKey: UTF8String = _
  var maxLsn = Long.MinValue
  var n = 0L
  val buckets = new scala.collection.mutable.BitSet

  def add(r: InternalRow, convIdx: Int, lsnIdx: Int, bucketIdx: Int): Unit = {
    if (!r.isNullAt(convIdx)) {
      val k = r.getUTF8String(convIdx)
      if (minKey == null || k.binaryCompare(minKey) < 0) minKey = k.clone()
      if (maxKey == null || k.binaryCompare(maxKey) > 0) maxKey = k.clone()
    }
    if (!r.isNullAt(lsnIdx)) maxLsn = math.max(maxLsn, r.getLong(lsnIdx))
    n += 1
    buckets += r.getInt(bucketIdx)
  }

  def merge(o: BatchStats): BatchStats = {
    if (o.minKey != null && (minKey == null || o.minKey.binaryCompare(minKey) < 0))
      minKey = o.minKey
    if (o.maxKey != null && (maxKey == null || o.maxKey.binaryCompare(maxKey) > 0))
      maxKey = o.maxKey
    maxLsn = math.max(maxLsn, o.maxLsn)
    n += o.n
    buckets ++= o.buckets
    this
  }
}
