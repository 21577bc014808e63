package graft

import graft.queries.RelationalQueries

/** Physical-plan guards: the plans the engine is tuned for must survive
  * refactors — dimension joins stay broadcast, scans stay pruned and
  * pushed, top-k stays TakeOrdered (no global sort materialization).
  */
class PlanSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("q3: dimension sides broadcast, lineitem scan pruned to 3 columns") {
    val p = plan(RelationalQueries.q3TopRevenue(spark, dir))
    assert(p.contains("BroadcastHashJoin"), p.linesIterator.take(12).mkString("\n"))
    assert(!p.contains("SortMergeJoin"))
    assert(p.contains("TakeOrderedAndProject"))
    val scan = p.linesIterator.find(l => l.contains("lineitem") && l.contains("ReadSchema"))
    assert(scan.exists(l => l.contains("l_orderkey") && !l.contains("l_shipdate")),
      s"lineitem scan not pruned: $scan")
  }

  test("q1: filter pushed to the parquet scan, hash aggregation partial+final") {
    val df = RelationalQueries.q1PricingSummary(spark, dir)
    val p = plan(df)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"), p)
    assert(p.contains("HashAggregate"))
  }

  test("region star join: all three dimensions broadcast (no shuffle of orders)") {
    val p = plan(RelationalQueries.revenueByRegion(spark, dir))
    assert("BroadcastHashJoin".r.findAllIn(p).size == 3, p.linesIterator.take(15).mkString("\n"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("LSH pipelines carry no interior global sort (signature table is unordered)") {
    // the ordered minhash dump exists only for its own oracle; the ops
    // compose on the unordered sigTable — a regression reintroducing the
    // orderBy drags a full sort+range-exchange into every LSH query
    // (Catalyst can't eliminate a sort under order-sensitive collect_list)
    for (q <- Seq("dedup_lsh_pairs", "dedup_incremental_pairs")) {
      val p = plan(graft.SparkEntry.queries(q)(spark, dir))
      // GLOBAL sorts only (flag `true` after the ordering): the regression
      // this guards is a full sort + range exchange of the signature
      // table. Sort-merge-join partition-local sorts (global = false) are
      // a different animal — AQE converts them to broadcast at runtime
      // when the batch-derived side is small.
      val sorts = p.linesIterator.count(l =>
        l.contains("- Sort [") && l.contains("], true,"))
      assert(sorts <= 1,
        s"$q has $sorts global sorts (want only the final orderBy)")
    }
  }

  test("no persisted RDDs leak from any SparkEntry query (sweep)") {
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      fn(spark, dir).count()
      val cached = spark.sparkContext.getPersistentRDDs
      assert(cached.isEmpty,
        s"query $name left ${cached.size} cached RDDs pinned: " +
          cached.values.map(_.name).mkString(", "))
    }
  }

  test("table read plans: delta-free stays a bare scan; changelog pushes the _lsn filter") {
    import graft.cdc.{CdcPipeline, PipelineConfig}
    import graft.source.{BinlogConfig, BinlogGenerator}
    val cfg = BinlogConfig(numEvents = 600, numConversations = 6, segmentSize = 200)
    val src = tmpDir("binlog-planmor")
    BinlogGenerator.writeSegments(spark, cfg, src)

    // CoW table: read must stay a plain scan — NO merge overhead
    val cow = new CdcPipeline(PipelineConfig(src, tmpDir("table-plancow"),
      segmentsPerBatch = 1, numBuckets = 2))
    cow.runAll(spark)
    val pCow = plan(cow.table.read(spark))
    assert(!pCow.contains("Window") && !pCow.contains("Aggregate") &&
      !pCow.contains("Exchange"),
      s"delta-free read lost its bare-scan plan:\n${pCow.linesIterator.take(8).mkString("\n")}")

    // MOR table: read and point lookup merge inside the scan (one sorted
    // k-way merge per delta-carrying bucket) — no shuffle, no window, no
    // aggregate; the point lookup reads in the planning thread, a local
    // table scan
    val mor = new CdcPipeline(PipelineConfig(src, tmpDir("table-planmor"),
      segmentsPerBatch = 1, numBuckets = 2, mergeOnRead = true))
    mor.runAll(spark)
    assert(mor.table.hasDeltas(mor.table.loadCurrent()))
    val kMor = mor.table.read(spark)
      .agg(org.apache.spark.sql.functions.min("conv_id"))
      .collect()(0).getString(0)
    for ((what, df) <- Seq("read" -> mor.table.read(spark),
        "readKey" -> mor.table.readKey(spark, kMor))) {
      val pMor = plan(df)
      assert(!pMor.contains("Exchange") && !pMor.contains("Window") &&
        !pMor.contains("Aggregate"),
        s"MOR $what must merge without a shuffle:\n${pMor.linesIterator.take(10).mkString("\n")}")
      if (what == "read") assert(pMor.contains("BatchScan"), pMor)
      else assert(pMor.contains("LocalTableScan") && !pMor.contains("BatchScan"), pMor)
    }

    // changelog read: the _lsn cursor filter is among the DSv2 scan's
    // pushed filters (its description lists them as source filters)
    def pushed(p: String) = p.linesIterator.filter(_.contains("BatchScan"))
      .map(_.replaceAll("^.*pushed=", "")).mkString("\n")
    val pChg = pushed(plan(cow.table.readChanges(spark, sinceVersion = 1L)))
    assert(pChg.contains("GreaterThan(_lsn"), s"changelog _lsn filter not pushed: $pChg")

    // point lookup: bare scan (no merge/shuffle) with the key equality
    // pushed down to the parquet row groups, as the optimized plan's scan
    // describes it
    val k = cow.table.read(spark)
      .agg(org.apache.spark.sql.functions.min("conv_id"))
      .collect()(0).getString(0)
    val lookup = cow.table.readKey(spark, k)
    val pKey = plan(lookup)
    assert(!pKey.contains("Exchange") && !pKey.contains("Window"),
      s"point lookup should stay a bare filtered scan:\n${pKey.linesIterator.take(8).mkString("\n")}")
    val described = lookup.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        r.scan.description()
    }.mkString("\n")
    assert(described.contains("EqualTo(conv_id"),
      s"point-lookup key filter not pushed:\n$described")
  }

  /** What a block ran: Spark jobs, and the bytes their tasks wrote to
    * shuffle files.
    */
  private case class Work(jobs: Int, shuffleWriteBytes: Long)

  /** Runs `f` with a work counter: `f`'s argument runs a block and returns
    * the Spark jobs it started and their shuffle-write bytes. Both are
    * noise-free evidence that a commit does the same work: a change that
    * moves them changed the commit path. Only jobs carrying this thread's
    * tag count (broadcast and subquery threads inherit it), so stray jobs
    * from other suites cannot leak in.
    */
  private def withWorkCounter[T](f: ((=> Any) => Work) => T): T = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
    val sc = spark.sparkContext
    val tag = "graft.test.jobGuard"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val bytes = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(tag) != null) {
          jobs.incrementAndGet()
          e.stageIds.foreach(stages.add)
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null)
          bytes.addAndGet(e.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, "counted")
    try f { body =>
      org.apache.spark.ListenerBusDrain(sc)
      jobs.set(0); stages.clear(); bytes.set(0L)
      body
      org.apache.spark.ListenerBusDrain(sc)
      Work(jobs.get, bytes.get)
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
  }

  /** [[withWorkCounter]], counting jobs only. */
  private def withJobCounter[T](f: ((=> Any) => Int) => T): T =
    withWorkCounter(work => f(body => work(body).jobs))

  test("counter guard: Spark jobs per runOnce commit, copy-on-write and merge-on-read") {
    import graft.cdc.{CdcPipeline, PipelineConfig}
    import graft.source.{BinlogConfig, BinlogGenerator}
    val cfg = BinlogConfig(numEvents = 600, numConversations = 6, segmentSize = 200)
    val src = tmpDir("binlog-jobs")
    BinlogGenerator.writeSegments(spark, cfg, src)
    withJobCounter { jobsOf =>
      def jobsPerCommit(mergeOnRead: Boolean): Seq[Int] = {
        val p = new CdcPipeline(PipelineConfig(src, tmpDir("table-jobs"),
          segmentsPerBatch = 1, numBuckets = 2, mergeOnRead = mergeOnRead))
        p.ensureTable()
        Iterator.continually {
          var committed = false
          val n = jobsOf { committed = p.runOnce(spark).isDefined }
          if (committed) Some(n) else None
        }.takeWhile(_.isDefined).flatten.toSeq
      }
      val cow = jobsPerCommit(mergeOnRead = false)
      val mor = jobsPerCommit(mergeOnRead = true)
      // counts measured on this fixture: 6,7,7 while the commit ran a
      // broadcast of the batch keys and a table-row repartition stage;
      // 5,5,5 (merge-on-read 6,6,6) while prepare cached a window dedup
      // and aggregated over it; 2,2,2 since prepare is the batch's one map
      // stage and the write dedups in its tasks
      assert(cow == Seq(2, 2, 2), s"jobs per copy-on-write commit moved: $cow")
      assert(mor == Seq(2, 2, 2), s"jobs per merge-on-read commit moved: $mor")
    }
  }

  test("counter guard: an empty or fully redelivered batch commits after one job") {
    import graft.ops.MergeInto
    import spark.implicits._
    val t = new graft.table.ChronicleTable(tmpDir("table-nojobs"))
    t.create(graft.model.Model.physicalSchemaV1, numBuckets = 2)
    val rows = (0 until 40).map(k => (k.toLong, "U", f"conv-$k%03d", 0, "user",
        s"text $k", None: Option[String], new java.sql.Timestamp(k.toLong)))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    val dir = s"${tmpDir("batch-nojobs")}/batch"
    rows.write.parquet(dir)
    val batch = spark.read.parquet(dir)
    MergeInto(spark, t, batch, "s#0", "t")
    withJobCounter { jobsOf =>
      var r: graft.ops.MergeResult = null
      // the prepare's map stage finds no row (the filter is only known
      // empty at run time) or only rows at or below the source's mark
      assert(jobsOf { r = MergeInto(spark, t, batch.filter($"lsn" < 0), "s#1", "t") } == 1)
      assert(!r.skipped && r.addedFiles == 0)
      assert(jobsOf { r = MergeInto(spark, t, batch, "s#2", "t") } == 1)
      assert(!r.skipped && r.addedFiles == 0 && r.upserts == 0)
    }
    assert(t.loadCurrent().version == 3)
  }

  test("counter guard: runOnce commits compile no new classes after the first, copy-on-write and merge-on-read") {
    import graft.cdc.{CdcPipeline, PipelineConfig}
    import graft.source.{BinlogConfig, BinlogGenerator}
    import org.apache.spark.metrics.source.CodegenMetrics
    val cfg = BinlogConfig(numEvents = 800, numConversations = 6, segmentSize = 200)
    val src = tmpDir("binlog-compiles")
    BinlogGenerator.writeSegments(spark, cfg, src)
    def compilesPerCommit(mergeOnRead: Boolean): Seq[Long] = {
      val p = new CdcPipeline(PipelineConfig(src, tmpDir("table-compiles"),
        segmentsPerBatch = 1, numBuckets = 2, mergeOnRead = mergeOnRead))
      p.ensureTable()
      Iterator.continually {
        val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        p.runOnce(spark).map(_ => CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
      }.takeWhile(_.isDefined).flatten.toSeq
    }
    val cow = compilesPerCommit(mergeOnRead = false)
    val mor = compilesPerCommit(mergeOnRead = true)
    info(s"classes compiled per commit: copy-on-write $cow, merge-on-read $mor")
    assert(cow.size == 4 && mor.size == 4)
    // merge-on-read compiled 3 per commit while its mark was a column
    // filter's literal
    assert(cow.tail.forall(_ == 0), s"copy-on-write commits compile: $cow")
    assert(mor.tail.forall(_ == 0), s"merge-on-read commits compile: $mor")
  }

  test("counter guard: a merge-on-read lookup runs no job and a changelog poll one; planning builds no reader") {
    import graft.cdc.{CdcPipeline, PipelineConfig}
    import graft.source.{BinlogConfig, BinlogGenerator}
    import graft.table.FilePrune
    val cfg = BinlogConfig(numEvents = 600, numConversations = 6, segmentSize = 200)
    val src = tmpDir("binlog-readjobs")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new CdcPipeline(PipelineConfig(src, tmpDir("table-readjobs"),
      segmentsPerBatch = 1, numBuckets = 2, mergeOnRead = true))
    p.runAll(spark)
    val snap = p.table.loadCurrent()
    val k = p.table.read(spark)
      .agg(org.apache.spark.sql.functions.min("conv_id"))
      .collect()(0).getString(0)
    val bucket = graft.table.ChronicleTable.bucketOf(k, 2)
    assert(p.table.files(snap, FilePrune(Some(Set(bucket)), Some(k), Some(k))).exists(_.delta),
      "fixture: the looked-up key's bucket must carry deltas")
    withJobCounter { jobsOf =>
      var rows = 0
      // each ran 2 jobs while the merge was a key shuffle plus a window; the
      // lookup ran 1 while its one-task read was a Spark job
      assert(jobsOf { rows = p.table.readKey(spark, k).collect().length } == 0)
      assert(rows > 0)
      assert(jobsOf { p.table.readChanges(spark, 1L).collect() } == 1)
    }
    // a parquet reader broadcasts its Hadoop conf: broadcast ids taken
    // around physical planning count the readers it built. A distributed
    // scan builds none (it built two while the scan left its columnar
    // support to be asked per partition); a point lookup reads while it is
    // planned, through exactly one
    val sc = spark.sparkContext
    def readersPlanning(df: org.apache.spark.sql.DataFrame): Long = {
      val before = sc.broadcast(0)
      df.queryExecution.executedPlan
      val after = sc.broadcast(0)
      before.destroy(); after.destroy()
      after.id - before.id - 1
    }
    assert(readersPlanning(p.table.readChanges(spark, 1L)) == 0)
    assert(readersPlanning(p.table.readKey(spark, k)) == 1)
  }

  test("counter guard: a change-stream tail batch over many small files packs them into few partitions") {
    import graft.ops.MergeInto
    import spark.implicits._
    val root = tmpDir("table-stream-parts")
    val t = new graft.table.ChronicleTable(root)
    t.create(graft.model.Model.physicalSchemaV1, numBuckets = 8)
    // 6 merge-on-read commits over 48 keys: one small delta file per
    // bucket per commit, every one of them past the cursor (version 0)
    (0 until 6).foreach { b =>
      val rows = (0 until 48).map(k => (b * 100L + k, "U", f"k-$k%02d", 0,
        "user", s"text $b $k", None: Option[String], new java.sql.Timestamp(0L)))
        .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
      MergeInto(spark, t, rows, s"s#$b", "t", mergeOnRead = true)
    }
    val snap = t.loadCurrent()
    val files = t.filesOf(snap).size
    assert(files == 48, s"fixture: $files files")
    val ms = graft.changes.DefaultSource.microBatchStream(snap.schema, root,
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("path", root)))
    val parts = ms.planInputPartitions(ms.deserializeOffset("""{"version":0}"""),
      ms.deserializeOffset(s"""{"version":${snap.version}}"""))
    // one partition per file (48) while the stream read parquet itself
    assert(parts.flatMap(partitionPaths).length == files)
    assert(parts.length == 4, s"${parts.length} input partitions for $files files")
  }

  /** The executed plans of the queries `body` runs on this session. */
  private def plansOf(body: => Any): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    plans.toArray(Array.empty[SparkPlan]).toSeq
  }

  /** The stages of the jobs `body` runs, as they completed. */
  private def stagesOf(body: => Any): Seq[org.apache.spark.scheduler.StageInfo] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, StageInfo}
    val stages = new java.util.concurrent.ConcurrentLinkedQueue[StageInfo]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        stages.add(e.stageInfo)
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    stages.toArray(Array.empty[StageInfo]).toSeq
  }

  /** Asserts the stages of a copy-on-write commit read table files once,
    * through the graft scan (the engine's only DataSource v2 read, a
    * `DataSourceRDD`; a raw parquet read is a `FileScanRDD`), in one stage
    * that shuffles nothing and runs `tasks` tasks.
    */
  private def assertTableRowsStay(what: String,
      stages: Seq[org.apache.spark.scheduler.StageInfo], tasks: Int): Unit = {
    def shuffled(s: org.apache.spark.scheduler.StageInfo) =
      s.taskMetrics.shuffleWriteMetrics.recordsWritten
    def show(s: org.apache.spark.scheduler.StageInfo) = s"stage ${s.stageId} " +
      s"(${s.numTasks} tasks, ${shuffled(s)} rows shuffled): " +
      s.rddInfos.map(_.name).mkString(", ")
    val all = stages.map(show).mkString("\n")
    assert(!stages.exists(_.rddInfos.exists(_.name == "FileScanRDD")),
      s"$what reads files outside the graft scan:\n$all")
    val reads = stages.filter(_.rddInfos.exists(_.name == "DataSourceRDD"))
    assert(reads.size == 1, s"$what: stages reading the table:\n$all")
    assert(shuffled(reads.head) == 0, s"$what: table rows cross an exchange:\n$all")
    assert(reads.head.numTasks == tasks,
      s"$what: the write runs one task per touched bucket:\n$all")
  }

  /** `plans` read table files only through the graft scan, and no window
    * sits above a table read (the batch's own dedup window may remain).
    */
  private def assertOneMerge(what: String,
      plans: Seq[org.apache.spark.sql.execution.SparkPlan],
      readsInPlans: Boolean = true): Unit = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    import org.apache.spark.sql.execution.window.WindowExec
    val h = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    def isRead(p: SparkPlan) =
      p.isInstanceOf[BatchScanExec] || p.isInstanceOf[FileSourceScanExec]
    val reads = plans.flatMap(h.collect(_) { case p if isRead(p) => p })
    assert(reads.nonEmpty == readsInPlans,
      s"$what: ${if (readsInPlans) "no" else "a"} table read in its plans")
    reads.foreach {
      case b: BatchScanExec if b.scan.isInstanceOf[graft.sql.GraftScan] => ()
      case other => fail(s"$what reads table files outside the graft scan: $other")
    }
    val windows = plans.flatMap(h.collect(_) {
      case w: WindowExec if h.find(w)(isRead).isDefined => w
    })
    assert(windows.isEmpty, s"$what merges table rows through a window:\n" +
      windows.map(_.treeString).mkString("\n"))
  }

  test("counter guard: a merge-on-read compaction and an unordered copy-on-write commit over a delta bucket merge inside the scan") {
    import graft.cdc.{CdcPipeline, PipelineConfig}
    import graft.ops.{Compaction, MergeInto}
    import graft.source.{BinlogConfig, BinlogGenerator}
    import spark.implicits._
    val cfg = BinlogConfig(numEvents = 600, numConversations = 6, segmentSize = 200)
    val src = tmpDir("binlog-compactjobs")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val mor = new CdcPipeline(PipelineConfig(src, tmpDir("table-compactjobs"),
      segmentsPerBatch = 1, numBuckets = 2, mergeOnRead = true))
    mor.runAll(spark)
    assert(mor.table.hasDeltas(mor.table.loadCurrent()))

    val t = new graft.table.ChronicleTable(tmpDir("table-cowdeltajobs"))
    t.create(graft.model.Model.physicalSchemaV1, numBuckets = 2)
    def batch(keys: Range, lsn0: Long) = keys.map(k =>
      (lsn0 + k, "U", f"conv-$k%03d", 0, "user", s"text ${lsn0 + k}",
        None: Option[String], new java.sql.Timestamp(1704067200000L + k)))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    MergeInto(spark, t, batch(0 until 40, 0L), "u#0", "t", orderedSource = false)
    MergeInto(spark, t, batch(0 until 20, 100L), "u#1", "t", orderedSource = false,
      mergeOnRead = true)
    assert(t.filesOf(t.loadCurrent()).count(_.delta) == 2,
      "fixture: both buckets must carry a delta")

    withJobCounter { jobsOf =>
      var compact = Seq.empty[org.apache.spark.sql.execution.SparkPlan]
      val nCompact = jobsOf { compact = plansOf(Compaction(spark, mor.table)) }
      var cow = Seq.empty[org.apache.spark.sql.execution.SparkPlan]
      var cowStages = Seq.empty[org.apache.spark.scheduler.StageInfo]
      val nCow = jobsOf { cowStages = stagesOf { cow = plansOf(MergeInto(spark, t,
        batch(10 until 30, 200L), "u#2", "t", orderedSource = false)) } }
      assertOneMerge("merge-on-read compaction", compact)
      // the commit reads the table inside its write job, through the rows
      // of the scan's plan: the plans hold no table read, the stages do
      assertOneMerge("unordered copy-on-write commit", cow, readsInPlans = false)
      assertTableRowsStay("unordered copy-on-write commit", cowStages, tasks = 2)
      // measured on these fixtures: 3 and 13 while the rewrites read raw
      // parquet and merged through a key shuffle (a window; the guard's
      // max-per-key aggregate too), 2 and 11 since they merge in the scan,
      // 2 and 5 since the commit merges each bucket in its write task,
      // 2 and 2 since the batch's one shuffle also carries its dedup
      assert(nCompact == 2, s"jobs of a merge-on-read compaction moved: $nCompact")
      assert(nCow == 2, s"jobs of an unordered copy-on-write commit moved: $nCow")
    }
    assert(!mor.table.hasDeltas(mor.table.loadCurrent()))
    assert(!t.hasDeltas(t.loadCurrent()))
    val rows = t.read(spark).select("conv_id", "_lsn").as[(String, Long)].collect().toMap
    assert(rows == (0 until 40).map(k => f"conv-$k%03d" ->
      (if (k >= 10 && k < 30) 200L + k else if (k < 10) 100L + k else k.toLong)).toMap)
  }

  test("counter guard: a copy-on-write commit's shuffle writes do not grow with the table") {
    import graft.ops.MergeInto
    import spark.implicits._
    def rows(keys: Seq[Int], lsn0: Long) = keys.map(k =>
      (lsn0 + k, "U", f"conv-$k%05d", 0, "user", s"text ${lsn0 + k}",
        None: Option[String], new java.sql.Timestamp(1704067200000L + k)))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    withWorkCounter { workOf =>
      // the same 50-row batch, spread over the key range of a table of
      // `tableRows` rows, so the commit rewrites every file of the table
      def commitBytes(tableRows: Int): Long = {
        val t = new graft.table.ChronicleTable(tmpDir("table-shufflebytes"))
        t.create(graft.model.Model.physicalSchemaV1, numBuckets = 2)
        MergeInto(spark, t, rows(0 until tableRows, 0L), "w#0", "t")
        val w = workOf { MergeInto(spark, t, rows(0 until 1000 by 20, 100000L), "w#1", "t") }
        assert(t.loadCurrent().totalRows == tableRows)
        w.shuffleWriteBytes
      }
      val small = commitBytes(1000)
      val large = commitBytes(4000)
      info(s"shuffle-write bytes: $small at 1000 table rows, $large at 4000")
      assert(small > 0)
      // 2.6x while the commit shuffled the rows it rewrote
      assert(large <= small, s"shuffle bytes grew with the table: $small -> $large")
    }
  }

  test("counter guard: Spark jobs of a commit adding more than 256 files") {
    import graft.cdc.{CdcPipeline, PipelineConfig}
    import graft.ops.{MergeInto, Rescale}
    import spark.implicits._
    val p = new CdcPipeline(PipelineConfig("", tmpDir("table-jobs-wide"), numBuckets = 2))
    p.ensureTable()
    MergeInto(spark, p.table, (0 until 2000).map(k =>
      (k.toLong, "I", f"conv-$k%05d", 0, "user", s"text $k", None: Option[String],
        new java.sql.Timestamp(1704067200000L + k)))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts"), "w#0", "t")
    withJobCounter { jobsOf =>
      var added = 0
      val n = jobsOf { added = Rescale(spark, p.table, 300).addedFiles }
      assert(added > 256, s"fixture must add more than 256 files, added $added")
      // measured on this fixture: 4 while file stats came from a post-write
      // footer pass, which above 256 files ran as its own distributed
      // (repartitioned) read of the footers; 2 since the write reports them
      assert(n == 2, s"jobs of a 300-bucket rescale moved: $n")
    }
  }

  test("approx profile tracks the exact profile within sketch error") {
    val exact = RelationalQueries.eventProfile(spark, dir).collect()
      .map(r => r.getAs[String]("event_type") -> r).toMap
    RelationalQueries.eventProfileApprox(spark, dir).collect().foreach { a =>
      val e = exact(a.getAs[String]("event_type"))
      assert(a.getAs[Long]("n_events") == e.getAs[Long]("n_events"))
      assert(a.getAs[Long]("min_e2") == e.getAs[Long]("min_e2"))
      assert(a.getAs[Long]("max_e2") == e.getAs[Long]("max_e2"))
      // HLL++ relative error ~2-5%; t-digest median close on this data
      val du = math.abs(a.getAs[Long]("n_users") - e.getAs[Long]("n_users")).toDouble
      assert(du / e.getAs[Long]("n_users") <= 0.1,
        s"approx distinct too far: $du vs ${e.getAs[Long]("n_users")}")
      val dm = math.abs(a.getAs[Long]("median_value_e2") - e.getAs[Long]("median_value_e2")).toDouble
      assert(dm / math.max(1, e.getAs[Long]("median_value_e2")) <= 0.1)
    }
  }

  test("an unordered batch with more keys than the touched table converges") {
    import spark.implicits._
    val table = new graft.table.ChronicleTable(tmpDir("plan-unordered"))
    table.create(graft.model.Model.physicalSchemaV1, numBuckets = 2)
    val mk = (i: Long, lsn: Long, text: String) =>
      (lsn, if (text == null) "D" else "U", s"conv-$i", 0, "user", text,
        None: Option[String], new java.sql.Timestamp(0L))
    def df(rows: Seq[(Long, String, String, Int, String, String, Option[String], java.sql.Timestamp)]) =
      rows.toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    graft.ops.MergeInto(spark, table, df((0L until 40L).map(i => mk(i, i, s"v0-$i"))),
      "u0", "plan", orderedSource = false)
    // 100 keys against 40 table rows: updates, deletes, stale updates that
    // lose to the table's newer row, and 60 new keys
    val upd = (0L until 20L).map(i => mk(i, 100L + i, s"v1-$i")) ++
      (20L until 30L).map(i => mk(i, 100L + i, null)) ++
      (30L until 35L).map(i => mk(i, i - 30L, s"stale-$i")) ++
      (40L until 100L).map(i => mk(i, 100L + i, s"v1-$i"))
    graft.ops.MergeInto(spark, table, df(upd), "u1", "plan", orderedSource = false)
    val state = table.read(spark)
      .filter(!org.apache.spark.sql.functions.col("_deleted"))
      .select("conv_id", "text").as[(String, String)].collect().toMap
    val expected = ((0L until 20L) ++ (40L until 100L)).map(i => s"conv-$i" -> s"v1-$i") ++
      (30L until 40L).map(i => s"conv-$i" -> s"v0-$i")
    assert(state == expected.toMap)
  }

  test("a copy-on-write commit shuffles only the batch: no exchange above the table scan") {
    import spark.implicits._
    val table = new graft.table.ChronicleTable(tmpDir("plan-merge"))
    table.create(graft.model.Model.physicalSchemaV1, numBuckets = 4)
    val mk = (i: Long, lsn: Long) => (lsn, "U", f"conv-$i%04d", 0, "user", s"t$lsn",
      None: Option[String], new java.sql.Timestamp(0L))
    def df(rows: Seq[(Long, String, String, Int, String, String, Option[String], java.sql.Timestamp)]) =
      rows.toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    graft.ops.MergeInto(spark, table, df((0L until 400L).map(i => mk(i, i))), "b#0", "plan")
    val touched = table.filesOf(table.loadCurrent()).map(_.bucket).distinct.size
    assert(touched == 4, s"fixture: $touched buckets")
    var r: graft.ops.MergeResult = null
    var plans = Seq.empty[org.apache.spark.sql.execution.SparkPlan]
    val stages = stagesOf { plans = plansOf { r = graft.ops.MergeInto(spark, table,
      df((0L until 400L by 10L).map(i => mk(i, 1000L + i))), "b#1", "plan") } }
    assert(!r.skipped && r.rewrittenFiles == 4 && r.addedFiles == 4)
    assertTableRowsStay("copy-on-write commit", stages, tasks = touched)
    // the write plan sorts nothing: the merged rows arrive sorted
    val sorts = plans.flatMap(_.collect { case s: org.apache.spark.sql.execution.SortExec => s })
    assert(sorts.forall(!_.child.treeString.contains("ExistingRDD")),
      s"the write re-sorts the merged rows:\n${plans.map(_.treeString).mkString("\n")}")
  }
}
