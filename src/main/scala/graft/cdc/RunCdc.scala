package graft.cdc

import graft.source.{BinlogConfig, BinlogGenerator}
import org.apache.spark.sql.SparkSession

/** spark-submit entry point for the CDC engine (the reference's
  * `SuroServer.main` with its `-m/-s/-i` config trio,
  * SuroServer.java:60-141, re-shaped as subcommands).
  *
  * {{{
  * spark-submit --class graft.cdc.RunCdc ... \
  *   generate <binlogDir> <numEvents> <numConversations> <segmentSize> [evolveAtLsn] [dupPct]
  *   run      <binlogDir> <tableRoot> [segmentsPerBatch] [numBuckets] [routeFilterFile]
  *   stream   <binlogDir> <tableRoot> <checkpointDir> [maxFilesPerTrigger]
  *   state    <tableRoot> [version]
  *   get      <tableRoot> <convId>
  *   lineage  <tableRoot>
  * }}}
  */
object RunCdc {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "subcommand required: generate|run|stream|state|lineage")
    val master = sys.env.getOrElse("SPARK_MASTER", "local[4]")
    val spark = graft.util.Sessions.tuneForMaster(SparkSession.builder()
      .master(master), master)
      .appName("graft-cdc")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args) finally spark.stop()
  }

  def run(spark: SparkSession, args: Array[String]): Unit = args(0) match {
    case "generate" =>
      val dir = args(1)
      val cfg = BinlogConfig(
        numEvents = args(2).toLong,
        numConversations = args(3).toInt,
        segmentSize = args(4).toLong,
        evolveAtLsn = if (args.length > 5) args(5).toLong else Long.MaxValue,
        dupPct = if (args.length > 6) args(6).toInt else 1,
        filesPerSegment = if (args.length > 7) args(7).toInt else 8,
        zipfS = if (args.length > 8) args(8).toDouble else 1.2)
      BinlogGenerator.writeSegments(spark, cfg, dir)
      println(s"generated ${cfg.numEvents} events in ${cfg.numSegments} segments at $dir")

    case "run" =>
      // GRAFT_STATUS_PORT=p: serve /healthcheck + /stats during the drain
      sys.env.get("GRAFT_STATUS_PORT").foreach(p =>
        StatusServer.start(args(2), p.toInt))
      // GRAFT_MOR=1: merge-on-read writes (delta files, read-time LWW;
      // fold with `compact` or maintenanceEveryBatches)
      val p = new CdcPipeline(PipelineConfig(args(1), args(2),
        segmentsPerBatch = if (args.length > 3) args(3).toInt else 4,
        numBuckets = if (args.length > 4) args(4).toInt else 16,
        routeFilterFile = if (args.length > 5) Some(args(5)) else None,
        mergeOnRead = sys.env.get("GRAFT_MOR").contains("1")))
      p.verbose = true
      val t0 = System.nanoTime()
      // GRAFT_PIPELINED=1: overlap next batch's dedup with current apply;
      // GRAFT_MAX_BATCHES=k: stop after k batches (partial drains for A/B
      // phase timing)
      val maxB = sys.env.get("GRAFT_MAX_BATCHES").map(_.toInt).getOrElse(Int.MaxValue)
      val n =
        if (sys.env.get("GRAFT_PIPELINED").contains("1")) p.runAllPipelined(spark, maxB)
        else p.runAll(spark, maxB)
      val sec = (System.nanoTime() - t0) / 1e9
      val snap = p.table.loadCurrent()
      println(f"applied $n batches in $sec%.1fs; snapshot v${snap.version} " +
        f"rows=${snap.totalRows} hwm=${snap.hwmLsn} files=${snap.numFiles}")

    case "stream" =>
      sys.env.get("GRAFT_STATUS_PORT").foreach(p =>
        StatusServer.start(args(2), p.toInt))
      // the drain through the format("graft") sink; GRAFT_MOR=1 for
      // merge-on-read epochs
      val p = new CdcPipeline(PipelineConfig(args(1), args(2),
        mergeOnRead = sys.env.get("GRAFT_MOR").contains("1")))
      val q = p.startStream(spark, args(3),
        maxFilesPerTrigger = if (args.length > 4) args(4).toInt else 8)
      q.awaitTermination()
      val snap = p.table.loadCurrent()
      println(s"stream drained; snapshot v${snap.version} rows=${snap.totalRows}")

    case "state" =>
      val p = new CdcPipeline(PipelineConfig("", args(1)))
      val df =
        if (args.length > 2 && args(2).startsWith("@")) {
          // timestamp time travel: @<epoch-millis> or @<ISO-8601 instant>
          val ts = graft.table.ChronicleTable.instantMillis(args(2))
          val v = p.table.versionAsOf(ts)
          println(s"as-of ts=$ts resolves to v$v")
          p.table.read(spark, p.table.loadVersion(v))
        } else if (args.length > 2)
          p.table.read(spark, p.table.loadVersion(args(2).toLong))
        else p.currentState(spark)
      println(s"rows=${df.count()}")
      df.show(20, truncate = false)

    case "get" =>
      // point lookup: one conversation's visible turns, planned from
      // metadata (one bucket manifest; scan = that bucket's files only)
      val t = new graft.table.ChronicleTable(args(1))
      val df = t.readKey(spark, args(2)).orderBy("turn_idx")
      println(s"rows=${df.count()} (bucket ${graft.table.ChronicleTable
        .bucketOf(args(2), t.loadCurrent().numBuckets)})")
      df.show(50, truncate = false)

    case "lineage" =>
      val p = new CdcPipeline(PipelineConfig("", args(1)))
      p.lineage(spark).show(100, truncate = false)

    // export <tableRoot> <outDir> [version|@instant]: hand the visible
    // state (no tombstones, no system columns) to a training job or an
    // external warehouse as plain sorted parquet
    case "export" =>
      val table = new graft.table.ChronicleTable(args(1))
      val snap =
        if (args.length > 3 && args(3).startsWith("@"))
          table.loadVersion(table.versionAsOf(
            graft.table.ChronicleTable.instantMillis(args(3))))
        else if (args.length > 3) table.loadVersion(args(3).toLong)
        else table.loadCurrent()
      val n = table.exportSnapshot(spark, args(2), snap)
      println(s"exported $n rows of v${snap.version} to ${args(2)}")

    // changes <tableRoot> <sinceVersion>: incremental changelog read — the
    // net row changes since a retained snapshot (downstream-stage tailing;
    // the reference's SuroSink chaining, SuroSink.java:15-38)
    case "changes" =>
      val table = new graft.table.ChronicleTable(args(1))
      // `@<epoch-millis|ISO-instant>` = changes since the snapshot live
      // at that instant (timestamp cursor, as `state @…`)
      val since =
        if (args(2).startsWith("@")) {
          val ts = graft.table.ChronicleTable.instantMillis(args(2))
          val v = table.versionAsOf(ts)
          println(s"as-of ts=$ts resolves to v$v")
          v
        } else args(2).toLong
      val df = table.readChanges(spark, since)
      println(s"rows=${df.count()} since v$since " +
        s"(hwm ${table.loadVersion(since).hwmLsn} -> " +
        s"${table.loadCurrent().hwmLsn})")
      df.orderBy("conv_id", "turn_idx").show(20, truncate = false)

    // stats <tableRoot>: operational metrics of the current snapshot (the
    // reference's /surosinkstat REST surface, SinkStat.java:29-41, as a
    // metadata-only report)
    case "stats" =>
      val table = new graft.table.ChronicleTable(args(1))
      val s = table.loadCurrent()
      // ledger units the sources committed: batches, stream epochs, or
      // segments / upstream versions for range keys
      val units = graft.table.ChronicleTable.committedUnits(s).values.sum
      println(s"version=${s.version} rows=${s.totalRows} files=${s.numFiles} " +
        s"manifests=${s.manifestList.size} hwmLsn=${s.hwmLsn} units=$units " +
        s"schema=${s.schema.fieldNames.mkString(",")}")
      // the per-bucket report comes straight off the manifest LIST — no
      // bucket manifest is opened (metadata-only, O(buckets))
      s.manifestList.sortBy(_.bucket).foreach { m =>
        println(f"  bucket=${m.bucket}%-4d files=${m.numFiles}%-4d rows=${m.rows}%-8d " +
          s"keys=[${m.minKey} .. ${m.maxKey}]" +
          (if (m.deltaFiles > 0) s" deltas=${m.deltaFiles}" else ""))
      }
      // live rates off the metrics ledger tail (the /surosinkstat numbers,
      // SinkStat.java:29-41; the same fold /stats serves) — per mode, over
      // the last 20 lines; every change commit of every writer writes one
      val rates = Metrics.recentRates(s"${args(1)}/metrics")
      if (rates.nonEmpty) {
        println("recent rates (last 20 per mode):")
        rates.toSeq.sortBy(_._1).foreach { case (mode, r) =>
          println(s"  mode=$mode batches=${r.batches} rows=${r.rows} " +
            s"rows/sec=${r.rowsPerSec.getOrElse("null")}")
        }
      }

    // rescale <tableRoot> <newNumBuckets>: full-rewrite bucket-count
    // change (Iceberg's partition-spec evolution for our one-transform
    // layout); folds MOR deltas in the same pass
    case "rescale" =>
      val table = new graft.table.ChronicleTable(args(1))
      val r = graft.ops.Rescale(spark, table, args(2).toInt)
      println(s"rescaled ${r.oldNumBuckets} -> ${r.newNumBuckets} buckets: " +
        s"${r.removedFiles} files -> ${r.addedFiles}; now v${r.snapshot.version}")

    // expire <tableRoot> [keepLast]: snapshot retention (Iceberg's
    // expire_snapshots; the reference's delete-after-upload + disk-queue cap,
    // RemoteFileSink.java:151-216, FileBlockingQueue.java:83-150)
    case "expire" =>
      val table = new graft.table.ChronicleTable(args(1))
      val keep = if (args.length > 2) args(2).toInt else 5
      val (versions, files) = table.expireSnapshots(keep)
      println(s"expired ${versions.size} snapshots, deleted ${files.size} data files; " +
        s"retained versions ${table.versions.mkString(",")}")

    case "compact" =>
      val table = new graft.table.ChronicleTable(args(1))
      val r = graft.ops.Compaction(spark, table,
        maxFilesPerBucket = if (args.length > 2) args(2).toInt else 4,
        tombstoneHorizonLsn =
          if (args.length > 3) args(3).toLong else Long.MinValue)
      println(s"compacted ${r.compactedBuckets} buckets: " +
        s"${r.removedFiles} files -> ${r.addedFiles}, " +
        s"dropped ${r.droppedRows} superseded/tombstone rows; now v${r.snapshot.version}")

    // route <binlogDir> <routesJsonFile> <outDir>: fan the change stream out
    // to per-sink parquet dirs (outDir/__sink=<name>/) through the filter
    // DSL in ONE scan + ONE write job (the reference's router ->
    // LocalFileSink path, MessageRouter.java:60-102).
    case "route" =>
      val routes = graft.routing.Router.parseRoutes(
        java.nio.file.Files.readString(java.nio.file.Paths.get(args(2))))
      val events = spark.read.parquet(args(1))
        .select(graft.ops.MergeInto.changeColumns: _*)
      val counts = graft.routing.Router.fanoutWrite(events,
        graft.routing.RoutingTable("conv_id", routes), args(3))
      counts.toSeq.sortBy(_._1).foreach { case (sink, n) =>
        println(s"sink $sink: $n events")
      }

    // routedrun <binlogDir> <tableRoot> <routesJsonFile> [segmentsPerBatch]
    // [numBuckets]: the multi-sink streaming pipeline — one input fanning
    // out to N ChronicleTables with per-sink ledgers.
    case "routedrun" =>
      // the routes JSON is passed as a LIVE file: edits between batches
      // hot-add/remove sinks (the reference's dynamic-property sink swap)
      val p = new MultiSinkPipeline(PipelineConfig(args(1), args(2),
        segmentsPerBatch = if (args.length > 4) args(4).toInt else 4,
        numBuckets = if (args.length > 5) args(5).toInt else 16),
        routes = Nil, routesFile = Some(args(3)))
      val n = p.runAll(spark)
      println(s"applied $n batches to ${p.sinkNames.size} sinks")
      p.sinkNames.foreach { s =>
        val snap = p.sinkTable(s).loadCurrent()
        println(s"  sink $s: v${snap.version} rows=${snap.totalRows}")
      }

    // chain <srcTableRoot> <dstTableRoot> [numBuckets]: ship the upstream
    // table's net changes into a downstream ChronicleTable (pipeline
    // chaining, the reference's SuroSink -> next suro server,
    // SuroSink.java:15-38) — exactly-once, per-source marks preserved,
    // changelog file-pruned; rerun to tail again
    case "chain" =>
      val src = new graft.table.ChronicleTable(args(1))
      val dst = new graft.table.ChronicleTable(args(2))
      val nb = if (args.length > 3) args(3).toInt else 16
      val polls = Chain.drain(spark, src, dst, nb,
        mergeOnRead = sys.env.get("GRAFT_MOR").contains("1"),
        maintainEveryPolls =
          sys.env.getOrElse("GRAFT_CHAIN_MAINTAIN", "0").toInt,
        // chunked-bootstrap slice budget (bytes); tiny values force many
        // slices for drills — see Chain.pollOnce
        bootstrapSliceBytes = sys.env.getOrElse("GRAFT_BOOTSTRAP_SLICE_BYTES",
          Chain.DefaultBootstrapSliceBytes.toString).toLong)
      val snap = dst.loadCurrent()
      println(s"chained $polls polls; downstream v${snap.version} " +
        s"rows=${snap.totalRows} cursor=${snap.cursors(Chain.cursorKey(args(1)))}")

    // follow <srcTableRoot> <dstTableRoot> [numBuckets] [intervalMs]: the
    // always-on chain — a Structured Streaming metronome drains the
    // upstream changelog every interval until the process is stopped
    // (exactly-once; the cursor rides the downstream ledger, so kill and
    // rerun resumes mid-stream)
    case "follow" =>
      val src = new graft.table.ChronicleTable(args(1))
      val dst = new graft.table.ChronicleTable(args(2))
      val nb = if (args.length > 3) args(3).toInt else 16
      val interval = if (args.length > 4) args(4).toLong else 1000L
      val q = Chain.follow(spark, src, dst, nb, interval,
        mergeOnRead = sys.env.get("GRAFT_MOR").contains("1"),
        maintainEveryTriggers =
          sys.env.getOrElse("GRAFT_CHAIN_MAINTAIN", "0").toInt)
      println(s"following ${args(1)} -> ${args(2)} every ${interval}ms " +
        s"(query ${q.name}); Ctrl-C to stop")
      q.awaitTermination()

    // followstream <srcTableRoot> <dstTableRoot> [numBuckets] [intervalMs]
    // [maxVersionsPerTrigger]: the always-on chain driven by the native
    // change-stream source (format "graft.changes") — offsets ride Spark's
    // own checkpoint, each micro-batch is a manifest-pruned version range,
    // and maxVersionsPerTrigger rate-limits catch-up
    case "followstream" =>
      val src = new graft.table.ChronicleTable(args(1))
      val dst = new graft.table.ChronicleTable(args(2))
      val nb = if (args.length > 3) args(3).toInt else 16
      val interval = if (args.length > 4) args(4).toLong else 1000L
      val maxV = if (args.length > 5) args(5).toLong else Long.MaxValue
      val q = Chain.followStream(spark, src, dst, nb, interval,
        mergeOnRead = sys.env.get("GRAFT_MOR").contains("1"),
        maxVersionsPerTrigger = maxV,
        bootstrapSliceBytes = sys.env.getOrElse("GRAFT_BOOTSTRAP_SLICE_BYTES",
          Chain.DefaultBootstrapSliceBytes.toString).toLong)
      println(s"stream-following ${args(1)} -> ${args(2)} every " +
        s"${interval}ms (query ${q.name}); Ctrl-C to stop")
      q.awaitTermination()

    // syncstream <srcTableRoot> <dstTableRoot> [numBuckets]: one-shot
    // catch-up through the change-stream source (Trigger.AvailableNow) —
    // drains every version committed before the call, then exits; shares
    // followstream's checkpoint so the two can alternate
    case "syncstream" =>
      val src = new graft.table.ChronicleTable(args(1))
      val dst = new graft.table.ChronicleTable(args(2))
      val nb = if (args.length > 3) args(3).toInt else 16
      Chain.syncStream(spark, src, dst, nb,
        mergeOnRead = sys.env.get("GRAFT_MOR").contains("1"),
        bootstrapSliceBytes = sys.env.getOrElse("GRAFT_BOOTSTRAP_SLICE_BYTES",
          Chain.DefaultBootstrapSliceBytes.toString).toLong)
      val snap = dst.loadCurrent()
      println(s"synced ${args(1)} -> ${args(2)}; downstream v${snap.version} " +
        s"rows=${snap.totalRows}")

    // serve <tableRoot> <port>: standalone live status endpoint (the
    // reference's StatusServer/HealthCheck, StatusServer.java:46-56) —
    // /healthcheck and /stats off the table metadata + metrics ledger,
    // no Spark jobs
    case "serve" =>
      val srv = StatusServer.start(args(1), args(2).toInt)
      println(s"status server on :${srv.getAddress.getPort} " +
        s"(/healthcheck, /stats) for ${args(1)} — ctrl-c to stop")
      Thread.currentThread().join()

    // ingest <sourceDir> <port> [segmentEvents] [tableRoot] [maxPending]
    // [minFreeBytes]:
    // network intake in front of a binlog dir (POST /ingest JSON-lines with
    // X-Graft-Crc32; /roll; /ingeststat) — the reference's Thrift ingest
    // endpoint on loopback HTTP (ThriftServer.java:62-104). Pair with a
    // `run`/`stream` drain tailing the same dir.
    case "ingest" =>
      val srv = IngestServer.start(IngestConfig(
        sourceDir = args(1),
        segmentEvents = if (args.length > 3) args(3).toLong else 1000L,
        tableRoot = if (args.length > 4) Some(args(4)) else None,
        maxPendingSegments = if (args.length > 5) args(5).toInt else 0,
        minFreeBytes = if (args.length > 6) args(6).toLong else 0L),
        args(2).toInt)
      println(s"ingest server on :${srv.port} (/ingest, /roll, " +
        s"/ingeststat) -> ${args(1)} — ctrl-c to stop")
      sys.addShutdownHook(srv.stop())
      Thread.currentThread().join()

    // multisource <sourcesJsonFile> <tableRoot> [spb] [buckets]: N binlog
    // sources -> ONE table, the source set re-read from the file each
    // drain cycle (the reference's InputManager.set hot add/remove —
    // InputManager.java:36-56). Edit the file between (or during) runs to
    // add/remove sources; cursors and marks stay per source.
    case "multisource" =>
      val p = new MultiSourcePipeline(args(2), args(1),
        segmentsPerBatch = if (args.length > 3) args(3).toInt else 4,
        numBuckets = if (args.length > 4) args(4).toInt else 16,
        mergeOnRead = sys.env.get("GRAFT_MOR").contains("1"))
      val n = p.runAll(spark)
      val snap = p.table.loadCurrent()
      println(s"multisource applied $n batches from " +
        s"${p.currentSources().map(_._1).mkString(",")}; snapshot " +
        s"v${snap.version} rows=${snap.totalRows} cursors=${snap.cursors}")

    // sigindex <docsTableRoot> <indexRoot> [buckets]: advance the
    // engine-maintained MinHash/LSH signature index (sig + band
    // ChronicleTables under <indexRoot>/{sigs,bands}) to the document
    // table's current version via its changelog — exactly-once, rerun
    // prints "0 polls" when caught up
    case "sigindex" =>
      val docs = new graft.table.ChronicleTable(args(1))
      val sigs = new graft.table.ChronicleTable(s"${args(2)}/sigs")
      val bands = new graft.table.ChronicleTable(s"${args(2)}/bands")
      val nb = if (args.length > 3) args(3).toInt else 16
      val polls = graft.dedup.SignatureIndex.update(spark, docs, sigs, bands, nb)
      println(s"sigindex applied $polls polls; sigs v${sigs.loadCurrent().version} " +
        s"rows=${sigs.loadCurrent().totalRows}, bands " +
        s"v${bands.loadCurrent().version} rows=${bands.loadCurrent().totalRows}")

    // sql <warehouseRoot> <statement>: ad-hoc SQL over every ChronicleTable
    // under the root via the graft catalog (graft.sql.GraftCatalog,
    // registered as `g`) — SELECT with time travel, CREATE TABLE,
    // INSERT INTO of change rows, and CALL maintenance procedures:
    //   sql /warehouse "SELECT count(*) FROM g.mytable VERSION AS OF 3"
    //   sql /warehouse "CALL g.compact(table => 'mytable')"
    case "sql" =>
      spark.conf.set("spark.sql.catalog.g", "graft.sql.GraftCatalog")
      spark.conf.set("spark.sql.catalog.g.root", args(1))
      spark.sql(args(2)).show(100, truncate = false)

    case other => sys.error(s"unknown subcommand: $other")
  }
}
