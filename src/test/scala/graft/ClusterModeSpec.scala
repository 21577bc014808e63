package graft

import graft.cdc.{CdcPipeline, PipelineConfig}
import graft.source.{BinlogConfig, BinlogGenerator}
import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** The same replay-equals-oracle contract as CdcPipelineSpec, but on a
  * `local-cluster` master: REAL executor JVMs (serialization across
  * process boundaries, netty shuffle, per-executor heaps). `local[n]`
  * silently tolerates closures and task state that only live in the
  * driver; the rule's deployment shape (spark-submit on a multi-executor
  * cluster) does not — this suite is the spec-level proof that every
  * drain path survives it.
  *
  * Forked into its OWN test JVM (build.sbt testGrouping): Spark allows
  * one SparkContext per JVM and every other suite shares the local[4]
  * session.
  */
class ClusterModeSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    val master = "local-cluster[2,2,1536]"
    val s = graft.util.Sessions.tuneForMaster(
        SparkSession.builder().master(master), master)
      .config("spark.executor.memory", "1536m")
      .config("spark.locality.wait", "0")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-cluster-test")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

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

  test("pipelined drain on real executors equals the oracle (CoW + salt + evolution)") {
    val cfg = BinlogConfig(numEvents = 20000, numConversations = 50,
      maxTurns = 16, segmentSize = 4000, dupPct = 5, evolveAtLsn = 10000,
      zipfS = 1.1)
    val src = SparkSpec.tmpDir("cluster-binlog")
    val tbl = SparkSpec.tmpDir("cluster-table")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new CdcPipeline(PipelineConfig(src, tbl, segmentsPerBatch = 2,
      numBuckets = 8, saltBuckets = 4))
    val batches = p.runAllPipelined(spark)
    assert(batches == 3)
    assert(tableRows(p) == oracleRows(cfg))
  }

  test("merge-on-read + compaction on real executors equals the oracle") {
    val cfg = BinlogConfig(numEvents = 12000, numConversations = 40,
      maxTurns = 16, segmentSize = 3000, dupPct = 5)
    val src = SparkSpec.tmpDir("cluster-binlog-mor")
    val tbl = SparkSpec.tmpDir("cluster-table-mor")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new CdcPipeline(PipelineConfig(src, tbl, segmentsPerBatch = 1,
      numBuckets = 8, mergeOnRead = true))
    p.runAllPipelined(spark)
    val snap = p.table.loadCurrent()
    graft.ops.Compaction(spark, p.table, maxFilesPerBucket = 0,
      tombstoneHorizonLsn = snap.tombstoneHorizon)
    assert(tableRows(p) == oracleRows(cfg))
  }

  test("a point lookup on a cluster's table reads in the driver, runs no job, and equals the executors' read of its key") {
    val cfg = BinlogConfig(numEvents = 6000, numConversations = 30,
      maxTurns = 16, segmentSize = 2000, dupPct = 5, pDelete = 0.1)
    val src = SparkSpec.tmpDir("cluster-binlog-lookup")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new CdcPipeline(PipelineConfig(src, SparkSpec.tmpDir("cluster-table-lookup"),
      segmentsPerBatch = 1, numBuckets = 4, mergeOnRead = true))
    p.runAll(spark)
    assert(p.table.hasDeltas(p.table.loadCurrent()))
    def triples(rows: Seq[Row]) = rows.map(r => (r.getAs[String]("conv_id"),
      r.getAs[Int]("turn_idx"), r.getAs[String]("text"), r.getAs[Long]("_lsn"))).toSet
    // the executors' read: the whole visible table, no key pinned
    val byKey = p.table.read(spark)
      .filter(!org.apache.spark.sql.functions.col(graft.model.Model.deletedColumn))
      .collect().toSeq.groupBy(_.getAs[String]("conv_id"))
    assert(byKey.size > 8)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    try {
      for (k <- byKey.keys.toSeq.sorted :+ "conv-absent") {
        val got = triples(p.table.readKey(spark, k).collect().toSeq)
        assert(got == triples(byKey.getOrElse(k, Nil)), s"lookup of $k")
      }
      org.apache.spark.ListenerBusDrain(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 0, s"point lookups ran ${jobs.get} Spark jobs")
  }

  test("structured-streaming epochs on real executors equal the oracle") {
    val cfg = BinlogConfig(numEvents = 8000, numConversations = 30,
      maxTurns = 16, segmentSize = 2000, dupPct = 5)
    val src = SparkSpec.tmpDir("cluster-binlog-ss")
    val tbl = SparkSpec.tmpDir("cluster-table-ss")
    val ckpt = SparkSpec.tmpDir("cluster-ckpt")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val p = new CdcPipeline(PipelineConfig(src, tbl, numBuckets = 8))
    val q = p.startStream(spark, ckpt, maxFilesPerTrigger = 4)
    q.awaitTermination(180000)
    assert(tableRows(p) == oracleRows(cfg))
  }

  test("distributed connected components on real executors: shared-scratch checkpoint equals driver union-find") {
    import graft.dedup.DocDedup
    import spark.implicits._
    // 12 groups x 3 exact copies: the pair graph has 12 components of 3
    val dir = SparkSpec.tmpDir("cluster-docs")
    // per-group token sets are fully disjoint: within-group exact copies
    // pair, across groups nothing shares a shingle
    val texts = (0 until 12).map(g =>
      (0 until 20).map(k => s"tok${g}x$k").mkString(" "))
    (0 until 36).map(i => (i.toLong, texts(i % 12)))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // the >1M-pair scale path, forced (smallGraphMaxPairs = 0): min-label
    // propagation whose fixpoint checkpoints through the CONFIGURED shared
    // scratch — executors write it, the driver reads it back. This is the
    // path a driver-local temp dir silently breaks on a real cluster.
    spark.conf.set("graft.scratch.dir", SparkSpec.tmpDir("cluster-cc-scratch"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSeq
    val viaDistributed =
      rows(DocDedup.lshClusterReps(spark, dir, smallGraphMaxPairs = 0))
    val viaDriver = rows(DocDedup.lshClusterReps(spark, dir))
    assert(viaDistributed.nonEmpty && viaDistributed.size == 36)
    assert(viaDistributed == viaDriver,
      "distributed min-label must match driver union-find bit-for-bit")
    assert(viaDistributed.count(_._4) == 12) // one rep per group
  }

  test("type widening is adopted across a change-stream restart on real executors") {
    import graft.cdc.Chain
    import graft.model.Model
    import graft.ops.MergeInto
    import graft.table.ChronicleTable
    import org.apache.spark.sql.types._

    val up = new ChronicleTable(SparkSpec.tmpDir("cluster-widen-up"))
    up.create(Model.physicalSchemaV1, 4)
    val down = new ChronicleTable(SparkSpec.tmpDir("cluster-widen-down"))

    def batch(lsn: Long, conv: String, score: Any, t: DataType) =
      spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(Row(lsn, "I", conv, 0, "user",
          s"turn of $conv", null, new java.sql.Timestamp(lsn), score))),
        StructType(Seq(
          StructField("lsn", LongType), StructField("op", StringType),
          StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
          StructField("role", StringType), StructField("text", StringType),
          StructField("tool", StringType), StructField("ts", TimestampType),
          StructField("score", t))))

    MergeInto(spark, up, batch(1L, "c-int", 7, IntegerType), "w#0", "writer")
    Chain.syncStream(spark, up, down, numBuckets = 4)
    assert(down.loadCurrent().schema("score").dataType == IntegerType)

    // upstream WIDENS int -> long while the stream is stopped; the
    // restarted stream (same checkpoint) must adopt the widened schema,
    // read pre-widening int files through the long-typed reader, and ship
    // a value only a long can hold — across real executor JVMs
    val big = (1L << 40) + 3L
    MergeInto(spark, up, batch(2L, "c-long", big, LongType), "w#1", "writer")
    assert(up.loadCurrent().schema("score").dataType == LongType)
    Chain.syncStream(spark, up, down, numBuckets = 4)
    assert(down.loadCurrent().schema("score").dataType == LongType,
      "restart must adopt the widened upstream schema downstream")
    val scores = down.read(spark)
      .filter(!org.apache.spark.sql.functions.col(Model.deletedColumn))
      .select("conv_id", "score").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(scores == Map("c-int" -> 7L, "c-long" -> big))
  }

  test("native streaming sink on real executors: epochs merge exactly-once across JVMs") {
    // the sink re-roots each micro-batch's physical rows as a batch input
    // (MicroBatch.stripStreaming) — exactly the kind of plumbing that can
    // pass local[n] yet break when tasks run in separate executor JVMs
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val sess = spark
    import sess.implicits._
    val src = SparkSpec.tmpDir("cluster-wsink-src")
    val root = s"${SparkSpec.tmpDir("cluster-wsink")}/t"
    def seg(n: Int, lo: Long, op: String): Unit =
      (0 until 32).map(i => (lo + i, op, s"c-${i % 8}", i / 8, s"t$lo-$i"))
        .toDF("lsn", "op", "conv_id", "turn_idx", "text")
        .withColumn("role", lit("user"))
        .withColumn("tool", lit(null).cast("string"))
        .withColumn("ts", lit(new java.sql.Timestamp(1704067200000L)))
        .select("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
        .repartition(4) // multiple tasks per epoch, spread across executors
        .write.parquet(s"$src/seg=$n")
    seg(0, 0L, "I")
    seg(1, 1000L, "U")
    val schema = spark.read.parquet(s"$src/seg=0").schema
    val ckpt = SparkSpec.tmpDir("cluster-wsink-ckpt")
    def drain(): Unit = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$src/seg=*")
      .writeStream.format("graft")
      .option("path", root).option("checkpointLocation", ckpt)
      .option("buckets", "4")
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    drain()
    val t = new graft.table.ChronicleTable(root)
    val rows = t.read(spark)
      .filter(!col(graft.model.Model.deletedColumn))
      .select("conv_id", "turn_idx", "text").collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getString(2)).toMap
    assert(rows.size == 32)
    assert(rows.forall(_._2.startsWith("t1000-")),
      "the update epoch must win by LWW on every key across executor JVMs")
    // restart with nothing new: checkpoint + ledger ship zero rows
    val v = t.loadCurrent().version
    drain()
    assert(t.loadCurrent().version == v)
  }

  test("SQL catalog on real executors: INSERT, MOR sorted-merge scan, CALL compact") {
    // the DSv2 reader (GraftReaderFactory + SortedLwwMerge) runs ON the
    // executors — this pins its InternalRow/UTF8String handling and the
    // per-bucket merge across process boundaries
    val root = SparkSpec.tmpDir("cluster-sqlcat")
    spark.conf.set("spark.sql.catalog.gclu", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gclu.root", root)
    spark.sql("CREATE TABLE gclu.t (conv_id string, turn_idx int, role string, " +
      "text string, tool string, ts timestamp) TBLPROPERTIES ('buckets'='4')")
    spark.range(200).selectExpr(
      "concat('c-', id % 50) AS conv_id", "CAST(id / 50 AS int) AS turn_idx",
      "'user' AS role", "concat('v', id) AS text",
      "CAST(NULL AS string) AS tool",
      "timestamp'2024-01-01 00:00:00' AS ts", "id AS _lsn")
      .createOrReplaceTempView("gclu_rows")
    spark.sql("INSERT INTO gclu.t (conv_id, turn_idx, role, text, tool, ts, _lsn) " +
      "SELECT * FROM gclu_rows")
    // MOR deltas displace half the keys; the catalog scan must LWW-merge
    // base+delta per bucket on the executors
    val t = new graft.table.ChronicleTable(s"$root/t")
    val sess = spark
    import sess.implicits._
    val upd = (0 until 50).map(i => (1000L + i, "U", s"c-$i", 0, s"upd$i"))
      .toDF("lsn", "op", "conv_id", "turn_idx", "text")
      .withColumn("role", org.apache.spark.sql.functions.lit("user"))
      .withColumn("tool", org.apache.spark.sql.functions.lit(null).cast("string"))
      .withColumn("ts", org.apache.spark.sql.functions.lit(new java.sql.Timestamp(0L)))
      .select("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    graft.ops.MergeInto(spark, t, upd, "cm#0", "cm", mergeOnRead = true)
    assert(t.hasDeltas(t.loadCurrent()))
    // no key pinned: a key-pinned query reads in the driver instead
    val merged = spark.sql(
      "SELECT conv_id, text FROM gclu.t WHERE turn_idx = 0")
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(merged == (0 until 50).map(i => s"c-$i" -> s"upd$i").toMap,
      s"executor-side LWW merge must win, got $merged")
    assert(spark.sql("SELECT count(*) FROM gclu.t").collect()(0).getLong(0) == 200L)

    val r = spark.sql("CALL gclu.compact(table => 't')").collect()(0)
    assert(r.getInt(0) > 0 && !t.hasDeltas(t.loadCurrent()))
    assert(spark.sql("SELECT count(*) FROM gclu.t").collect()(0).getLong(0) == 200L)
  }
}
