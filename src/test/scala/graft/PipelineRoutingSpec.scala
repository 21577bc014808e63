package graft

import graft.cdc.{CdcPipeline, PipelineConfig}
import graft.source.{BinlogConfig, BinlogGenerator}
import org.apache.spark.sql.functions._

/** Routing wired into the apply path: hot-reloaded DSL route filter and
  * quarantine of invalid events.
  */
class PipelineRoutingSpec extends SparkSpec {
  import spark.implicits._

  test("route filter gates the merge and hot-swaps between batches") {
    val cfg = BinlogConfig(numEvents = 800, numConversations = 6, segmentSize = 200)
    val src = tmpDir("binlog-route")
    val tbl = tmpDir("table-route")
    BinlogGenerator.writeSegments(spark, cfg, src)

    val filterFile = java.nio.file.Paths.get(tmpDir("routes"), "filter.dsl")
    // batch 0+1: only tool-role turns pass
    java.nio.file.Files.writeString(filterFile, """xpath("role") = "tool"""")
    val p = new CdcPipeline(PipelineConfig(src, tbl, segmentsPerBatch = 1,
      numBuckets = 2, routeFilterFile = Some(filterFile.toString)))
    p.runOnce(spark); p.runOnce(spark)
    val rolesAfter2 = p.currentState(spark).select("role").distinct()
      .as[String].collect().toSet
    assert(rolesAfter2 == Set("tool"))

    // hot reload: widen the route without restarting the pipeline
    java.nio.file.Files.writeString(filterFile, "true")
    p.runAll(spark)
    val rolesFinal = p.currentState(spark).select("role").distinct()
      .as[String].collect().toSet
    assert(rolesFinal.size > 1)
    // earlier-batch events that the old route dropped stay dropped (they
    // were consumed); later batches flow fully — count must exceed the
    // tool-only subset
    val toolOnly = p.currentState(spark).filter(col("role") === "tool").count()
    assert(p.currentState(spark).count() > toolOnly)
  }

  test("invalid events divert to quarantine parquet, valid ones merge") {
    val tbl = tmpDir("table-q")
    val src = tmpDir("binlog-q")
    // hand-built segment with two invalid rows (empty key, negative turn)
    val rows = Seq(
      (0L, "I", "conv-a", 0, "user", "ok0", None: Option[String], ts(0)),
      (1L, "I", "", 1, "user", "bad-key", None: Option[String], ts(1)),
      (2L, "I", "conv-b", -3, "user", "bad-turn", None: Option[String], ts(2)),
      (3L, "I", "conv-a", 1, "user", "ok1", None: Option[String], ts(3)))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
    rows.withColumn("segment", lit(0))
      .write.partitionBy("segment").mode("overwrite").parquet(src)

    val p = new CdcPipeline(PipelineConfig(src, tbl, segmentsPerBatch = 1,
      numBuckets = 2, quarantine = true))
    p.runAll(spark)
    assert(p.currentState(spark).select("text").as[String].collect().sorted.toSeq
      == Seq("ok0", "ok1"))
    val q = spark.read.parquet(s"$tbl/quarantine/batch=0")
    assert(q.select("text").as[String].collect().sorted.toSeq
      == Seq("bad-key", "bad-turn"))
  }

  test("multi-sink fan-out: 3 sinks converge independently with per-sink ledgers, crash-safe") {
    import graft.cdc.MultiSinkPipeline
    import graft.routing.RouteConfig
    val cfg = BinlogConfig(numEvents = 1200, numConversations = 10,
      segmentSize = 200, dupPct = 5)
    val src = tmpDir("binlog-msink")
    val tbl = tmpDir("table-msink")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val routes = Seq(
      RouteConfig("users", Some("""xpath("role") = "user"""")),
      RouteConfig("agents", Some("""xpath("role") in ("assistant", "tool")""")))
    def mk() = new MultiSinkPipeline(
      PipelineConfig(src, tbl, segmentsPerBatch = 2, numBuckets = 4), routes)

    // crash the agents sink in its SECOND commit's publish window: users has
    // already committed that batch, agents/default have not — the partial
    // fan-out state the resume must heal without double-applying
    val p = mk()
    p.sinkTable("agents").beforePublishHook = snap =>
      if (snap.version == 2) throw new RuntimeException("simulated fan-out crash")
    intercept[RuntimeException] { p.runAll(spark) }

    val p2 = mk() // fresh instance = new process
    p2.runAll(spark)

    // per-sink oracle: LWW fold of the role-filtered change stream
    def fold(pred: graft.model.Model.ChangeEvent => Boolean) = {
      val cdf = BinlogGenerator.zipfCdf(cfg.numConversations, cfg.zipfS)
      val st = scala.collection.mutable.Map[(String, Int), graft.model.Model.ChangeEvent]()
      (0L until cfg.numEvents).foreach { lsn =>
        val ev = BinlogGenerator.eventAt(cfg, cdf, lsn)
        if (pred(ev)) {
          if (ev.op == "D") st.remove((ev.conv_id, ev.turn_idx))
          else st((ev.conv_id, ev.turn_idx)) = ev
        }
      }
      st.values.toSeq.sortBy(e => (e.conv_id, e.turn_idx))
        .map(e => (e.conv_id, e.turn_idx, e.role, e.text))
    }
    def state(sink: String) = p2.sinkState(spark, sink)
      .select("conv_id", "turn_idx", "role", "text")
      .collect().toSeq
      .map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getString(3)))

    assert(state("users") == fold(_.role == "user"))
    assert(state("agents") == fold(e => e.role == "assistant" || e.role == "tool"))
    assert(state("default") == fold(_.role == "system"))
    // per-sink lineage is complete and duplicate-free
    p2.sinkNames.foreach { s =>
      val keys = p2.sinkTable(s).fullLineage().map(_.batchKey)
      assert(keys.nonEmpty && keys.distinct.length == keys.length,
        s"sink $s lineage: $keys")
    }
  }

  test("multi-sink apply is concurrent: first sink's commit can wait on the last sink's") {
    import graft.cdc.MultiSinkPipeline
    import graft.routing.RouteConfig
    val cfg = BinlogConfig(numEvents = 400, numConversations = 6, segmentSize = 200)
    val src = tmpDir("binlog-par")
    val tbl = tmpDir("table-par")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val routes = Seq(
      RouteConfig("users", Some("""xpath("role") = "user"""")),
      RouteConfig("agents", Some("""xpath("role") = "assistant"""")))
    val p = new MultiSinkPipeline(
      PipelineConfig(src, tbl, segmentsPerBatch = 2, numBuckets = 2), routes)
    p.ensureTables()
    // Structural concurrency probe: the FIRST sink in route order blocks
    // its first publish until the LAST sink (default) has committed. A
    // sequential apply (route order: users, agents, default) would
    // deadlock here; the concurrent drain completes.
    p.sinkTable("users").beforePublishHook = snap =>
      if (snap.version == 1) {
        val deadline = System.nanoTime() + 90L * 1000 * 1000 * 1000
        def defaultCommitted: Boolean =
          p.sinkTable("default").exists &&
            p.sinkTable("default").loadCurrent().version >= 1
        while (!defaultCommitted) {
          if (System.nanoTime() > deadline)
            throw new IllegalStateException(
              "sink merges applied sequentially: default never committed " +
                "while users' publish was pending")
          Thread.sleep(50)
        }
      }
    p.runAll(spark)
    p.sinkTable("users").beforePublishHook = _ => ()
    // convergence unaffected by the concurrent apply
    assert(p.sinkState(spark, "users").count() > 0)
    p.sinkNames.foreach { s =>
      assert(p.sinkTable(s).loadCurrent().cursors("binlog") == 1L)
    }
    // every file committed by the concurrent drain carries real ts bounds
    // (stats come from the write itself, whatever the timestamp encoding;
    // a (0,0) entry would silently blind time pruning)
    p.sinkNames.foreach { s =>
      val t = p.sinkTable(s)
      val files = t.filesOf(t.loadCurrent())
      assert(files.nonEmpty)
      files.foreach(f => assert(f.minTsMs > 0L && f.maxTsMs >= f.minTsMs,
        s"sink $s file ${f.path} has no ts stats (${f.minTsMs},${f.maxTsMs})"))
    }
  }

  test("aliased multi-sink route labels rows losslessly (merge keys untouched)") {
    import graft.cdc.MultiSinkPipeline
    import graft.routing.RouteConfig
    val cfg = BinlogConfig(numEvents = 600, numConversations = 8, segmentSize = 200)
    val src = tmpDir("binlog-alias")
    val tbl = tmpDir("table-alias")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val routes = Seq(
      RouteConfig("users", Some("""xpath("role") = "user""""), alias = Some("user-topic")))
    val p = new MultiSinkPipeline(
      PipelineConfig(src, tbl, segmentsPerBatch = 2, numBuckets = 4), routes)
    p.runAll(spark)
    val users = p.sinkState(spark, "users")
    // the alias must NOT rewrite the merge key: every conversation that has
    // user turns survives distinctly (a conv_id rewrite would collapse the
    // sink to <= maxTurns rows)
    val convs = users.select("conv_id").distinct().as[String].collect().toSet
    assert(convs.size > 1, s"conversations collapsed: $convs")
    // LWW oracle over the role-filtered stream: row count must match exactly
    val cdf = BinlogGenerator.zipfCdf(cfg.numConversations, cfg.zipfS)
    val st = scala.collection.mutable.Map[(String, Int), String]()
    (0L until cfg.numEvents).foreach { lsn =>
      val ev = BinlogGenerator.eventAt(cfg, cdf, lsn)
      if (ev.role == "user") {
        if (ev.op == "D") st.remove((ev.conv_id, ev.turn_idx))
        else st((ev.conv_id, ev.turn_idx)) = ev.text
      }
    }
    assert(users.count() == st.size)
    // the alias is carried as a label column on every routed row
    assert(users.select("route_alias").distinct().as[String].collect().toSeq
      == Seq("user-topic"))
  }

  test("sinks hot-add and hot-remove from the routes file mid-drain") {
    import graft.cdc.MultiSinkPipeline
    import graft.routing.RouteConfig
    val cfg = BinlogConfig(numEvents = 1200, numConversations = 8, segmentSize = 200)
    val src = tmpDir("binlog-hotswap")
    val tbl = tmpDir("table-hotswap")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val routesFile = java.nio.file.Paths.get(tmpDir("hotswap-routes"), "routes.json")
    def setRoutes(json: String): Unit =
      java.nio.file.Files.writeString(routesFile, json)

    setRoutes("""[{"sink":"users","filter":"xpath(\"role\") = \"user\""}]""")
    val p = new MultiSinkPipeline(
      PipelineConfig(src, tbl, segmentsPerBatch = 1, numBuckets = 2),
      routes = Nil, routesFile = Some(routesFile.toString),
      backfillNewSinks = false)
    assert(p.runAll(spark, maxBatches = 3) == 3) // segments 0..2 consumed

    // HOT-ADD agents (no backfill): it must see only traffic from now on
    setRoutes(
      """[{"sink":"users","filter":"xpath(\"role\") = \"user\""},
         |{"sink":"agents","filter":"xpath(\"role\") = \"assistant\""}]""".stripMargin)
    p.runAll(spark)

    def fold(pred: graft.model.Model.ChangeEvent => Boolean,
        fromLsn: Long = 0L) = {
      val cdf = BinlogGenerator.zipfCdf(cfg.numConversations, cfg.zipfS)
      val st = scala.collection.mutable.Map[(String, Int), String]()
      (fromLsn until cfg.numEvents).foreach { lsn =>
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
      .map(r => ((r.getString(0), r.getInt(1)), r.getString(2)))
      .sortBy(_._1)

    // users saw every segment; agents only segments 3..5 (lsn >= 600)
    assert(state("users") == fold(_.role == "user"))
    assert(state("agents") == fold(_.role == "assistant", fromLsn = 600))
    assert(p.sinkTable("agents").loadCurrent().cursors("binlog") == 5L)

    // HOT-REMOVE users, then land one more hand-built segment: agents
    // advances past it, users' cursor and state stay frozen
    setRoutes("""[{"sink":"agents","filter":"xpath(\"role\") = \"assistant\""}]""")
    val usersBefore = state("users")
    Seq((1200L, "I", "conv-hot", 0, "assistant", "hot-add-0", None: Option[String], ts(1200)),
      (1201L, "I", "conv-hot", 1, "user", "hot-add-1", None: Option[String], ts(1201)))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
      .write.mode("overwrite").parquet(s"$src/segment=6")
    p.runAll(spark)
    assert(state("users") == usersBefore)
    assert(p.sinkTable("users").loadCurrent().cursors("binlog") == 5L)
    assert(p.sinkTable("agents").loadCurrent().cursors("binlog") == 6L)
    assert(state("agents").exists(_._2 == "hot-add-0"))
    // the removed route's events fall through to default from now on
    assert(p.sinkState(spark, "default").filter(col("text") === "hot-add-1").count() == 1)

    // BACKFILL hot-add: a second pipeline over the same source, agents
    // added after 2 batches with backfillNewSinks=true replays history
    // through the new sink (existing sinks skip the replayed batchKeys)
    val routesFile2 = java.nio.file.Paths.get(tmpDir("hotswap-routes2"), "routes.json")
    def setRoutes2(json: String): Unit =
      java.nio.file.Files.writeString(routesFile2, json)
    setRoutes2("""[{"sink":"users","filter":"xpath(\"role\") = \"user\""}]""")
    val p2 = new MultiSinkPipeline(
      PipelineConfig(src, tmpDir("table-hotswap-bf"), segmentsPerBatch = 1,
        numBuckets = 2),
      routes = Nil, routesFile = Some(routesFile2.toString))
    assert(p2.runAll(spark, maxBatches = 2) == 2)
    setRoutes2(
      """[{"sink":"users","filter":"xpath(\"role\") = \"user\""},
         |{"sink":"agents","filter":"xpath(\"role\") = \"assistant\""}]""".stripMargin)
    p2.runAll(spark)
    def state2(sink: String) = p2.sinkState(spark, sink)
      .select("conv_id", "turn_idx", "text").collect().toSeq
      .map(r => ((r.getString(0), r.getInt(1)), r.getString(2)))
      .sortBy(_._1)
    // the backfilled sink holds the FULL fold including the hand-built tail
    val fullAgents = (fold(_.role == "assistant") :+
      (("conv-hot", 0) -> "hot-add-0")).sortBy(_._1)
    assert(state2("agents") == fullAgents)
    // replay did not double-apply the pre-existing sinks
    val userKeys = p2.sinkTable("users").fullLineage().map(_.batchKey)
    assert(userKeys.distinct.length == userKeys.length)
  }

  test("streaming multi-sink fan-out converges per sink (unordered epochs)") {
    import graft.cdc.MultiSinkPipeline
    import graft.routing.RouteConfig
    val cfg = BinlogConfig(numEvents = 1000, numConversations = 8,
      segmentSize = 200, dupPct = 5)
    val src = tmpDir("binlog-msink-ss")
    val tbl = tmpDir("table-msink-ss")
    BinlogGenerator.writeSegments(spark, cfg, src)
    val routes = Seq(RouteConfig("users", Some("""xpath("role") = "user"""")))
    val p = new MultiSinkPipeline(
      PipelineConfig(src, tbl, sourceId = "mss", numBuckets = 4), routes)
    val q = p.startStream(spark, tmpDir("ckpt-msink"), maxFilesPerTrigger = 4)
    q.awaitTermination(120000)
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
      .map(r => ((r.getString(0), r.getInt(1)), r.getString(2)))
      .sortBy(_._1)
    assert(state("users") == fold(_.role == "user"))
    assert(state("default") == fold(_.role != "user"))
  }

  test("streaming multi-sink fan-out reads JSONL segments from the network intake") {
    import graft.cdc.MultiSinkPipeline
    import graft.routing.RouteConfig
    // one segment in the shape IngestServer publishes: JSON lines
    val src = tmpDir("binlog-msink-jsonl")
    val seg = java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(src, "segment=0"))
    val events = (0 until 6).map { i =>
      val role = if (i % 2 == 0) "user" else "assistant"
      s"""{"lsn":$i,"op":"I","conv_id":"conv-j$i","turn_idx":0,"role":"$role",""" +
        s""""text":"jsonl $i","tool":null,"ts":"2024-01-01T00:00:0$i.000Z"}"""
    }
    java.nio.file.Files.writeString(seg.resolve("part-00000.jsonl"),
      events.mkString("", "\n", "\n"))
    val p = new MultiSinkPipeline(
      PipelineConfig(src, tmpDir("table-msink-jsonl"), sourceId = "msj", numBuckets = 2),
      Seq(RouteConfig("users", Some("""xpath("role") = "user""""))))
    val q = p.startStream(spark, tmpDir("ckpt-msink-jsonl"))
    q.awaitTermination(120000)
    def texts(sink: String) =
      p.sinkState(spark, sink).select("text").as[String].collect().toSeq
    assert(texts("users") == Seq("jsonl 0", "jsonl 2", "jsonl 4"))
    assert(texts("default") == Seq("jsonl 1", "jsonl 3", "jsonl 5"))
  }

  private def ts(i: Long) = new java.sql.Timestamp(i * 1000)
}
