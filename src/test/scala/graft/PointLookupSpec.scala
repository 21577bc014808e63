package graft

import graft.model.Model
import graft.ops.{Compaction, MergeInto}
import graft.table.ChronicleTable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** Point lookups: a scan whose filters pin one `conv_id` and whose pruned
  * files fit one task reads in the planning thread (`GraftLocalScan`) and
  * starts no Spark job. Every surface — `readKey`, `format("graft")` and
  * catalog SQL — must return exactly what a full read returns for the key,
  * over every table state the merge knows.
  */
class PointLookupSpec extends SparkSpec {
  import spark.implicits._

  private val catalogRoot = tmpDir("lookup-cat")
  spark.conf.set("spark.sql.catalog.graft_pl", "graft.sql.GraftCatalog")
  spark.conf.set("spark.sql.catalog.graft_pl.root", catalogRoot)

  private def rows(convs: Range, turns: Range, lsn0: Long, op: String = "U",
      note: Boolean = false): DataFrame = {
    val df = convs.flatMap(c => turns.map(tn => (lsn0 + c * 10 + tn, op, f"c-$c%02d", tn,
        "user", s"text $lsn0 $c/$tn", None: Option[String],
        new java.sql.Timestamp(1704067200000L + (lsn0 + c) * 1000L), s"note $lsn0")))
      .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts", "note")
    if (note) df else df.drop("note")
  }

  private def newTable(name: String, buckets: Int = 4): ChronicleTable = {
    val t = new ChronicleTable(s"$catalogRoot/$name")
    t.create(Model.physicalSchemaV1, numBuckets = buckets)
    MergeInto(spark, t, rows(0 until 24, 0 until 3, 0L, "I"), "A#0", "t")
    t
  }

  /** The table states a lookup must serve, by name. */
  private lazy val states: Seq[(String, ChronicleTable)] = {
    val cow = newTable("cow")
    MergeInto(spark, cow, rows(0 until 24 by 3, 1 until 2, 1000L), "A#1", "t")

    val mor = newTable("mor")
    MergeInto(spark, mor, rows(0 until 24 by 2, 0 until 2, 1000L), "A#1", "t", mergeOnRead = true)
    MergeInto(spark, mor, rows(0 until 24 by 3, 1 until 4, 2000L), "A#2", "t", mergeOnRead = true)

    // whole conversations and single turns deleted, through a delta and
    // through a copy-on-write rewrite, by an ordered and an unordered source
    val ordered = newTable("tomb_ordered")
    MergeInto(spark, ordered, rows(0 until 24 by 4, 0 until 3, 1000L, "D"), "A#1", "t",
      mergeOnRead = true)
    MergeInto(spark, ordered, rows(1 until 24 by 4, 1 until 2, 2000L, "D"), "A#2", "t")
    val unordered = newTable("tomb_unordered")
    MergeInto(spark, unordered, rows(0 until 24 by 4, 0 until 3, 1000L, "D"), "B#0", "t",
      orderedSource = false, mergeOnRead = true)
    MergeInto(spark, unordered, rows(1 until 24 by 4, 1 until 2, 2000L, "D"), "B#1", "t",
      orderedSource = false)

    val compacted = newTable("compacted", buckets = 1)
    MergeInto(spark, compacted, rows(0 until 24 by 2, 0 until 2, 1000L), "A#1", "t",
      mergeOnRead = true)
    Compaction(spark, compacted, maxFilesPerBucket = 0, targetRowsPerFile = 10L)
    assert(compacted.filesOf(compacted.loadCurrent()).size > 2,
      "fixture: compaction must range-split the bucket")

    // a delta adds a column the base files lack
    val evolved = newTable("evolved")
    MergeInto(spark, evolved, rows(0 until 24 by 2, 0 until 2, 1000L, note = true), "A#1", "t",
      mergeOnRead = true)
    assert(evolved.loadCurrent().schema.fieldNames.contains("note"))

    Seq("cow" -> cow, "mor" -> mor, "tomb_ordered" -> ordered,
      "tomb_unordered" -> unordered, "compacted" -> compacted, "evolved" -> evolved)
  }

  /** `df`'s rows over the columns of `t`'s current schema. */
  private def visible(t: ChronicleTable, df: DataFrame): Set[Row] =
    df.select(t.loadCurrent().schema.fieldNames.toSeq.map(col): _*).collect().toSet

  /** The rows of each key in a full, distributed read, filtered here. */
  private def byKey(t: ChronicleTable): Map[String, Set[Row]] = {
    val cols = t.loadCurrent().schema.fieldNames
    t.read(spark).filter(!col(Model.deletedColumn)).select(cols.toSeq.map(col): _*)
      .collect().toSet.groupBy((r: Row) => r.getString(0))
  }

  /** Spark jobs `body` starts on this thread (its broadcasts included). */
  private def jobsOf(body: => Any): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val tag = "graft.test.lookupJobs"
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty(tag) != null) jobs.incrementAndGet()
    }
    org.apache.spark.ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    sc.setLocalProperty(tag, "counted")
    try {
      body
      org.apache.spark.ListenerBusDrain(sc)
    } finally {
      sc.setLocalProperty(tag, null)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  private def scanOf(df: DataFrame) = df.queryExecution.optimizedPlan.collect {
    case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
  }

  test("readKey, format(graft) and catalog SQL lookups equal the distributed read of the key and run no job") {
    states.foreach { case (name, t) =>
      val expect = byKey(t)
      val keys = expect.keys.toSeq.sorted
      // deleted conversations and a key the table never saw return nothing
      val absent = (0 until 24).map(c => f"c-$c%02d").filterNot(expect.contains) :+ "c-absent"
      assert(keys.size >= 12 && absent.nonEmpty, s"$name fixture")
      var lookups = 0
      val jobs = jobsOf {
        for (k <- keys ++ absent) {
          val want = expect.getOrElse(k, Set.empty)
          def check(surface: String, df: DataFrame): Unit = {
            assert(scanOf(df).exists(_.isInstanceOf[graft.sql.GraftLocalScan]),
              s"$name $surface $k: ${df.queryExecution.optimizedPlan}")
            assert(visible(t, df) == want, s"$name $surface $k")
            lookups += 1
          }
          check("readKey", t.readKey(spark, k))
          check("format", spark.read.format("graft").load(t.root).filter(col("conv_id") === k))
          check("sql", spark.sql(s"SELECT * FROM graft_pl.$name WHERE conv_id = '$k'"))
        }
      }
      assert(lookups == 3 * (keys.size + absent.size))
      assert(jobs == 0, s"$name: $lookups lookups ran $jobs Spark jobs")
    }
  }

  test("a key lookup with a further filter stays exact through a residual Filter over the local scan") {
    val t = states.find(_._1 == "mor").get._2
    val k = "c-06"
    val from = new java.sql.Timestamp(1704067200000L + 2000L * 1000L)
    val df = t.readKey(spark, k).filter(col("ts") >= from)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && plan.contains("Filter"), plan)
    val want = byKey(t)(k).filter(_.getAs[java.sql.Timestamp]("ts").compareTo(from) >= 0)
    assert(want.nonEmpty && want.size < byKey(t)(k).size, "fixture")
    assert(visible(t, df) == want)
  }

  test("a key lookup over more than one task's input stays a distributed scan, with no residual key filter") {
    val t = states.find(_._1 == "mor").get._2
    val k = "c-06"
    val before = spark.conf.getOption("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1")
    try {
      for (df <- Seq(t.readKey(spark, k),
          spark.read.format("graft").load(t.root).filter(col("conv_id") === k))) {
        assert(scanOf(df).map(_.getClass) == Seq(classOf[graft.sql.GraftScan]))
        val plan = df.queryExecution.executedPlan
        assert(plan.toString.contains("BatchScan") &&
          plan.collect { case f: org.apache.spark.sql.execution.FilterExec => f }.isEmpty, plan)
        assert(visible(t, df) == byKey(t)(k))
      }
    } finally before match {
      case Some(v) => spark.conf.set("spark.sql.files.maxPartitionBytes", v)
      case None => spark.conf.unset("spark.sql.files.maxPartitionBytes")
    }
  }

  test("a join against a point lookup broadcasts the lookup") {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val t = states.find(_._1 == "mor").get._2
    val k = "c-06"
    // joined on turn_idx only, so the full read pins no key of its own
    val lookup = t.readKey(spark, k).select(col("turn_idx"), col("text").as("looked_up"))
    val joined = t.read(spark).filter(!col(Model.deletedColumn)).join(lookup, "turn_idx")
    val h = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
    val broadcasts = h.collect(joined.queryExecution.executedPlan) {
      case b: BroadcastExchangeExec => b
    }
    // planned from the scan's manifest statistics: without them Spark
    // assumes the default size and broadcasts neither side
    assert(broadcasts.size == 1 && broadcasts.head.output.exists(_.name == "looked_up"),
      joined.queryExecution.executedPlan)
    val got = joined.select("conv_id", "text", "looked_up").collect()
    val turns = byKey(t)(k).map(_.getAs[Int]("turn_idx"))
    assert(got.length == byKey(t).values.flatten.count(r => turns(r.getAs[Int]("turn_idx"))))
    assert(got.filter(_.getString(0) == k).forall(r => r.getString(1) == r.getString(2)))
  }
}
