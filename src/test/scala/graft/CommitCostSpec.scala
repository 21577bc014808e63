package graft

import graft.model.Model
import graft.ops.{Compaction, MergeInto, Rescale}
import graft.table.ChronicleTable
import org.apache.spark.sql.DataFrame

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.PosixFilePermissions
import scala.jdk.CollectionConverters._

/** What a commit costs beyond its data: how often it evaluates the batch,
  * and which operating-system processes it starts.
  */
class CommitCostSpec extends SparkSpec {
  import spark.implicits._

  private def rows(keys: Range, lsn0: Long): DataFrame = keys.map(k =>
      (lsn0 + k, "U", f"conv-$k%03d", 0, "user", s"text ${lsn0 + k}",
        None: Option[String], new java.sql.Timestamp(1704067200000L + k)))
    .toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")

  /** `df`'s rows in 3 partitions of an RDD that counts its partition
    * computations, and the count so far.
    */
  private def counted(df: DataFrame): (DataFrame, () => Int) = {
    val id = java.util.UUID.randomUUID().toString
    CommitCostSpec.computed.put(id, new java.util.concurrent.atomic.AtomicInteger)
    val rdd = spark.sparkContext.parallelize(df.collect().toSeq, 3).mapPartitions { it =>
      CommitCostSpec.computed.get(id).incrementAndGet()
      it
    }
    (spark.createDataFrame(rdd, df.schema), () => CommitCostSpec.computed.get(id).get)
  }

  test("each commit evaluates its batch once: copy-on-write, merge-on-read, prepared ahead and after a rescale race") {
    val t = new ChronicleTable(tmpDir("table-evals"))
    t.create(Model.physicalSchemaV1, numBuckets = 2)
    MergeInto(spark, t, rows(0 until 60, 0L), "s#0", "t")
    def evals(df: DataFrame)(commit: DataFrame => Any): Int = {
      val (batch, n) = counted(df)
      commit(batch)
      n()
    }
    assert(evals(rows(10 until 50, 100L))(MergeInto(spark, t, _, "s#1", "t")) == 3)
    assert(evals(rows(20 until 70, 200L))(MergeInto(spark, t, _, "s#2", "t",
      mergeOnRead = true)) == 3)
    assert(evals(rows(0 until 30, 300L)) { b =>
      MergeInto(spark, t, b, "s#3", "t",
        prepared = Some(MergeInto.prepare(spark, b, t.loadCurrent().numBuckets)))
    } == 3)
    // prepared under 2 buckets, applied under 4: the stale result is
    // dropped whole and the apply prepares once more
    val (raced, n) = counted(rows(40 until 90, 400L))
    val stale = MergeInto.prepare(spark, raced, t.loadCurrent().numBuckets)
    assert(n() == 3)
    Rescale(spark, t, newNumBuckets = 4)
    assert(!MergeInto(spark, t, raced, "s#4", "t", prepared = Some(stale)).skipped)
    assert(n() == 6)
    val state = t.read(spark).select("conv_id", "_lsn").as[(String, Long)].collect()
    assert(state.length == 90 && state.map(_._1).distinct.length == 90)
    assert(state.toMap.apply("conv-045") == 445L)
  }

  /** The `jdk.ProcessStart` events of this JVM while `body` runs. */
  private def processStarts(body: => Any): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try body finally rec.stop()
    val f = Files.createTempFile("process-starts", ".jfr")
    try {
      rec.dump(f)
      jdk.jfr.consumer.RecordingFile.readAllEvents(f).asScala.toSeq
        .filter(_.getEventType.getName == "jdk.ProcessStart")
        .map(e => String.valueOf(e.getValue[AnyRef]("command")))
    } finally { rec.close(); Files.deleteIfExists(f) }
  }

  test("staged writes start no process: a copy-on-write commit, a merge-on-read commit and a compaction; file modes unchanged") {
    val root = tmpDir("table-forks")
    val t = new ChronicleTable(root)
    t.create(Model.physicalSchemaV1, numBuckets = 4)
    MergeInto(spark, t, rows(0 until 200, 0L), "s#0", "t")
    // Hadoop's local filesystem, without native IO, forked a `chmod` for
    // every file, checksum file and directory a write created: about 30
    // per commit here
    val cow = processStarts(MergeInto(spark, t, rows(0 until 200 by 7, 1000L), "s#1", "t"))
    assert(cow.isEmpty, s"a copy-on-write commit started ${cow.size} processes: ${cow.take(3)}")
    val mor = processStarts(MergeInto(spark, t, rows(0 until 200 by 5, 2000L), "s#2", "t",
      mergeOnRead = true))
    assert(mor.isEmpty, s"a merge-on-read commit started ${mor.size} processes: ${mor.take(3)}")
    val compact = processStarts(Compaction(spark, t))
    assert(compact.isEmpty, s"a compaction started ${compact.size} processes: ${compact.take(3)}")
    assert(!t.hasDeltas(t.loadCurrent()))
    // the generator's segment files too (66 forks in one intake_tail set-up)
    val src = tmpDir("binlog-forks")
    val gen = processStarts(graft.source.BinlogGenerator.writeSegments(spark,
      graft.source.BinlogConfig(numEvents = 400, numConversations = 6, segmentSize = 200), src))
    assert(gen.isEmpty, s"writing binlog segments started ${gen.size} processes: ${gen.take(3)}")
    assert(spark.read.parquet(src).count() >= 400)

    // the same modes as Hadoop's chmod under its default umask (022)
    val data = Paths.get(root, "data")
    val written = Files.walk(data).iterator().asScala.filter(_ != data).toSeq
    def mode(p: Path) = PosixFilePermissions.toString(Files.getPosixFilePermissions(p))
    val (dirs, files) = written.partition(Files.isDirectory(_))
    assert(files.exists(_.toString.endsWith(".parquet")) &&
      files.exists(_.getFileName.toString.endsWith(".crc")))
    assert(dirs.exists(_.getFileName.toString.startsWith("bucket=")))
    files.foreach(f => assert(mode(f) == "rw-r--r--", s"$f: ${mode(f)}"))
    dirs.foreach(d => assert(mode(d) == "rwxr-xr-x", s"$d: ${mode(d)}"))
  }
}

object CommitCostSpec {
  /** Partition computations per counted batch (one JVM: local master). */
  val computed = new java.util.concurrent.ConcurrentHashMap[String,
    java.util.concurrent.atomic.AtomicInteger]()
}
