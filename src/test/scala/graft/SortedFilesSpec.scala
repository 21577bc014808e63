package graft

import graft.ops.{Compaction, MergeInto, Rescale}
import graft.table.ChronicleTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.unsafe.types.UTF8String

/** The sorted-file invariant every read and rewrite relies on: the scan's
  * bucket merge (`graft.sql.SortedLwwMerge`) streams each data file in
  * (conv_id, turn_idx) order and refuses a file that is unsorted or repeats
  * a key. Every writer must land its files that way.
  */
class SortedFilesSpec extends SparkSpec {

  import spark.implicits._

  // keys whose UTF-16 order differs from their UTF-8 byte order (the
  // merge compares bytes), plus prefixes of each other
  private val keys = (0 until 30).map(i => s"c-$i") ++
    Seq("k-！", "k-😀", "k", "k-")

  /** `n` change events on random (key, turn) pairs, in random order, with
    * repeats inside the batch and a share of deletes.
    */
  private def events(lsn0: Long, n: Int, seed: Int): DataFrame = {
    val r = new scala.util.Random(seed)
    (0 until n).map { i =>
      (lsn0 + i, if (r.nextInt(8) == 0) "D" else "U", keys(r.nextInt(keys.size)),
        r.nextInt(6), "user", s"text $lsn0/$i", None: Option[String],
        new java.sql.Timestamp(1704067200000L + (lsn0 + i) * 1000L))
    }.toDF("lsn", "op", "conv_id", "turn_idx", "role", "text", "tool", "ts")
  }

  /** Asserts every live file of `t` is strictly increasing in
    * (conv_id, turn_idx), keys compared as UTF-8 bytes; returns the
    * number of files checked.
    */
  private def assertSorted(t: ChronicleTable, writer: String): Int = {
    val files = t.filesOf(t.loadCurrent())
    assert(files.nonEmpty, s"$writer wrote no files")
    files.foreach { f =>
      val rows = spark.read.parquet(f.path).select("conv_id", "turn_idx").collect()
        .map(r => (UTF8String.fromString(r.getString(0)), r.getInt(1)))
      rows.iterator.sliding(2).withPartial(false).foreach { case Seq(a, b) =>
        val c = a._1.compareTo(b._1)
        assert(c < 0 || (c == 0 && a._2 < b._2),
          s"$writer: ${f.path} is unsorted or repeats a key at $a then $b")
      }
    }
    files.size
  }

  test("every library writer lands sorted, key-unique files: CoW, MOR, compaction range split, rescale") {
    val cow = new ChronicleTable(tmpDir("sorted-cow"))
    cow.create(graft.model.Model.physicalSchemaV1, 4)
    (0 until 3).foreach(i => MergeInto(spark, cow, events(i * 1000L, 300, i), s"w#$i", "t"))
    // an unordered source takes the guarded (per-key _lsn) merge path
    MergeInto(spark, cow, events(5000L, 300, 7), "u#0", "t", orderedSource = false)
    assertSorted(cow, "copy-on-write merge")

    val mor = new ChronicleTable(tmpDir("sorted-mor"))
    mor.create(graft.model.Model.physicalSchemaV1, 4)
    (0 until 4).foreach(i =>
      MergeInto(spark, mor, events(i * 1000L, 300, 10 + i), s"w#$i", "t", mergeOnRead = true))
    assert(mor.filesOf(mor.loadCurrent()).count(_.delta) > 4)
    assertSorted(mor, "merge-on-read merge")
    val visible = mor.read(spark).collect().toSet

    // a tiny target splits every bucket into key ranges
    Compaction(spark, mor, maxFilesPerBucket = 0, targetRowsPerFile = 10L)
    val compacted = mor.filesOf(mor.loadCurrent())
    assert(compacted.groupBy(_.bucket).values.exists(_.size > 1),
      "fixture: compaction must range-split a bucket")
    assertSorted(mor, "compaction")
    assert(mor.read(spark).collect().toSet == visible)

    // deltas on top of the range-split files, folded by the rescale
    MergeInto(spark, mor, events(9000L, 300, 20), "w#4", "t", mergeOnRead = true)
    val beforeRescale = mor.read(spark).filter(!$"_deleted").collect().toSet
    Rescale(spark, mor, 3, targetRowsPerFile = 20L)
    assertSorted(mor, "rescale")
    assert(mor.read(spark).filter(!$"_deleted").collect().toSet == beforeRescale)
  }

  test("an unsorted file in a delta-carrying bucket fails reads and compaction, naming the bucket's files") {
    import graft.table.{DataFileMeta, LineageEntry, PendingCommit}
    val t = new ChronicleTable(tmpDir("sorted-foreign"))
    t.create(graft.model.Model.physicalSchemaV1, 1)
    MergeInto(spark, t, events(0L, 100, 50), "w#0", "t")
    MergeInto(spark, t, events(1000L, 100, 51), "w#1", "t", mergeOnRead = true)
    // a foreign delta: the table's rows, newer, in DESCENDING key order
    val dir = s"${tmpDir("sorted-foreign-file")}/bucket=0"
    t.read(spark).withColumn("_lsn", $"_lsn" + 5000L).repartition(1)
      .sortWithinPartitions($"conv_id".desc, $"turn_idx".desc)
      .write.parquet(dir)
    val foreign = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).head
    val before = t.commit(t.loadCurrent(), PendingCommit("foreign#0", Nil,
      Seq(DataFileMeta(foreign.getPath, spark.read.parquet(foreign.getPath).count(), 0,
        "", "\uffff", delta = true, bytes = foreign.length())),
      None, LineageEntry("foreign#0", "t", -1, -1, 0, 0, 0, 0L, Map.empty, -1L)))
    def failure(f: => Any): String = {
      val e = intercept[Exception](f)
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(_.getMessage).mkString("\n")
    }
    for ((what, msg) <- Seq("read" -> failure(t.read(spark).collect()),
        "compaction" -> failure(Compaction(spark, t)))) {
      assert(msg.contains(s"unsorted or key-duplicated data file ${foreign.getPath}"),
        s"$what: $msg")
      t.filesOf(before).foreach(f =>
        assert(msg.contains(f.path), s"$what: the error does not name ${f.path}:\n$msg"))
      assert(!msg.contains("compact the table"), s"$what: $msg")
    }
    assert(t.loadCurrent().version == before.version)
  }

  test("SQL INSERT/DELETE and the format(graft) stream sink land sorted, key-unique files") {
    val root = tmpDir("sorted-sql")
    spark.conf.set("spark.sql.catalog.gsorted", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gsorted.root", root)
    spark.sql("CREATE TABLE gsorted.t (conv_id string, turn_idx int, role string, " +
      "text string, tool string, ts timestamp) TBLPROPERTIES ('buckets'='3')")
    (0 until 2).foreach { i =>
      events(i * 1000L, 200, 30 + i).filter($"op" =!= "D")
        .select($"conv_id", $"turn_idx", $"role", $"text", $"tool", $"ts", $"lsn".as("_lsn"))
        .createOrReplaceTempView("sorted_src")
      spark.sql("INSERT INTO gsorted.t (conv_id, turn_idx, role, text, tool, ts, _lsn) " +
        "SELECT * FROM sorted_src")
    }
    spark.sql("DELETE FROM gsorted.t WHERE conv_id IN ('c-3', 'k-！') OR turn_idx = 2")
    assertSorted(new ChronicleTable(s"$root/t"), "SQL INSERT/DELETE")

    val src = tmpDir("sorted-stream-src")
    (0 until 3).foreach(i =>
      events(i * 1000L, 200, 40 + i).coalesce(1).write.parquet(s"$src/seg=$i"))
    val sinkRoot = s"${tmpDir("sorted-stream")}/t"
    spark.readStream.schema(spark.read.parquet(s"$src/seg=0").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$src/seg=*")
      .writeStream.format("graft")
      .option("path", sinkRoot)
      .option("checkpointLocation", tmpDir("sorted-stream-ckpt"))
      .option("buckets", "3")
      .trigger(Trigger.AvailableNow())
      .start().awaitTermination()
    assertSorted(new ChronicleTable(sinkRoot), "format(graft) stream sink")
  }
}
