package graft.ops

import graft.model.Model
import graft.table.{ChronicleTable, DataFileMeta}
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.CollectionAccumulator

import scala.jdk.CollectionConverters._

/** The one staged write every table-file writer goes through (merge in
  * both modes, compaction, rescale). Each write task folds its file's row
  * count and conv_id / ts / `_lsn` bounds as rows pass and reports them
  * when the file closes — suro's upload notice built while writing
  * (S3FileSink.java:144-154) — so a commit never lists its staging
  * directory or opens a footer.
  */
object StagedWrite {

  /** Write option naming the driver-side accumulator the format reports to. */
  private[ops] val TokenOption = "graft.stagedWriteToken"

  private val accumulators =
    new java.util.concurrent.ConcurrentHashMap[String, CollectionAccumulator[DataFileMeta]]()

  private[ops] def accumulator(token: String): CollectionAccumulator[DataFileMeta] =
    Option(accumulators.get(token)).getOrElse(throw new IllegalStateException(
      s"no staged write is registered under $token"))

  /** Write `rows` (a `bucket` column plus the table columns, partitioned
    * and sorted as the caller wants its files) under a new staging
    * directory of `table`; returns one entry per written file, by path.
    *
    * Only committed task attempts report: the write's tasks are result
    * tasks, and Spark merges a result task's accumulator updates once per
    * partition, from its successful attempt (failed or killed attempts'
    * updates are dropped, a speculative duplicate of a finished partition
    * is ignored). A record carries the attempt's temporary path; its
    * `bucket=N/<file>` tail is the committed path under the staging
    * directory for either committer algorithm.
    */
  def apply(table: ChronicleTable, rows: DataFrame): Seq[DataFileMeta] = {
    val spark = rows.sparkSession
    val staging = table.newStagingDir()
    val acc = spark.sparkContext.collectionAccumulator[DataFileMeta]("graft staged-file stats")
    val token = java.util.UUID.randomUUID().toString
    accumulators.put(token, acc)
    try {
      // INT64 micros: INT96 files carry no ts statistics for readers'
      // row-group pruning. Set without restore (a set/restore pair races
      // under concurrent same-session sink merges); engine sessions set it
      // at construction ([[graft.util.Sessions]]), this covers the rest.
      spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      rows.write.format(classOf[StatsParquetFormat].getName)
        .option(TokenOption, token)
        .options(ForkFreeLocalFileSystem.writeOptions)
        .partitionBy("bucket").mode("overwrite").save(staging)
    } finally accumulators.remove(token)
    val stagingPath = new Path(staging)
    val root = stagingPath.getFileSystem(spark.sessionState.newHadoopConf())
      .makeQualified(stagingPath).toUri.getPath
    acc.value.asScala.toSeq.map { f =>
      val attempt = new Path(f.path)
      val path = s"$root/${attempt.getParent.getName}/${attempt.getName}"
      f.copy(path = path, bucket = ChronicleTable.bucketOfPath(path))
    }.sortBy(_.path)
  }
}

/** Parquet, plus one [[DataFileMeta]] per written file reported to the
  * accumulator that the [[StagedWrite.TokenOption]] write option names.
  */
class StatsParquetFormat extends ParquetFileFormat {
  override def prepareWrite(spark: SparkSession, job: Job,
      options: Map[String, String], dataSchema: StructType): OutputWriterFactory =
    new StatsWriterFactory(super.prepareWrite(spark, job, options, dataSchema),
      StagedWrite.accumulator(options(StagedWrite.TokenOption)))
}

private class StatsWriterFactory(inner: OutputWriterFactory,
    acc: CollectionAccumulator[DataFileMeta]) extends OutputWriterFactory {

  def getFileExtension(context: TaskAttemptContext): String =
    inner.getFileExtension(context)

  def newInstance(path: String, dataSchema: StructType,
      context: TaskAttemptContext): OutputWriter = {
    def ordinal(name: String, types: DataType*): Int =
      dataSchema.fields.indexWhere(f => f.name == name && types.contains(f.dataType))
    val key = ordinal("conv_id", StringType)
    // ts micros are stored as millis, as the manifest keeps them
    val ts = new LongBounds(ordinal("ts", TimestampType, TimestampNTZType, LongType))
    val lsn = new LongBounds(ordinal(Model.lsnColumn, LongType))
    val out = inner.newInstance(path, dataSchema, context)
    new OutputWriter {
      private var rows = 0L
      private var minKey, maxKey: UTF8String = _

      def path(): String = out.path()

      def write(row: InternalRow): Unit = {
        out.write(row)
        rows += 1
        if (key >= 0 && !row.isNullAt(key)) {
          // the row's bytes may live in a reused buffer: keep copies
          val k = row.getUTF8String(key)
          if (minKey == null || k.binaryCompare(minKey) < 0) minKey = k.clone()
          if (maxKey == null || k.binaryCompare(maxKey) > 0) maxKey = k.clone()
        }
        ts.add(row)
        lsn.add(row)
      }

      def close(): Unit = {
        out.close()
        val p = new Path(out.path())
        acc.add(DataFileMeta(out.path(), rows, -1,
          if (minKey == null) "" else minKey.toString,
          if (maxKey == null) "￿" else maxKey.toString,
          if (ts.seen) ts.lo / 1000L else 0L, if (ts.seen) ts.hi / 1000L else 0L,
          minLsn = if (lsn.seen) lsn.lo else -1L, maxLsn = if (lsn.seen) lsn.hi else -1L,
          bytes = p.getFileSystem(context.getConfiguration).getFileStatus(p).getLen))
      }
    }
  }
}

/** Bounds of one long column's non-null values (`ordinal` -1: no column). */
private final class LongBounds(ordinal: Int) {
  var lo, hi = 0L
  var seen = false
  def add(row: InternalRow): Unit = if (ordinal >= 0 && !row.isNullAt(ordinal)) {
    val v = row.getLong(ordinal)
    if (!seen || v < lo) lo = v
    if (!seen || v > hi) hi = v
    seen = true
  }
}

/** Hadoop's local filesystem, with permissions set through `java.nio`:
  * without Hadoop's native IO, `RawLocalFileSystem.setPermission` forks a
  * `chmod` process for every file (and its `.crc`) and directory it
  * creates, several milliseconds each. The bits are the same (644 files,
  * 755 directories under the default umask); a permission with bits
  * beyond rwx, or a filesystem without POSIX permissions, takes Hadoop's
  * own path.
  */
class ForkFreeLocalFileSystem extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

object ForkFreeLocalFileSystem {
  /** Write options that put `file:` through [[ForkFreeLocalFileSystem]] for
    * one write only (Spark copies write options into the job's Hadoop conf,
    * on the driver and in the tasks); uncached, so the cached default never
    * stands in.
    */
  val writeOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")
}

class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort.toInt
    val posix = java.nio.file.attribute.PosixFilePermission.values
    if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
    else try java.nio.file.Files.setPosixFilePermissions(pathToFile(p).toPath,
      posix.indices.filter(i => (bits & (0x100 >> i)) != 0).map(posix(_)).toSet.asJava)
    catch {
      case _: UnsupportedOperationException => super.setPermission(p, permission)
    }
  }
}
