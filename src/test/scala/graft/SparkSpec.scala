package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, forked by sbt). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def tmpDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    p.toFile.deleteOnExit()
    p.toString
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  def tmpDir(prefix: String): String = SparkSpec.tmpDir(prefix)

  /** The graft scans of a DataFrame's optimized plan: each `GraftScan`,
    * read by Spark's tasks or, pinned to one key, wrapped in the
    * planning-thread `GraftLocalScan`. Optimizes the query; plans nothing
    * physical, so reads nothing.
    */
  private[graft] def graftScans(df: org.apache.spark.sql.DataFrame): Seq[graft.sql.GraftScan] =
    df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r.scan
    }.collect {
      case s: graft.sql.GraftScan => s
      case l: graft.sql.GraftLocalScan => l.scan
    }

  /** The data files a DataFrame's graft scans planned: the partitions of
    * every scan in [[graftScans]] (`Dataset.inputFiles` sees no files under
    * a DSv2 relation).
    */
  private[graft] def plannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] =
    graftScans(df).flatMap(_.planInputPartitions()).flatMap(partitionPaths)

  /** The data files one scan partition reads. */
  private[graft] def partitionPaths(p: org.apache.spark.sql.connector.read.InputPartition)
      : Seq[String] =
    p.asInstanceOf[graft.sql.GraftPartition].files.map(_.filePath.toPath.toString)
}
