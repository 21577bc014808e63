package perfbench

import graft.model.Model
import graft.model.Model.ChangeEvent
import graft.table.ChronicleTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** State of one benchmark run: the shared session, the scratch directory,
  * the tracer, and what the workload reports — metrics, correctness gates
  * and the operation tally.
  */
final class Run(val spark: SparkSession, val work: Path, val seed: Long,
    val seconds: Int, val tracer: Tracer) {

  val nproc: Int = spark.sparkContext.defaultParallelism
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val notes = mutable.ArrayBuffer[String]()
  val gates = mutable.ArrayBuffer[(String, Boolean, String)]()
  /** Workload sizes and rates, for the run record. */
  val sizes = mutable.LinkedHashMap[String, Any]()
  /** Per role, the traced window: [start, end] on the tracer clock. */
  val windows = mutable.LinkedHashMap[String, (Long, Long)]()
  private val counter = new java.util.concurrent.atomic.AtomicInteger(0)
  @volatile var attempted = 0L
  @volatile var failed = 0L

  def op(ok: Boolean): Unit = synchronized {
    attempted += 1
    if (!ok) failed += 1
  }

  def note(s: String): Unit = notes.synchronized(notes += s)

  def metric(name: String, value: Double, unit: String): Unit =
    metrics(name) = (value, unit)

  /** Record the tail of `samples` (seconds) as `name`: the highest
    * percentile with at least ten samples beyond it, noting which one and
    * the sample count. With fewer than 20 samples there is no such
    * percentile and the metric is left out.
    */
  def tail(name: String, samples: Seq[Double]): Unit =
    Stats.tailPercentile(samples.size) match {
      case Some(p) =>
        metric(name, Stats.percentile(samples, p), "s")
        note(s"$name = p$p of n=${samples.size} samples")
      case None =>
        note(s"$name not reported: n=${samples.size} samples leave fewer than ten beyond the median")
    }

  def gate(name: String, ok: Boolean, detail: String): Unit =
    gates += ((name, ok, detail))

  /** A new empty directory under the run's scratch directory. */
  def fresh(name: String): String = {
    val p = work.resolve(s"$name-${counter.incrementAndGet()}")
    Files.createDirectories(p)
    p.toString
  }

  def window(role: String, start: Long, end: Long): Unit =
    windows(role) = (start, end)

  /** Seconds since `t0` (System.nanoTime). */
  def since(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Gate: the table's visible state equals the reference reduction, row
    * for row, compared by a content digest under (conv_id, turn_idx).
    */
  def stateGate(table: ChronicleTable, expected: Map[(String, Int), ChangeEvent]): Unit = {
    import spark.implicits._
    val ref = expected.values.toSeq
      .map(e => (e.conv_id, e.turn_idx, e.role, e.text, e.tool, e.ts))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val state0 = table.read(spark).filter(!col(Model.deletedColumn))
    val state =
      if (state0.columns.contains("tool")) state0
      else state0.withColumn("tool", lit(null).cast("string"))
    def digest(df: org.apache.spark.sql.DataFrame, tag: String) =
      df.select(col("conv_id"), col("turn_idx"),
        xxhash64(col("role"), col("text"), coalesce(col("tool"), lit("\u0000")),
          col("ts")).as(tag))
    val joined = digest(ref, "want").join(digest(state, "got"),
      Seq("conv_id", "turn_idx"), "full_outer")
    val bad = joined.filter(col("want").isNull || col("got").isNull ||
      col("want") =!= col("got")).count()
    val rows = state.count()
    gate("final table equals the reference reduction", bad == 0L,
      s"$bad of ${expected.size} keys differ or are missing ($rows visible rows)")
  }

  /** Remove a directory tree (scratch tables between repetitions). */
  def delete(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
  }
}
