package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed call from the benchmark into a layer. Times are nanoseconds on
  * the tracer's epoch-aligned clock, so they line up with Spark's
  * millisecond event times. `role` is the benchmark thread that made the
  * call; `trace` groups the spans of one batch, set, lookup or poll.
  */
case class Span(id: Long, parent: Long, trace: Long, layer: String,
    name: String, role: String, start: Long, end: Long)

/** Counters of one Spark job, filled in by [[JobListener]]. `span` is the
  * benchmark span the job ran under (0 when none).
  */
final class JobRec(val jobId: Int, val span: Long, val submitMs: Long) {
  var endMs: Long = -1L
  var firstTaskMs: Long = Long.MaxValue
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var input = 0L
  var recordsRead = 0L
  var output = 0L
  def queueWaitMs: Long =
    if (firstTaskMs == Long.MaxValue) 0L else math.max(0L, firstTaskMs - submitMs)
}

/** Records every Spark job with its stages' task counters, attributed to the
  * benchmark span named by the job's [[Tracer.SpanProperty]] local property.
  * Listener events arrive on Spark's single listener-bus thread.
  */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toLong).getOrElse(0L)
    jobs.put(e.jobId, new JobRec(e.jobId, span, e.time))
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  private def jobOf(stage: Int): Option[JobRec] =
    Option(stageJob.get(stage)).flatMap(j => Option(jobs.get(j)))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    jobOf(e.stageInfo.stageId).foreach(_.stages += 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    jobOf(e.stageId).foreach { j =>
      j.tasks += 1
      j.firstTaskMs = math.min(j.firstTaskMs, e.taskInfo.launchTime)
      val m = e.taskMetrics
      if (m != null) {
        j.runMs += m.executorRunTime
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        j.input += m.inputMetrics.bytesRead
        j.recordsRead += m.inputMetrics.recordsRead
        j.output += m.outputMetrics.bytesWritten
      }
    }
}

object Tracer {
  /** Spark local property carrying the enclosing span id. Local properties
    * are inherited by threads the call starts (the pipelined drain's
    * prepare thread, broadcast and subquery threads), so their jobs are
    * attributed to the call as well.
    */
  val SpanProperty = "perfbench.span"
}

/** In-memory span recorder. Off, it runs the wrapped call and records
  * nothing; the untraced run measures the end-to-end metrics that way.
  */
final class Tracer(val on: Boolean, sc: SparkContext) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis() * 1000000L
  private val ids = new AtomicLong(0L)
  private val recorded = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  /** Epoch-aligned nanoseconds. */
  def now(): Long = System.nanoTime() - nano0 + epoch0

  def span[T](layer: String, name: String, trace: Long = 0L)(f: => T): T =
    if (!on) f
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      val prop = sc.getLocalProperty(Tracer.SpanProperty)
      sc.setLocalProperty(Tracer.SpanProperty, id.toString)
      stack.set(id :: outer)
      val start = now()
      try f
      finally {
        recorded.add(Span(id, outer.headOption.getOrElse(0L), trace, layer,
          name, Thread.currentThread.getName, start, now()))
        stack.set(outer)
        sc.setLocalProperty(Tracer.SpanProperty, prop)
      }
    }

  def spans: Seq[Span] = recorded.asScala.toSeq
}

/** Per-layer self time over one traced run.
  *
  * A span's self time is its length minus the union of its children; Spark
  * jobs are the children of the span they ran under and form the `spark`
  * layer, counted as the union of the jobs under each span (the pipelined
  * drain runs the next batch's prepare job beside the current write, and
  * wall time spent under two jobs at once is counted once). Per role, idle
  * is the role's window minus the union of its top-level spans, so the self
  * times plus idle time add up to the summed role windows when spans nest.
  */
object LayerReport {

  case class Row(layer: String, spans: Int, totalSec: Double, selfSec: Double)
  case class Report(rows: Seq[Row], idleSec: Map[String, Double],
      wallSec: Map[String, Double]) {
    def accounted: Double =
      (rows.map(_.selfSec).sum + idleSec.values.sum) / math.max(1e-9, wallSec.values.sum)
  }

  def apply(spans: Seq[Span], jobs: Seq[JobRec],
      windows: Map[String, (Long, Long)]): Report = {
    val inWindow = spans.filter(s => windows.get(s.role).exists {
      case (a, b) => s.start >= a && s.end <= b
    })
    val ids = inWindow.map(_.id).toSet
    val jobIv = jobs.filter(j => ids.contains(j.span) && j.endMs >= 0L)
      .groupBy(_.span).map { case (p, js) =>
        p -> js.map(j => (j.submitMs * 1000000L, j.endMs * 1000000L))
      }
    val spanKids = inWindow.filter(s => ids.contains(s.parent)).groupBy(_.parent)
      .map { case (p, ks) => p -> ks.map(k => (k.start, k.end)) }
    val selfNs = inWindow.map { s =>
      val iv = (s.start, s.end)
      val kids = spanKids.getOrElse(s.id, Nil) ++ jobIv.getOrElse(s.id, Nil)
      s -> Stats.selfTime(iv, kids)
    }
    val sparkNs = inWindow.map { s =>
      Stats.unionLength(jobIv.getOrElse(s.id, Nil).map { case (c, d) =>
        (math.max(s.start, c), math.min(s.end, d))
      })
    }.sum
    val byLayer = selfNs.groupBy(_._1.layer).toSeq.map { case (l, xs) =>
      Row(l, xs.size, xs.map(x => x._1.end - x._1.start).sum / 1e9,
        xs.map(_._2).sum / 1e9)
    }
    val sparkJobs = jobIv.values.map(_.size).sum
    val rows = (byLayer :+ Row("spark", sparkJobs,
      jobIv.values.flatten.map { case (a, b) => b - a }.sum / 1e9, sparkNs / 1e9))
      .sortBy(-_.selfSec)
    val idle = windows.map { case (role, (a, b)) =>
      val roots = inWindow.filter(s => s.role == role && !ids.contains(s.parent))
      role -> (b - a - Stats.unionLength(roots.map(s => (s.start, s.end)))) / 1e9
    }
    Report(rows, idle, windows.map { case (r, (a, b)) => r -> (b - a) / 1e9 })
  }

  def render(r: Report): String = {
    val sb = new StringBuilder
    val wall = math.max(1e-9, r.wallSec.values.sum)
    sb ++= f"${"layer"}%-8s ${"spans"}%7s ${"total_s"}%9s ${"self_s"}%9s ${"self%"}%7s\n"
    r.rows.foreach { x =>
      sb ++= f"${x.layer}%-8s ${x.spans}%7d ${x.totalSec}%9.3f ${x.selfSec}%9.3f ${100 * x.selfSec / wall}%6.1f%%\n"
    }
    r.idleSec.toSeq.sortBy(_._1).foreach { case (role, s) =>
      sb ++= f"${"idle:" + role}%-8s ${""}%7s ${""}%9s $s%9.3f ${100 * s / wall}%6.1f%%\n"
    }
    sb ++= f"wall ${r.wallSec.toSeq.sortBy(_._1).map { case (k, v) => f"$k=$v%.3fs" }.mkString(" ")}; " +
      f"self + idle = ${100 * r.accounted}%.1f%% of wall\n"
    sb.toString
  }
}
