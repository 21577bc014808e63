package perfbench

import com.sun.management.GarbageCollectionNotificationInfo

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

/** JVM and host readings taken around the timed part of a run. */
object Probe {

  /** (steal, total) jiffies from the aggregate cpu line of /proc/stat. */
  def cpuJiffies(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      finally src.close()
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case _: Throwable => (0L, 0L) }

  def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 <= a._2) 0.0 else (b._1 - a._1).toDouble / (b._2 - a._2)

  /** Cumulative collector time of this JVM, seconds. */
  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3
}

/** Peak heap in use right after a full collection, in MB: the live data the
  * driver holds, not the garbage between collections. Listens to the
  * collectors' end-of-GC notifications while armed; `finish` forces one
  * full collection so every run has at least one reading.
  */
final class HeapPeak {
  @volatile private var armed = false
  @volatile private var peak = 0L

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        if (info.getGcAction.contains("major")) record()
      }
  }

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)

  private def record(): Unit = {
    val used = heapPools.flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
    synchronized { peak = math.max(peak, used) }
  }

  def start(): Unit = {
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ => ()
    }
    armed = true
  }

  def finish(): Double = {
    System.gc()
    record()
    armed = false
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter =>
        try e.removeNotificationListener(listener) catch { case _: Throwable => () }
      case _ => ()
    }
    val bytes = synchronized(peak)
    bytes / 1048576.0
  }
}
