package graftbench

import com.sun.management.GarbageCollectionNotificationInfo

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

object Stats {
  /** Nearest-rank percentile (`p` in 0..100) of `xs`; 0 when empty. */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Peak old-generation occupancy after any collection since [[reset]],
  * from the GC notifications of the JVM's memory MXBeans. A window with
  * no collection reads the occupancy after the last one before it.
  */
object HeapWatch {
  @volatile private var last = 0L
  @volatile private var peak = 0L
  private val oldPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .map(_.getName).filter(n => n.contains("Old Gen") || n.contains("Tenured")).toSet

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, u) =>
          if (oldPools(pool)) synchronized { last = u.getUsed; peak = math.max(peak, last) }
        }
      }
  }

  def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  def reset(): Unit = synchronized { peak = last }

  def peakMb: Double = peak / 1048576.0
}
