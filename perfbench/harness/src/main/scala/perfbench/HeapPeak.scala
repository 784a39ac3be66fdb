package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** The largest heap occupancy seen right after a garbage collection: the
  * high-water mark of data the run kept alive, which depends far less on
  * when collections happen than the peak resident set does. */
object HeapPeak {
  @volatile private var peakBytes = 0L

  private lazy val heapPools: Set[String] =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  def start(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .foreach {
      case e: NotificationEmitter => e.addNotificationListener(
        (n: Notification, _: Any) => record(n), null, null)
      case _ =>
    }

  private def record(n: Notification): Unit =
    if (n.getType == GarbageCollectionNotificationInfo
        .GARBAGE_COLLECTION_NOTIFICATION) {
      val info = GarbageCollectionNotificationInfo.from(
        n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
        case (pool, u) if heapPools(pool) => u.getUsed
      }.sum
      synchronized { if (used > peakBytes) peakBytes = used }
    }

  def peakMb: Double = peakBytes / 1048576.0
}
