package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import scala.jdk.CollectionConverters._

/** JVM-wide probes read around one `Pipeline.run`: process CPU time and the
  * live heap, i.e. the heap in use right after each collection. Resident
  * memory is no use here: it climbs to `-Xmx` and stays there. */
final class Probes {
  private val heapPools: Set[String] = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val samples = scala.collection.mutable.ArrayBuffer.empty[Long]

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val live = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        Probes.this.synchronized(samples += live)
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  /** Starts a window: collects first so the previous run's garbage is not
    * counted, then clears the readings. */
  def reset(): Unit = {
    System.gc()
    synchronized(samples.clear())
  }

  def cpuNanos: Long = os.getProcessCpuTime

  /** Post-collection heap readings since [[reset]], in MB. */
  def liveHeapMb: Seq[Double] = synchronized(samples.map(_ / 1048576.0).toSeq)
}
