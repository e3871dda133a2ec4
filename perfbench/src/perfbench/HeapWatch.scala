package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** Peak heap in use right after a garbage collection, from the JVM's GC
  * notifications, between construction and `stop()`. Construction requests
  * one full collection first, so garbage left by set-up does not count;
  * `stop()` requests another, so a region without any GC still reports its
  * live heap. */
final class HeapWatch {
  private val peak = new java.util.concurrent.atomic.AtomicLong(0L)
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.iterator
          .filter { case (pool, _) => heapPools(pool) }.map(_._2.getUsed).sum
        peak.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
      }
  }
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  HeapWatch.fullGc()
  emitters.foreach(_.addNotificationListener(listener, null, null))

  /** Ends the watch; returns the peak in MiB. */
  def stop(): Double = {
    HeapWatch.fullGc()
    Thread.sleep(100) // notifications arrive on a JMX thread
    emitters.foreach(e => try e.removeNotificationListener(listener) catch { case _: Exception => })
    peak.get / 1048576.0
  }
}

object HeapWatch {
  private def gcCount: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionCount).sum

  /** Request a full collection and wait (up to 2 s) until it has run. */
  private def fullGc(): Unit = {
    val gcs = gcCount
    System.gc()
    val deadline = System.nanoTime() + 2000000000L
    while (gcCount == gcs && System.nanoTime() < deadline) Thread.sleep(10)
  }

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  /** CPU seconds this JVM has used, all threads. Time a virtual CPU spends
    * stolen by the host is not charged to it. */
  def cpuSeconds: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** (steal ticks, all ticks) of the machine's CPUs so far, from /proc/stat;
    * zeros where that file does not exist. */
  def cpuTicks: (Long, Long) = {
    val f = java.nio.file.Paths.get("/proc/stat")
    if (!java.nio.file.Files.exists(f)) (0L, 0L)
    else {
      val v = java.nio.file.Files.readAllLines(f).asScala.find(_.startsWith("cpu "))
        .map(_.trim.split("\\s+").drop(1).take(8).map(_.toLong)).getOrElse(Array.fill(8)(0L))
      (v(7), v.sum)
    }
  }

  @volatile private var blackhole = 0L
  /** Keeps a computed value alive so a timed loop cannot be optimised away. */
  def sink(v: Long): Unit = blackhole += v
}
