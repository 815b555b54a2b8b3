package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Process- and host-level counters of this JVM, read without any Spark
  * listener: CPU from the OperatingSystemMXBean, GC and JIT time and heap
  * use from their MXBeans, Spark's code-generation count, the resident
  * high-water mark from /proc/self/status and host steal from /proc/stat.
  */
object Proc {

  def cpuS(): Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  def gcS(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1e3

  def jitS(): Double = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime / 1e3
    else 0.0
  }

  /** Peak use of the old generation since the last reset: the high-water
    * mark of data that outlived young collections. */
  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getName.contains("Old"))
      .map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L)).sum / 1048576.0

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  /** Heap in use right after a full collection, in MB: what the process
    * keeps reachable, whatever size the collector has grown the heap to. */
  def liveHeapMb(): Double = {
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** `VmHWM` of this process in MB. */
  def peakRssMb(): Double = statusKb("VmHWM") / 1024.0

  private def statusKb(key: String): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/self/status")
      try src.getLines().find(_.startsWith(key + ":"))
        .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
      finally src.close()
    } catch { case _: Exception => 0.0 }

  /** (steal jiffies, total jiffies) of the host's aggregate cpu line. */
  def stealJiffies(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      finally src.close()
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case _: Exception => (0L, 0L) }

  def stealPct(from: (Long, Long), to: (Long, Long)): Double =
    if (to._2 > from._2) 100.0 * (to._1 - from._1) / (to._2 - from._2) else 0.0

  /** Snapshot of the cumulative counters, for deltas over a window. */
  final case class Snap(cpuS: Double, gcS: Double, jitS: Double, codegen: Long,
      steal: (Long, Long), wallNs: Long)

  def snap(): Snap = Snap(cpuS(), gcS(), jitS(), org.apache.spark.sql.perfbench.Codegen.compiles,
    stealJiffies(), System.nanoTime())
}
