package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.Try

/** Host and JVM facts recorded as result metadata, never as metrics. */
object Host {
  private def read(path: String): Option[String] =
    Try(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)))).toOption

  def loadAvg1m: Double =
    read("/proc/loadavg").flatMap(_.split("\\s+").headOption).flatMap(s => Try(s.toDouble).toOption)
      .getOrElse(-1.0)

  /** Host-wide CPU ticks from /proc/stat: (stolen by the hypervisor, all). */
  def cpuTicks: (Long, Long) =
    read("/proc/stat").flatMap(_.linesIterator.find(_.startsWith("cpu "))).map { l =>
      val xs = l.trim.split("\\s+").drop(1).map(_.toLong)
      (if (xs.length > 7) xs(7) else 0L, xs.sum)
    }.getOrElse((0L, 0L))

  /** Share of host CPU time stolen by the hypervisor between two
    * `cpuTicks` readings: other guests competing for the same cores.
    */
  def stealFrac(from: (Long, Long), to: (Long, Long)): Double = {
    val all = to._2 - from._2
    if (all <= 0) 0.0 else (to._1 - from._1).toDouble / all
  }

  def pageCacheMb: Double =
    read("/proc/meminfo").flatMap(_.linesIterator.find(_.startsWith("Cached:")))
      .flatMap(l => Try(l.split("\\s+")(1).toDouble / 1024).toOption).getOrElse(-1.0)

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb: Double =
    read("/proc/self/status").flatMap(_.linesIterator.find(_.startsWith("VmHWM:")))
      .flatMap(l => Try(l.split("\\s+")(1).toDouble / 1024).toOption).getOrElse(-1.0)

  /** Heap still reachable after full collections, in MB: the memory the
    * run's state holds on to, free of when the collector last ran.
    */
  def liveHeapMb(): Double = {
    System.gc()
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def gcTotals: (Long, Long) = {
    val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (beans.map(_.getCollectionTime.max(0L)).sum, beans.map(_.getCollectionCount.max(0L)).sum)
  }

  def facts(): Seq[(String, Any)] = Seq(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "page_cache_mb" -> pageCacheMb,
    "max_heap_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
    "jdk" -> System.getProperty("java.version"),
    "spark" -> org.apache.spark.SPARK_VERSION)
}
