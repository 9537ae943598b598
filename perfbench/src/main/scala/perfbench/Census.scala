package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import scala.util.Try

/** The host a record was taken on: a wall time only means something
  * next to the cores it ran on and what else the machine was doing. */
object Census {

  /** (steal, total) jiffies summed over all CPUs, from /proc/stat. */
  def cpuJiffies(): Option[(Long, Long)] = Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    val cpu = try src.getLines().next() finally src.close()
    val f = cpu.trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.take(8).sum)
  }.toOption

  /** Steal time as a percentage of CPU time between two samples. */
  def stealPct(a: Option[(Long, Long)], b: Option[(Long, Long)]): Double =
    (for ((s0, t0) <- a; (s1, t1) <- b if t1 > t0) yield 100.0 * (s1 - s0) / (t1 - t0))
      .getOrElse(0.0)

  def loadAvg(): Seq[Double] = Try {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.getLines().next().trim.split("\\s+").take(3).map(_.toDouble).toSeq
    finally src.close()
  }.getOrElse(Nil)

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def collectors: Seq[String] = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).toSeq

  /** Heap in use after a full collection, in MiB. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Cores, collector and heap of this JVM. */
  def host(): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors(),
    "gc_collectors" -> collectors,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
    "java_version" -> System.getProperty("java.version"))
}
