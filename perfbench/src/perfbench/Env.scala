package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Process and host readings: CPU time, GC time, peak RSS, hypervisor
  * steal and load average. Readings the host does not offer come back as
  * -1, so a run on another kernel still completes. */
object Env {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of this JVM, all threads, user + sys. */
  def processCpuS: Double = os.getProcessCpuTime / 1e9

  /** GC time of this JVM across all collectors. In local mode the
    * executors share the JVM, so this is every task's GC too. */
  def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  private def procLines(path: String): Seq[String] =
    try Files.readAllLines(Paths.get(path)).asScala.toSeq
    catch { case _: java.io.IOException => Seq.empty }

  /** Peak resident set of this process (`VmHWM`), MB. */
  def peakRssMb: Double =
    procLines("/proc/self/status").find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  /** Host-wide hypervisor steal since boot, seconds (the 8th field of the
    * `cpu` line of /proc/stat, in clock ticks of 1/100 s). */
  def stealS: Double =
    procLines("/proc/stat").find(_.startsWith("cpu ")).map { l =>
      val f = l.trim.split("\\s+")
      if (f.length > 8) f(8).toDouble / 100.0 else -1.0
    }.getOrElse(-1.0)

  def loadAvg: Double = os.getSystemLoadAverage

  def nproc: Int = Runtime.getRuntime.availableProcessors

  def heapMb: Long = Runtime.getRuntime.maxMemory >> 20
}
