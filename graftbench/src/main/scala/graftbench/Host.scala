package graftbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** The machine a run measured, recorded beside its metrics so that a later
  * reader can tell a slower host from slower code. */
object Host {
  private def procField(file: String, key: String): Option[Double] = {
    val p = Paths.get(file)
    if (!Files.exists(p)) None
    else Files.readAllLines(p).asScala.collectFirst {
      case l if l.startsWith(key + ":") => l.stripPrefix(key + ":").trim.split("\\s+")(0).toDouble
    }
  }

  /** Jiffies of the aggregate `cpu` line of /proc/stat: (steal, total). */
  def cpuTimes: (Long, Long) = {
    val p = Paths.get("/proc/stat")
    if (!Files.exists(p)) (0L, 0L)
    else Files.readAllLines(p).asScala.collectFirst {
      case l if l.startsWith("cpu ") =>
        val f = l.trim.split("\\s+").drop(1).map(_.toLong)
        (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    }.getOrElse((0L, 0L))
  }

  /** Share of the host's CPU time the hypervisor stole since `from`, in %. */
  def stealPct(from: (Long, Long)): Double = {
    val (s1, t1) = cpuTimes
    if (t1 <= from._2) 0.0 else 100.0 * (s1 - from._1) / (t1 - from._2)
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb: Double = procField("/proc/self/status", "VmHWM").getOrElse(0.0) / 1024.0

  /** nproc, MemTotal and driver heap, plus the engine's fixed-work CPU
    * canary (single-thread and all-core Mops). */
  def record(report: Report, cores: Int): Unit = {
    report.host("nproc") = cores.toDouble
    report.host("mem_total_mb") = procField("/proc/meminfo", "MemTotal").getOrElse(0.0) / 1024.0
    report.host("driver_heap_mb") = Runtime.getRuntime.maxMemory() / 1048576.0
    val (single, allCore) = graft.Bench.cpuCanary(cores)
    report.host("canary_single_mops") = single
    report.host("canary_allcore_mops") = allCore
  }
}
