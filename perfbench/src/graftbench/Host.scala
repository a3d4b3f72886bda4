package graftbench

import java.lang.management.ManagementFactory

import scala.util.Try

/** Process and host readings from `/proc` and the JVM beans.
  *
  * The host fields (steal, cgroup throttle, median MHz) say whether a run
  * was slowed from outside the guest; they are reported beside the
  * metrics so a noisy run can be recognised, never folded into them.
  */
object Host {

  private def lines(path: String): Seq[String] =
    Try {
      val src = scala.io.Source.fromFile(path)
      try src.getLines().toVector
      finally src.close()
    }.getOrElse(Seq.empty)

  private lazy val tickHz: Double =
    Try {
      val p = new ProcessBuilder("getconf", "CLK_TCK").start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8").trim
      p.waitFor()
      out.toDouble
    }.toOption.filter(_ > 0).getOrElse(100.0)

  /** Whole-host steal seconds so far (the `/proc/stat` "cpu" line). */
  def stealSec: Double =
    lines("/proc/stat").headOption
      .map(_.trim.split("\\s+").drop(1).map(_.toLong))
      .flatMap(_.lift(7))
      .map(_ / tickHz)
      .getOrElse(0.0)

  /** Cumulative cgroup CPU-throttle seconds (v1 `throttled_time` ns, v2 `throttled_usec`). */
  def throttledSec: Double = {
    def read(path: String, key: String, scale: Double): Option[Double] =
      lines(path).collectFirst { case l if l.startsWith(key) => l.split("\\s+")(1).toDouble / scale }
    read("/sys/fs/cgroup/cpu/cpu.stat", "throttled_time", 1e9)
      .orElse(read("/sys/fs/cgroup/cpu.stat", "throttled_usec", 1e6))
      .getOrElse(0.0)
  }

  /** Median `cpu MHz` over the host's cores; 0 when unavailable. */
  def medianMhz: Double = {
    val vs = lines("/proc/cpuinfo").collect {
      case l if l.startsWith("cpu MHz") => l.split(":")(1).trim.toDouble
    }.sorted
    if (vs.isEmpty) 0.0 else vs(vs.length / 2)
  }

  /** Peak resident set (`VmHWM`) of this process in MiB. */
  def peakRssMb: Double =
    lines("/proc/self/status").collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)

  /** CPU seconds this JVM has used, all threads. */
  def processCpuSec: Double =
    ManagementFactory.getOperatingSystemMXBean match {
      case b: com.sun.management.OperatingSystemMXBean => b.getProcessCpuTime / 1e9
      case _ => 0.0
    }

  /** Steal, throttle and MHz accrued between `start` and `end` readings. */
  final case class Reading(steal: Double, throttle: Double) {
    def until(end: Reading, mhz: Double): Map[String, Double] = Map(
      "steal_s" -> (end.steal - steal),
      "throttle_s" -> (end.throttle - throttle),
      "median_mhz" -> mhz)
  }
  def reading(): Reading = Reading(stealSec, throttledSec)
}
