package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

/** Host telemetry read from procfs: process peak RSS, VM steal and
 * pressure-stall totals. Every reader returns -1 when its file is missing,
 * so the benchmark still runs on a kernel without PSI. */
object Host {
  private def lines(path: String): Seq[String] =
    try {
      import scala.jdk.CollectionConverters._
      Files.readAllLines(Paths.get(path)).asScala.toSeq
    } catch { case _: Throwable => Seq.empty }

  /** CPU time this process has used, in ms, all threads. */
  def cpuMs(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6

  /** Peak resident set size of this process (`VmHWM`), in MB. */
  def rssPeakMb(): Double =
    lines("/proc/self/status").find(_.startsWith("VmHWM:"))
      .map(l => l.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)

  /** Cumulative steal time of all CPUs, in ms (field 8 of `cpu`, USER_HZ
   * jiffies; USER_HZ is 100 on every mainstream Linux build). */
  def stealMs(): Long =
    lines("/proc/stat").headOption.map(_.trim.split("\\s+"))
      .filter(_.length > 8).map(f => f(8).toLong * 10L).getOrElse(-1L)

  /** Cumulative `some` stall total of a PSI resource, in ms. */
  def psiMs(resource: String): Long =
    lines(s"/proc/pressure/$resource").find(_.startsWith("some"))
      .map(l => l.substring(l.indexOf("total=") + 6).trim.toLong / 1000L)
      .getOrElse(-1L)

  /** A snapshot of the three cumulative counters; `delta` gives the
   * window between two snapshots (-1 when a counter is unavailable). */
  final case class Snap(steal: Long, psiCpu: Long, psiIo: Long) {
    def delta(later: Snap): Map[String, Double] = {
      def d(a: Long, b: Long): Double = if (a < 0 || b < 0) -1.0 else (b - a).toDouble
      Map("host.steal_ms" -> d(steal, later.steal),
          "host.psi_cpu_ms" -> d(psiCpu, later.psiCpu),
          "host.psi_io_ms" -> d(psiIo, later.psiIo))
    }
  }
  def snap(): Snap = Snap(stealMs(), psiMs("cpu"), psiMs("io"))
}

object Stats {
  /** Linear-interpolation quantile (R-7, the definition numpy and Spark's
   * `percentile` use) of unsorted samples; NaN when empty. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val h = (s.length - 1) * q
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
}
