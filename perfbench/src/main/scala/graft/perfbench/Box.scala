package graft.perfbench

import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** What the machine and the benchmark process are doing: load, CPU
  * steal, process CPU time and peak resident memory, all read from
  * /proc and the JVM's management beans.
  */
object Box {
  private def read(path: String): String =
    try new String(Files.readAllBytes(Paths.get(path)))
    catch { case _: java.io.IOException => "" }

  /** (steal, total) jiffies of the aggregate `cpu` line of /proc/stat. */
  def stealJiffies(): (Long, Long) =
    read("/proc/stat").linesIterator.find(_.startsWith("cpu ")) match {
      case Some(line) =>
        val f = line.trim.split("\\s+").drop(1).map(_.toLong)
        // user nice system idle iowait irq softirq steal [guest guest_nice]
        (if (f.length > 7) f(7) else 0L, f.take(8).sum)
      case None => (0L, 0L)
    }

  def load1(): Double =
    read("/proc/loadavg").split(" ").headOption
      .flatMap(_.toDoubleOption).getOrElse(0.0)

  /** User plus system CPU of this process, in nanoseconds. */
  def cpuNanos(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => 0L
    }

  /** Peak resident set size (VmHWM) of this process, in MB. */
  def peakRssMb(): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def heapMaxMb(): Double = Runtime.getRuntime.maxMemory / 1048576.0

  /** Milliseconds since the JVM started. */
  def uptimeMs(): Long =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime

  /** Highest 1-minute load average seen by [[sample]]. */
  @volatile private var loadMax = 0.0
  def sample(): Unit = synchronized { loadMax = math.max(loadMax, load1()) }
  def maxLoad: Double = loadMax
}

/** Order statistics over latency samples. */
object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** The highest percentile with at least ten samples beyond it: the
    * sample at rank n-10 (1-based) of n sorted samples, with the
    * percentile it stands for. With 20 samples or fewer that percentile
    * would not lie above the median, and the maximum is reported as
    * percentile 100.
    */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.isEmpty) (0.0, 0.0)
    else if (xs.size <= 20) (xs.max, 100.0)
    else {
      val s = xs.sorted
      val rank = s.size - 10
      (s(rank - 1), 100.0 * rank / s.size)
    }
}

/** JSON output through Jackson, which Spark already ships. */
object Json {
  private val mapper = new ObjectMapper()
  def obj(): ObjectNode = mapper.createObjectNode()
  def write(node: ObjectNode): String = mapper.writeValueAsString(node)
}
