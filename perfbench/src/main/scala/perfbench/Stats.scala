package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

/** A named measurement with its unit and the number of samples behind it. */
final case class Metric(name: String, value: Double, unit: String, n: Int)

object Stats {
  val mapper = new ObjectMapper()

  /** Linear-interpolated percentile (numpy's default); `p` in [0, 100]. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted.toIndexedSeq
    val r = p / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.ceil(r).toInt
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }

  def median(xs: Seq[Double]): Double = pct(xs, 50)

  def secs(ns: Long): Double = ns / 1e9

  def ms(ns: Long): Double = ns / 1e6

  /** `/proc/loadavg`'s 1- and 5-minute figures, or nothing off Linux. */
  def loadavg(): Seq[Double] =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .trim.split("\\s+").take(2).toSeq.map(_.toDouble)
    catch { case _: Exception => Nil }

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of this JVM, all threads. A virtual machine's steal time is
    * not in it; contention for shared caches and cores still moves it. */
  def cpuNs(): Long = os.getProcessCpuTime

  /** `/proc/stat`'s aggregate CPU ticks, or nothing off Linux. */
  def cpuTicks(): Seq[Long] =
    try java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/stat"))
      .get(0).trim.split("\\s+").toSeq.drop(1).map(_.toLong)
    catch { case _: Exception => Nil }

  /** Share of the machine's CPU ticks between two `cpuTicks` readings that
    * the hypervisor gave to other guests (the `steal` column). */
  def stealShare(a: Seq[Long], b: Seq[Long]): Double = {
    val d = b.zip(a).map { case (y, x) => y - x }
    if (d.size < 8 || d.sum <= 0) 0.0 else d(7).toDouble / d.sum
  }

  def obj(): ObjectNode = mapper.createObjectNode()

  /** One bare, machine-parseable line per named metric. */
  def metricLine(m: Metric, key: String = "metric"): String =
    mapper.writeValueAsString(obj().put(key, m.name).put("value", m.value)
      .put("unit", m.unit).put("n", m.n))
}
