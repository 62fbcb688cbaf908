package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Process, JVM and host counters, read from outside the engine. Taken at
  * the start and end of a timed window, their difference says whether a
  * slow run was slow because of the collector, the JIT, or other processes
  * on the host.
  */
object Probe {
  final case class Snap(wallNs: Long, cpuS: Double, gcMs: Long, jitMs: Long, classes: Long, hostBusyS: Double,
      stealS: Double)

  /** What happened between two snaps. `extLoadCores` is the average number
    * of cores other processes kept busy: host busy time minus this
    * process's CPU time, over the wall time. `stealCores` is the part of it
    * the hypervisor gave to other guests.
    */
  final case class Window(wallS: Double, cpuS: Double, gcMs: Long, jitMs: Long, classesLoaded: Long,
      extLoadCores: Double, stealCores: Double) {
    def json: String =
      f"""{"wall_s":$wallS%.3f,"cpu_s":$cpuS%.3f,"gc_ms":$gcMs,"jit_ms":$jitMs,"classes_loaded":$classesLoaded,"ext_load_cores":$extLoadCores%.3f,"steal_cores":$stealCores%.3f}"""
  }

  def cpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e9
    case _ => Double.NaN
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  def jitMs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Busy and steal CPU seconds of the whole host since boot, from the
    * first line of /proc/stat (user nice system idle iowait irq softirq
    * steal ...).
    */
  def hostBusyStealS(): (Double, Double) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      val idle = f(3) + (if (f.length > 4) f(4) else 0L)
      val steal = if (f.length > 7) f(7) else 0L
      ((f.take(8).sum - idle) / 100.0, steal / 100.0) // USER_HZ
    } finally src.close()
  }

  def snap(): Snap = {
    val (busy, steal) = hostBusyStealS()
    Snap(System.nanoTime(), cpuS(), gcMs(), jitMs(),
      ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount, busy, steal)
  }

  def window(a: Snap, b: Snap): Window = {
    val wall = (b.wallNs - a.wallNs) / 1e9
    val cpu = b.cpuS - a.cpuS
    def cores(s: Double) = if (wall > 0) math.max(0.0, s / wall) else 0.0
    Window(wall, cpu, b.gcMs - a.gcMs, b.jitMs - a.jitMs, b.classes - a.classes,
      cores(b.hostBusyS - a.hostBusyS - cpu),
      cores(b.stealS - a.stealS))
  }

  /** Peak resident set of this JVM in MB (VmHWM). */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def p90(xs: Seq[Double]): Double = quantile(xs, 0.9)
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.length)

  /** Tail of a mix of operation kinds: the p90 of every sample divided by
    * its kind's median, times the geomean of the medians. One kind has too
    * few samples for a p90 with ten beyond it; the pool has enough.
    */
  def pooledP90(kinds: Seq[Seq[Double]]): Double = {
    val rel = kinds.flatMap { k => val m = median(k); k.map(_ / m) }
    p90(rel) * geomean(kinds.map(median))
  }
}
