package graft.perfbench

/** Host signals stored with every run as metadata (the ones graft.Bench
  * samples): the CPU share other processes took, the hypervisor steal
  * fraction, and a fixed-work single-thread LCG canary whose time tracks
  * the machine's speed, not graft's. None of them is a metric. */
final class Host {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val stealStart = Host.stealJiffies()
  @volatile private var otherMax = -1.0
  otherCpu() // the first call only primes the interval counters

  /** CPU share of other processes since the previous call; -1 when unknown. */
  def otherCpu(): Double = {
    val all = os.getCpuLoad
    val self = os.getProcessCpuLoad
    val other = if (all < 0 || self < 0) -1.0 else math.max(0.0, all - self)
    otherMax = math.max(otherMax, other)
    other
  }

  def record(canaryStartS: Double): Map[String, Double] = {
    otherCpu()
    val (s1, t1) = Host.stealJiffies()
    val (s0, t0) = stealStart
    Map("other_cpu_max" -> otherMax,
      "steal_frac" -> (if (s0 >= 0 && t1 > t0) (s1 - s0).toDouble / (t1 - t0) else -1.0),
      "canary_start_s" -> canaryStartS, "canary_end_s" -> Host.canary())
  }
}

object Host {
  /** Seconds for a fixed 100M-step integer LCG on one thread. */
  def canary(): Double = {
    val t0 = System.nanoTime()
    var x = 0x2545F4914F6CDD1DL
    var i = 0
    while (i < 100000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    if (x == 42L) print("")
    (System.nanoTime() - t0) / 1e9
  }

  /** Cumulative (steal, total) jiffies of /proc/stat's cpu line; (-1, -1) when unreadable. */
  private def stealJiffies(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val vals = src.getLines().next().split("\\s+").drop(1).take(8).map(_.toLong)
        (if (vals.length > 7) vals(7) else -1L, vals.sum)
      } finally src.close()
    } catch { case scala.util.control.NonFatal(_) => (-1L, -1L) }
}
