package gbench

/** Order statistics and host readings. */
object Stats {

  /** Linear-interpolated quantile of `xs` (q in [0, 1]); NaN when empty. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)

  /** A fixed integer busy loop, timed in ms: when the host is loaded or
    * throttled this reads high, so drift between runs identifies itself.
    * Best of three passes, so one preemption does not decide it. */
  def canaryMs(): Double = {
    def pass(): Double = {
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 20000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        i += 1
      }
      if (x == 42L) println("") // uses x, so the loop is not optimised away
      (System.nanoTime() - t0) / 1e6
    }
    Seq(pass(), pass(), pass()).min
  }

  /** Cumulative (steal, total) CPU ticks of the host from /proc/stat,
    * or None where it is not readable. Steal is time a virtual machine's
    * CPUs were runnable but held by the hypervisor for other guests. */
  def cpuTicks(): Option[(Long, Long)] =
    scala.util.Try {
      val s = scala.io.Source.fromFile("/proc/stat")
      val f = try s.getLines().next().trim.split("\\s+").tail.map(_.toLong) finally s.close()
      (f(7), f.take(8).sum)
    }.toOption

  /** Share of CPU time stolen between two [[cpuTicks]] readings. */
  def stealFrac(a: Option[(Long, Long)], b: Option[(Long, Long)]): Double =
    (for ((s0, t0) <- a; (s1, t1) <- b if t1 > t0) yield (s1 - s0).toDouble / (t1 - t0))
      .getOrElse(Double.NaN)

  /** The 1-minute load average, or NaN where /proc is not readable. */
  def loadAvg1(): Double =
    scala.util.Try {
      val s = scala.io.Source.fromFile("/proc/loadavg")
      try s.mkString.trim.split("\\s+")(0).toDouble finally s.close()
    }.getOrElse(Double.NaN)
}
