package perfbench

/** Order statistics over measured samples (nearest-rank on the sorted set). */
object Stats {
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p * s.size).toInt - 1)))
  }
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** What a workload hands back: units tried, units wrong, the wall-clock
  * instant its first timed unit started, and every metric it measured.
  */
final case class Outcome(attempted: Long, failed: Long, firstUnitMs: Long,
                         metrics: Map[String, Double]) {
  def +(o: Outcome): Outcome =
    Outcome(attempted + o.attempted, failed + o.failed,
      math.min(firstUnitMs, o.firstUnitMs), metrics ++ o.metrics)
}

/** Phase timings on stderr (the run log), for reading where set-up goes. */
object Phase {
  def apply[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally System.err.println(f"[perfbench] ${java.time.LocalTime.now()} $name: " +
      f"${(System.nanoTime() - t0) / 1e9}%.2f s")
  }
}
