package cdcbench

/** Accounting rules for reported timings. */
object Stats {

  /** Samples a nearest-rank percentile must have beyond it to be reported. */
  val MinBeyond = 10

  def median(xs: collection.Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Nearest-rank `p`-th percentile (the ceil(p/100·n)-th smallest sample).
    * Fails unless at least [[MinBeyond]] samples lie beyond it: a tail
    * read off fewer samples is the maximum in disguise. */
  def percentile(xs: collection.Seq[Double], p: Double): Double = {
    val n = xs.size
    val rank = math.max(1, math.ceil(p / 100.0 * n).toInt)
    require(n - rank >= MinBeyond,
      s"p$p needs $MinBeyond samples beyond rank $rank, have ${n - rank} (n=$n)")
    xs.sorted.apply(rank - 1)
  }

  /** The highest of p99/p95/p90/p75 the sample supports, as (p, value);
    * (0, 0) when even p75 lacks [[MinBeyond]] samples beyond it. */
  def tail(xs: collection.Seq[Double]): (Double, Double) =
    Seq(99.0, 95.0, 90.0, 75.0).find(p => xs.size - math.ceil(p / 100.0 * xs.size) >= MinBeyond)
      .map(p => (p, percentile(xs, p))).getOrElse((0.0, 0.0))

  /** Open-loop latency: measured from when the event was due, not from
    * when the generator got round to it, so a stall also charges the
    * events queued behind it. */
  def openLoopLatency(scheduledNs: Long, visibleNs: Long): Double = (visibleNs - scheduledNs) / 1e9

  /** How late an open-loop generator ran: (max, median) of actual − scheduled. */
  def lateness(scheduledNs: collection.Seq[Long], actualNs: collection.Seq[Long]): (Double, Double) = {
    val lags = scheduledNs.zip(actualNs).map { case (s, a) => math.max(0L, a - s) / 1e9 }
    if (lags.isEmpty) (0.0, 0.0) else (lags.max, median(lags))
  }

  /** Least-squares slope of y over x (per unit of x); 0 for fewer than 2 points. */
  def slope(pts: collection.Seq[(Double, Double)]): Double = {
    if (pts.size < 2) return 0.0
    val mx = pts.map(_._1).sum / pts.size
    val my = pts.map(_._2).sum / pts.size
    val sxx = pts.map(p => (p._1 - mx) * (p._1 - mx)).sum
    if (sxx == 0) 0.0 else pts.map(p => (p._1 - mx) * (p._2 - my)).sum / sxx
  }
}
