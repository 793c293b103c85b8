package graftbench

/** Order statistics for the benchmark's timings. */
object Stats {

  /** A tail percentile is only worth reporting when at least this many
    * samples lie beyond it; below that it is one or two outliers. */
  val MinTailSamples = 10

  /** Nearest-rank percentile `p` (0 < p < 1) of values that come with a
    * weight (a batch's latency counts once per record in it), or None when
    * less than [[MinTailSamples]] of weight lies beyond it. */
  def weightedPercentile(xs: Seq[(Double, Long)], p: Double): Option[Double] = {
    require(p > 0 && p < 1, s"percentile $p is not in (0, 1)")
    val sorted = xs.filter(_._2 > 0).sortBy(_._1)
    val total = sorted.map(_._2).sum
    val rank = math.ceil(p * total).toLong
    if (total == 0 || total - rank < MinTailSamples) None
    else {
      var seen = 0L
      sorted.find { case (_, w) => seen += w; seen >= rank }.map(_._1)
    }
  }

  /** Median (mean of the two middle values for an even count). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
