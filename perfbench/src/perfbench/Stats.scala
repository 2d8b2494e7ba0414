package perfbench

/** Order statistics for the reported metrics. */
object Stats {
  /** Fewest samples that must lie strictly beyond a reported percentile. */
  val MinBeyond = 10

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** The `p`-th percentile (nearest rank), or None when fewer than
    * [[MinBeyond]] samples lie above it: a tail figure resting on a
    * handful of samples is not reported at all. */
  def percentile(xs: Seq[Double], p: Double): Option[Double] = {
    require(p > 0 && p < 100, s"percentile $p outside (0, 100)")
    val s = xs.sorted
    if (s.isEmpty) return None
    val rank = math.ceil(p / 100 * s.size).toInt.max(1) // 1-based
    if (s.size - rank < MinBeyond) None else Some(s(rank - 1))
  }
}
