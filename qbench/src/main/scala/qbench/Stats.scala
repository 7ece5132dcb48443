package qbench

/** Order statistics used by every workload. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Geometric mean: every operation weighs the same, however long. */
  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.length)
  }

  /** The tail percentile this sample can support: the highest `p`
    * (in whole percent, at most 99) that leaves at least `beyond`
    * samples strictly above its rank. With n samples that is
    * p = floor(100 * (n - beyond) / n). None when n <= beyond.
    */
  def tailPercent(n: Int, beyond: Int = 10): Option[Int] =
    if (n <= beyond) None
    else Some(math.min(99, (100L * (n - beyond) / n).toInt))

  /** Nearest-rank percentile (1-based rank ceil(p/100 * n)). */
  def percentile(xs: Seq[Double], p: Int): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val rank = math.max(1, math.ceil(p / 100.0 * s.length).toInt)
    s(math.min(rank, s.length) - 1)
  }

  /** (percent, value) at [[tailPercent]], or the maximum with the
    * percent reported as 100 when the sample is too small.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): (Int, Double) =
    tailPercent(xs.length, beyond) match {
      case Some(p) => (p, percentile(xs, p))
      case None => (100, xs.max)
    }
}
