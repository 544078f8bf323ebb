package perfbench

/** Order statistics over timing samples. */
object Stats {

  /** A percentile together with the sample count it rests on and how many
    * samples lie strictly beyond it.
    */
  final case class Pct(p: Double, value: Double, samples: Int, beyond: Int)

  /** Nearest-rank percentile: the smallest sample with at least p% of the
    * samples at or below it.
    */
  def percentile(xs: Seq[Double], p: Double): Pct = {
    require(xs.nonEmpty, "percentile of no samples")
    require(p > 0 && p <= 100, s"percentile must be in (0, 100]; got $p")
    val s = xs.sorted
    val rank = math.max(1, math.ceil(p / 100.0 * s.length).toInt)
    val v = s(rank - 1)
    Pct(p, v, s.length, s.count(_ > v))
  }

  /** Median; the mean of the two middle samples for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Tail percentiles to report, highest first. */
  val TailCandidates: Seq[Double] = Seq(99.9, 99, 95, 90, 75)
  /** Samples a tail percentile needs strictly beyond it. */
  val TailMinBeyond = 10

  /** The highest of `TailCandidates` with at least `TailMinBeyond` samples
    * beyond it, or None when even the lowest has too few.
    */
  def highestSupported(xs: Seq[Double]): Option[Pct] =
    TailCandidates.iterator.map(percentile(xs, _)).find(_.beyond >= TailMinBeyond)
}
