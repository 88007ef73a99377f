package perfbench

/** Summaries of timing samples: a median plus the highest percentile the
  * sample supports, i.e. the highest rung of [[Ladder]] that leaves at
  * least [[MinBeyond]] samples above it, with the sample count. */
object Stats {

  final case class Summary(median: Double, upperLabel: String,
                           upper: Double, n: Int)

  val Ladder: Seq[Double] = Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
  val MinBeyond = 10

  /** 1-based nearest rank of percentile `p` among `n` samples (the epsilon
    * keeps 99.9 / 100 * 10000 from rounding up past 9990). */
  def rank(n: Int, p: Double): Int =
    math.min(n, math.max(1, math.ceil(p / 100.0 * n - 1e-9).toInt))

  /** Nearest-rank percentile of an ascending-sorted, non-empty sample. */
  def percentile(sorted: IndexedSeq[Double], p: Double): Double = {
    require(sorted.nonEmpty, "percentile of an empty sample")
    sorted(rank(sorted.length, p) - 1)
  }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toIndexedSeq.sorted
    require(s.nonEmpty, "median of an empty sample")
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** True when at least `MinBeyond` of `n` samples lie beyond percentile `p`. */
  def supports(n: Int, p: Double): Boolean = n > 0 && n - rank(n, p) >= MinBeyond

  /** Highest ladder percentile that `n` samples support, if any. */
  def supportedPercentile(n: Int): Option[Double] = Ladder.find(supports(n, _))

  def summarize(xs: Iterable[Double]): Summary = {
    val s = xs.toIndexedSeq.sorted
    supportedPercentile(s.length) match {
      case Some(p) => Summary(median(s), label(p), percentile(s, p), s.length)
      case None => Summary(median(s), "max", s.last, s.length)
    }
  }

  def label(p: Double): String =
    if (p == p.floor) s"p${p.toInt}" else s"p$p"
}
