package graft.ingestbench

/** Order statistics for the benchmark's timings. */
object Stats {

  /** Percentiles a tail is chosen from, highest first. */
  val TailLadder: Seq[Double] = Seq(99.0, 95.0, 90.0, 75.0, 50.0)

  /** The tail reported for `n` samples: the highest ladder percentile with
    * at least 10 samples beyond it. Below 20 samples no percentile
    * qualifies, and the tail falls back to the median; the printed `n`
    * says so.
    */
  def tailPct(n: Int): Double =
    TailLadder.find(p => n * (100.0 - p) / 100.0 >= 10.0).getOrElse(50.0)

  /** Nearest-rank percentile: the smallest sample with at least `p`% of
    * the samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt.max(1)
    s(rank - 1)
  }

  final case class Summary(n: Int, p50: Double, tailPct: Double, tail: Double)

  def summarize(xs: Seq[Double]): Summary = {
    val p = tailPct(xs.size)
    Summary(xs.size, percentile(xs, 50.0), p, percentile(xs, p))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }
}
