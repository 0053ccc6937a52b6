package graft.perfbench

/** The benchmark's arithmetic, kept pure so the self-tests pin it. */
object Stats {

  /** Median; the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Percentile by linear interpolation between the closest ranks (the
    * `inclusive` method of Python's `statistics.quantiles`): with a handful
    * of operations per run it moves smoothly instead of jumping a rank. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of nothing")
    require(p >= 0 && p <= 100, s"percentile $p out of [0, 100]")
    val s = xs.sorted
    val h = (s.size - 1) * p / 100
    val lo = h.toInt
    if (lo + 1 >= s.size) s(lo) else s(lo) + (h - lo) * (s(lo + 1) - s(lo))
  }

  /** Operations whose outcome differs from the expected one, as a share of
    * the operations attempted. */
  def failedShare(failed: Long, attempted: Long): Double = {
    require(attempted > 0, "no operations attempted")
    require(failed >= 0 && failed <= attempted, s"$failed of $attempted")
    failed.toDouble / attempted
  }

  /** Self time of each span: its wall time minus its direct children's. */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val childNs = spans.filter(_.parent >= 0).groupMapReduce(_.parent)(s =>
      s.end - s.start)(_ + _)
    spans.map(s => s.id -> (s.end - s.start - childNs.getOrElse(s.id, 0L)))
      .toMap
  }

  /** Self time summed per layer (seconds). */
  def layerSelfSeconds(spans: Seq[Span]): Map[String, Double] = {
    val self = selfTimes(spans)
    spans.groupMapReduce(_.layer)(s => self(s.id) / 1e9)(_ + _)
  }
}
