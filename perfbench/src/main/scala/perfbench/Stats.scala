package perfbench

/** Order statistics the benchmark reports. */
object Stats {

  /** Median of a non-empty sample (mean of the two middle values when
    * the count is even).
    */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail the benchmark reports beside the median: the highest
    * percentile that still has at least [[TailBeyond]] samples above it.
    *
    * Over the ascending sample `s` of size n, `s(n - TailBeyond - 1)` has
    * exactly `TailBeyond` samples after it, and it sits at percentile
    * `100 * (n - TailBeyond) / n`. With `n <= TailBeyond` no such percentile
    * exists; the median is returned then, with the count of samples
    * above it, so a reader sees that the tail is not resolved.
    */
  case class Tail(value: Double, percentile: Double, samplesBeyond: Int,
                  samples: Int)

  /** Samples the reported tail must have beyond it. */
  val TailBeyond = 10

  def tail(xs: Seq[Double]): Tail = {
    require(xs.nonEmpty, "tail of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n > TailBeyond)
      Tail(s(n - TailBeyond - 1), 100.0 * (n - TailBeyond) / n, TailBeyond, n)
    else Tail(median(s), 50.0, s.count(_ > median(s)), n)
  }
}
