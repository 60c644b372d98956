package connbench

/** Order statistics for the benchmark's timings. */
object Stats {

  /** A percentile together with the sample count it was taken from. */
  case class Pct(q: Double, value: Double, samples: Int)

  /** Samples a percentile needs above its rank before it is reported. */
  val MinBeyond = 10

  /** Nearest-rank percentile `q` (0 < q < 100) of `xs`. Refuses (throws)
    * unless at least [[MinBeyond]] samples lie above the chosen rank, so a
    * reported tail percentile is never one lucky sample. */
  def percentile(xs: Seq[Double], q: Double): Pct = {
    require(q > 0 && q < 100, s"percentile $q out of (0, 100)")
    val n = xs.length
    val rank = math.max(1, math.ceil(q / 100.0 * n).toInt)
    val beyond = n - rank
    if (beyond < MinBeyond) throw new IllegalArgumentException(
      s"p$q needs at least $MinBeyond samples beyond it; $n samples leave $beyond")
    Pct(q, xs.sorted.apply(rank - 1), n)
  }

  /** Plain median, for small repeat counts (setup reps, probe reps). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
