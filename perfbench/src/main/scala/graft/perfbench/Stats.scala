package graft.perfbench

/** Summary statistics the benchmark reports. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** A tail percentile: its value, the ladder step chosen, and how many
    * samples lie strictly beyond that step's rank.
    */
  final case class Tail(value: Double, percentile: Double, beyond: Int, samples: Int) {
    def label: String =
      f"p${percentile}%.1f of $samples samples ($beyond beyond)"
  }

  /** Ladder of percentiles the tail rule picks from. A fixed ladder keeps
    * the chosen step the same across runs whose sample counts differ a
    * little, which a rank-based "n - 10" rule would not.
    */
  val Ladder: Seq[Double] = Seq(50.0, 75.0, 90.0, 95.0, 99.0, 99.9)

  /** The highest ladder percentile that has at least `minBeyond` samples
    * beyond it (nearest-rank). With too few samples for any step the
    * median stands in, and `beyond` says how thin the tail was.
    */
  def tail(xs: Seq[Double], minBeyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.length
    def at(p: Double): Tail = {
      val rank = math.max(1, math.ceil(p / 100.0 * n).toInt)
      Tail(s(rank - 1), p, n - rank, n)
    }
    Ladder.reverseIterator.map(at).find(_.beyond >= minBeyond)
      .getOrElse(Tail(median(s), 50.0, n / 2, n))
  }
}
