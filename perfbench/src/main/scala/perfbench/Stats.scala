package perfbench

/** The benchmark's arithmetic over time intervals and samples. All times
  * are seconds on one clock. */
object Stats {

  final case class Iv(start: Double, end: Double) {
    def len: Double = end - start
  }

  /** Overlapping or touching intervals merged; sorted and disjoint. */
  def union(ivs: Seq[Iv]): Seq[Iv] =
    ivs.filter(_.len > 0).sortBy(_.start).foldLeft(List.empty[Iv]) {
      case (last :: rest, iv) if iv.start <= last.end =>
        Iv(last.start, math.max(last.end, iv.end)) :: rest
      case (acc, iv) => iv :: acc
    }.reverse

  /** Length of `window` covered by at least one of `ivs`. */
  def coveredWithin(ivs: Seq[Iv], window: Iv): Double =
    union(ivs.map(i => Iv(math.max(i.start, window.start),
      math.min(i.end, window.end)))).map(_.len).sum

  /** The parts of `window` that no interval covers. */
  def gaps(ivs: Seq[Iv], window: Iv): Seq[Iv] = {
    val u = union(ivs.map(i => Iv(math.max(i.start, window.start),
      math.min(i.end, window.end))))
    val edges = window.start +: u.flatMap(i => Seq(i.start, i.end)) :+ window.end
    edges.grouped(2).collect { case Seq(a, b) if b > a => Iv(a, b) }.toSeq
  }

  /** A span's own time: its duration minus the part its children cover. */
  def selfTime(span: Iv, children: Seq[Iv]): Double =
    span.len - coveredWithin(children, span)

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail sample: the highest order statistic that still has at
    * least `beyond` samples above it, with its percentile. With `beyond`
    * or fewer samples no sample qualifies, and the maximum is returned
    * at percentile 100. */
  final case class Tail(value: Double, percentile: Double, samples: Int)

  def tail(xs: Seq[Double], beyond: Int = 10): Tail = {
    require(xs.nonEmpty, "tail of no samples")
    val s = xs.sorted
    val n = s.size
    if (n <= beyond) Tail(s.last, 100.0, n)
    else Tail(s(n - 1 - beyond), 100.0 * (n - beyond) / n, n)
  }
}
