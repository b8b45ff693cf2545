package perfbench

/** Pure statistics the benchmark reports; covered by [[SelfTest]]. */
object Stats {

  /** Metric names the result line may carry. */
  val MetricName = "[A-Za-z0-9_.-]+".r

  def validName(name: String): Boolean = MetricName.matches(name)

  /** Linear-interpolated percentile (numpy's default rule) of a non-empty
    * sample, `p` in [0, 1].
    */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    require(p >= 0 && p <= 1, s"percentile $p outside [0, 1]")
    val s = xs.sorted
    val rank = p * (s.size - 1)
    val lo = math.floor(rank).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (rank - lo) * (s(hi) - s(lo))
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double = {
    require(xs.nonEmpty && xs.forall(_ > 0), "geomean needs positive samples")
    math.exp(xs.map(math.log).sum / xs.size)
  }

  /** Samples needed before percentile `p` has at least ten samples above
    * it: a tail percentile read from fewer samples is the maximum in
    * disguise.
    */
  def samplesFor(p: Double): Int = math.ceil(10 / (1 - p) - 1e-9).toInt

  /** Percentile `p` of `xs`, refusing a sample too small for it. */
  def tailPercentile(xs: Seq[Double], p: Double): Double = {
    require(xs.size >= samplesFor(p),
      s"p${(p * 100).round} needs ${samplesFor(p)} samples, got ${xs.size}")
    percentile(xs, p)
  }

  /** Whether pass `i` of a traced run is traced. Pass 0 is untraced and
    * takes the warm-up's tail; after it untraced and traced passes
    * alternate, starting untraced: U | U T U T U ...
    */
  def tracedPass(i: Int): Boolean = i > 0 && i % 2 == 0

  /** The tracing overhead from the pass walls of a traced run, in pass
    * order: the median over traced passes of the pass's wall over the mean
    * of its two untraced neighbours', minus 1. The neighbours' mean takes a
    * steady drift within the run out of the ratio; pass 0 is no neighbour.
    */
  def traceOverhead(walls: Seq[Double]): Double = {
    val ratios = (2 until walls.size - 1 by 2)
      .map(i => walls(i) / ((walls(i - 1) + walls(i + 1)) / 2))
    median(ratios) - 1
  }

  /** Total length of the union of half-open intervals [start, end). */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curEnd) {
        if (curEnd > curStart) total += curEnd - curStart
        curStart = s; curEnd = e
      } else if (e > curEnd) curEnd = e
    }
    if (curEnd > curStart) total += curEnd - curStart
    total
  }

  /** Length of [start, end) that no interval covers: for an operation and
    * its stages' active intervals this is the time no stage ran — driver
    * planning, scheduling gaps and driver-side assembly.
    */
  def uncovered(start: Long, end: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
    (end - start) - unionLength(clipped)
  }
}
