package perfbench

/** Self-tests of the harness's statistics, span arithmetic, failure
  * counting and metric names. Run with `python3 perfbench/run.py --selftest`.
  */
object SelfTest {
  private var failures = 0
  private var checks = 0

  private def expect(what: String, ok: Boolean): Unit = {
    checks += 1
    if (!ok) { failures += 1; System.err.println(s"FAIL $what") }
  }

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-9

  private def throws(body: => Any): Boolean =
    try { body; false } catch { case _: IllegalArgumentException => true }

  def main(args: Array[String]): Unit = {
    // percentiles: numpy's linear rule
    val xs = Seq(4.0, 1.0, 3.0, 2.0)
    expect("median of 1..4 is 2.5", close(Stats.median(xs), 2.5))
    expect("p0 is the minimum", close(Stats.percentile(xs, 0), 1))
    expect("p100 is the maximum", close(Stats.percentile(xs, 1), 4))
    expect("p90 of 1..4 interpolates to 3.7", close(Stats.percentile(xs, 0.9), 3.7))
    expect("single sample", close(Stats.percentile(Seq(7.0), 0.9), 7))
    expect("empty sample is refused", throws(Stats.percentile(Nil, 0.5)))
    expect("geomean of 1, 4 is 2", close(Stats.geomean(Seq(1.0, 4.0)), 2))
    expect("geomean refuses zero", throws(Stats.geomean(Seq(0.0, 1.0))))

    // sample-count rule: ten samples beyond the percentile
    expect("p90 needs 100 samples", Stats.samplesFor(0.9) == 100)
    expect("p75 needs 40 samples", Stats.samplesFor(0.75) == 40)
    expect("p50 needs 20 samples", Stats.samplesFor(0.5) == 20)
    val hundred = (1 to 100).map(_.toDouble)
    expect("p90 of 100 samples", close(Stats.tailPercentile(hundred, 0.9), 90.1))
    expect("p90 of 99 samples is refused", throws(Stats.tailPercentile(hundred.tail, 0.9)))

    // interval union and floor
    expect("disjoint union", Stats.unionLength(Seq((0L, 2L), (5L, 6L))) == 3)
    expect("overlapping union", Stats.unionLength(Seq((0L, 5L), (3L, 8L), (1L, 2L))) == 8)
    expect("touching intervals", Stats.unionLength(Seq((0L, 2L), (2L, 4L))) == 4)
    expect("empty and inverted intervals", Stats.unionLength(Seq((3L, 3L), (5L, 1L))) == 0)
    expect("floor: wall 10, stages cover 2..4 and 3..6",
      Stats.uncovered(0, 10, Seq((2L, 4L), (3L, 6L))) == 6)
    expect("floor clips stages to the operation",
      Stats.uncovered(10, 20, Seq((5L, 12L), (18L, 30L))) == 6)
    expect("floor with no stages is the wall", Stats.uncovered(0, 7, Nil) == 7)

    // span self time: duration minus the union of the children
    val spans = Seq(
      Span(1, 0, "pass", "p", 0, 100),
      Span(2, 1, "query", "a", 10, 50),
      Span(3, 1, "query", "b", 40, 90),
      Span(4, 2, "job", "j", 20, 30),
      Span(5, 4, "stage", "s", 22, 29))
    val self = Trace.selfTimes(spans)
    expect("pass self time excludes overlapping children", close(self(1), 20))
    expect("query self time excludes its job", close(self(2), 30))
    expect("leaf self time is its duration", close(self(3), 50) && close(self(5), 7))
    expect("job self time excludes its stage", close(self(4), 3))
    val tr = new Trace("t", enabled = true)
    tr.span("pass", "p")(tr.span("query", "q")(()))
    val recorded = tr.all
    expect("nested spans record their parent", recorded.size == 2 &&
      recorded.find(_.kind == "query").map(_.parent) == recorded.find(_.kind == "pass").map(_.id))
    val off = new Trace("t", enabled = false)
    off.span("pass", "p")(())
    expect("a disabled trace records nothing", off.all.isEmpty)

    // traced passes: pass 0 untraced, then untraced and traced alternate
    expect("traced pass schedule", (0 to 6).map(Stats.tracedPass) ==
      Seq(false, false, true, false, true, false, true))
    expect("overhead against the mean of the untraced neighbours",
      close(Stats.traceOverhead(Seq(50, 12, 11, 8, 8.8, 8)), 0.1))
    expect("a steady drift is no overhead", close(Stats.traceOverhead(Seq(30, 12, 11, 10)), 0))
    expect("pass 0 is no neighbour", close(Stats.traceOverhead(Seq(30, 10, 11, 10)), 0.1))

    // failure counting
    val t = new Tally
    expect("attempt returns the value", t.attempt("ok")(1).contains(1))
    expect("a throw becomes None", t.attempt("boom")(throw new RuntimeException("x")).isEmpty)
    t.check("bad output", ok = false, detail = "mismatch")
    t.check("good output", ok = true, detail = "")
    expect("four attempts, two failures", t.attempted == 4 && t.failed == 2)
    expect("failures are named", t.failureList.map(_._1) == Seq("boom", "bad output"))

    // metric names
    Seq("setup_s", "queries.jobs", "sources.PairGraph.build_s", "a-b").foreach(n =>
      expect(s"valid name $n", Stats.validName(n)))
    Seq("", "has space", "p90%", "x/y", "naïve").foreach(n =>
      expect(s"invalid name '$n'", !Stats.validName(n)))

    println(s"selftest: ${checks - failures}/$checks passed")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
