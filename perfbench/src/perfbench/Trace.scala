package perfbench

import scala.collection.mutable.ArrayBuffer

/** One traced interval. Times are epoch milliseconds; `parent` is 0 for
  * the root span.
  */
final case class Span(id: Int, parent: Int, kind: String, name: String,
    start: Double, end: Double) {
  def duration: Double = end - start
}

/** Spans of one benchmark run, kept in memory and written out at the end.
  * Harness spans (workload, pass or leg, operation, fn call,
  * materialisation) are opened and closed around the calls into the
  * program; job and stage spans come from the listener afterwards and
  * nest under the harness span that was open when they were submitted.
  */
final class Trace(val runId: String, @volatile var enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String, String, Double)]
  private var nextId = 1
  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble

  def now(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  /** Runs `body` inside a span of `kind`, closed even if `body` throws. */
  def span[T](kind: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      open = (id, kind, name, now()) :: open
      try body
      finally {
        val (_, k, n, start) = open.head
        open = open.tail
        spans += Span(id, open.headOption.map(_._1).getOrElse(0), k, n, start, now())
      }
    }

  /** Adds the listener's jobs and stages under the harness spans. */
  def attach(jobs: Seq[JobRec], stages: Seq[StageRec]): Unit = {
    val harness = spans.toVector
    val jobSpans = jobs.map { j =>
      val holder = harness.filter(s => s.start <= j.submit && j.submit <= s.end)
        .sortBy(s => s.duration).headOption
      val s = Span(nextId, holder.map(_.id).getOrElse(0), "job", s"job ${j.jobId}",
        j.submit.toDouble, math.max(j.end, j.submit).toDouble)
      nextId += 1
      (j, s)
    }
    spans ++= jobSpans.map(_._2)
    stages.foreach { st =>
      val parent = jobSpans.find { case (j, s) =>
        j.stageIds.contains(st.stageId) && s.start <= st.start && st.start <= s.end
      }.map(_._2.id).getOrElse(0)
      spans += Span(nextId, parent, "stage", s"stage ${st.stageId}.${st.attempt}",
        st.start.toDouble, st.end.toDouble)
      nextId += 1
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** Each span's duration minus the part of it its children cover (ms). */
  def selfTimes: Map[Int, Double] = Trace.selfTimes(spans.toSeq)

  def toJson: String = spans.map { s =>
    val name = s.name.replace("\\", "\\\\").replace("\"", "\\\"")
    f"""{"run":"$runId","id":${s.id},"parent":${s.parent},"kind":"${s.kind}",""" +
      f""""name":"$name","start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Trace {
  def selfTimes(spans: Seq[Span]): Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val us = (x: Double) => (x * 1000).round
      val kids = children.getOrElse(s.id, Nil).map(c => (us(c.start), us(c.end)))
      s.id -> Stats.uncovered(us(s.start), us(s.end), kids) / 1000.0
    }.toMap
  }
}
