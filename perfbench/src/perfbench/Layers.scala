package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, from the listener's records and the
  * spans. Each is a per-pass total, reported as the median over the
  * traced passes, or a set-up total.
  */
object Layers {

  private def inside(p: Pass, t: Double) = p.start <= t && t <= p.end

  def report(r: Run, passes: Seq[Pass]): Unit = {
    val probe = r.probeRecords
    val jobs = probe.jobs
    val stages = probe.stages
    r.trace.attach(jobs, stages)
    val spans = r.trace.all
    val self = r.trace.selfTimes
    val traced = passes.filter(_.traced)
    if (traced.isEmpty) return

    def perPass(name: String, unit: String)(f: Pass => Double): Unit =
      r.metric(name, Stats.median(traced.map(f)), unit)

    val stagesOf = traced.map(p => p -> stages.filter(s => inside(p, s.start.toDouble))).toMap
    def stageSum(p: Pass)(f: StageRec => Double) = stagesOf(p).map(f).sum
    val ops = spans.filter(_.kind == "query")
    def opsOf(p: Pass) = ops.filter(s => inside(p, s.start))

    perPass("queries.jobs", "count")(p => jobs.count(j => inside(p, j.submit.toDouble)))
    perPass("queries.stages", "count")(p => stagesOf(p).size)
    perPass("queries.tasks", "count")(p => stageSum(p)(_.tasks))
    perPass("queries.build_s", "s")(p =>
      spans.filter(s => s.kind == "build" && inside(p, s.start)).map(_.duration).sum / 1000)
    perPass("queries.plan_s", "s")(p =>
      probe.executions.filter(e => inside(p, e.end.toDouble)).map(_.planMs).sum / 1000.0)
    perPass("queries.floor_s", "s")(p => opsOf(p).map { op =>
      val us = (x: Double) => (x * 1000).round
      val iv = stagesOf(p).map(s => (s.start * 1000, s.end * 1000))
      Stats.uncovered(us(op.start), us(op.end), iv) / 1e6
    }.sum)

    perPass("exec.run_s", "s")(p => stageSum(p)(_.runMs) / 1000)
    perPass("exec.cpu_s", "s")(p => stageSum(p)(_.cpuNs) / 1e9)
    perPass("exec.gc_s", "s")(p => stageSum(p)(_.gcMs) / 1000)
    perPass("exec.core_busy", "ratio")(p =>
      stageSum(p)(_.runMs) / ((p.end - p.start) * r.cores))
    perPass("shuffle.write_bytes", "bytes")(p => stageSum(p)(_.shuffleWriteBytes))
    perPass("shuffle.read_bytes", "bytes")(p => stageSum(p)(_.shuffleReadBytes))
    perPass("shuffle.records", "count")(p => stageSum(p)(_.shuffleRecords))
    perPass("shuffle.fetch_wait_s", "s")(p => stageSum(p)(_.fetchWaitMs) / 1000)
    perPass("spill.bytes", "bytes")(p => stageSum(p)(_.spillBytes))
    perPass("input.bytes", "bytes")(p => stageSum(p)(_.inputBytes))
    perPass("driver.result_bytes", "bytes")(p => stageSum(p)(_.resultBytes))
    // tasks under 5 ms are dominated by launch jitter, not data skew
    perPass("stage.skew", "ratio")(p => (stagesOf(p)
      .filter(s => s.tasks >= 2 && s.medianTaskMs >= 5)
      .map(s => s.maxTaskMs / s.medianTaskMs) :+ 1.0).max)

    for (kind <- Seq("pass", "query", "build", "materialize", "job", "stage")) {
      val ofKind = spans.filter(_.kind == kind)
      perPass(s"self.${kind}_s", "s")(p =>
          ofKind.filter(s => inside(p, s.start)).map(s => self(s.id)).sum / 1000)
    }

    val tracedWall = Stats.median(traced.map(p => (p.end - p.start) / 1000))
    r.metric("trace.traced_wall_s", tracedWall, "s")
    r.metric("trace.overhead", Stats.traceOverhead(passes.map(p => p.end - p.start)), "ratio")

    jvm(r)
  }

  /** JVM-wide totals since start. */
  def jvm(r: Run): Unit = {
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    r.metric("jvm.gc_s", gcMs / 1000.0, "s")
    r.metric("jvm.jit_s", ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0, "s")
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    val mb = 1024.0 * 1024.0
    r.metric("jvm.heap_peak_mb", pools.filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / mb, "MB")
    r.metric("jvm.code_cache_mb", pools.filter(_.getName.startsWith("CodeHeap"))
      .map(_.getUsage.getUsed).sum / mb, "MB")
  }

  /** The `jobs` and `ml` layers, from the legs of the set-up chain. */
  def lifecycle(r: Run, rowsIn: Long, rowsOut: Long, trainRows: Long, iters: Int): Unit = {
    val probe = r.probeRecords
    val legs = r.trace.all.filter(_.kind == "leg")
    def legS(names: String*) = legs.filter(l => names.contains(l.name)).map(_.duration).sum / 1000
    def inLeg(name: String)(t: Double) = legs.exists(l => l.name == name && l.start <= t && t <= l.end)
    val curate = probe.stages.filter(s => inLeg("curate")(s.start.toDouble))

    r.metric("jobs.curate_s", legS("curate"), "s")
    r.metric("jobs.curate.jobs", probe.jobs.count(j => inLeg("curate")(j.submit.toDouble)).toDouble, "count")
    r.metric("jobs.curate.shuffle_bytes", curate.map(_.shuffleWriteBytes).sum.toDouble, "bytes")
    r.metric("jobs.curate.floor_s", legs.filter(_.name == "curate").map { l =>
      val us = (x: Double) => (x * 1000).round
      Stats.uncovered(us(l.start), us(l.end), curate.map(s => (s.start * 1000, s.end * 1000))) / 1e6
    }.sum, "s")
    r.metric("jobs.curate.rows_in", rowsIn.toDouble, "count")
    r.metric("jobs.curate.rows_out", rowsOut.toDouble, "count")
    r.metric("ml.model_s", legS("train", "features", "test"), "s")
    r.metric("ml.train_jobs", probe.jobs.count(j => inLeg("train")(j.submit.toDouble)).toDouble, "count")
    r.metric("ml.iter_s", legS("train") / iters, "s")
    r.metric("ml.samples_per_s", trainRows * iters / legS("train"), "1/s")
  }
}
