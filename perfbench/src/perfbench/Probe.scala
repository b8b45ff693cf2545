package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** What one stage did, summed over its tasks. Times are epoch ms. */
final case class StageRec(
    stageId: Int, attempt: Int, start: Long, end: Long, tasks: Int,
    runMs: Long, cpuNs: Long, gcMs: Long,
    shuffleWriteBytes: Long, shuffleReadBytes: Long, shuffleRecords: Long,
    fetchWaitMs: Long, spillBytes: Long, inputBytes: Long, resultBytes: Long,
    maxTaskMs: Long, medianTaskMs: Double)

final case class JobRec(jobId: Int, submit: Long, end: Long, stageIds: Seq[Int])

/** One finished Dataset action: when it ended and its planning time. */
final case class ExecRec(end: Long, planMs: Long)

/** Listener side of the trace: records jobs, stages (with their tasks'
  * metrics) and the planning phases of every Dataset action, in memory.
  * Attached only during the traced passes of a traced run; nothing here
  * feeds an end-to-end metric.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  private val jobStarts = new ConcurrentLinkedQueue[(Int, Long, Seq[Int])]()
  private val jobEnds = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val stageTasks =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), ConcurrentLinkedQueue[SparkListenerTaskEnd]]()
  private val stagesDone = new ConcurrentLinkedQueue[StageInfo]()
  private val execs = new ConcurrentLinkedQueue[ExecRec]()
  @volatile private var lastEvent = System.nanoTime()

  private def touch(): Unit = lastEvent = System.nanoTime()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStarts.add((e.jobId, e.time, e.stageIds)); touch()
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobEnds.put(e.jobId, e.time); touch()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    stageTasks.computeIfAbsent((e.stageId, e.stageAttemptId),
      _ => new ConcurrentLinkedQueue[SparkListenerTaskEnd]()).add(e)
    touch()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stagesDone.add(e.stageInfo); touch()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val planMs = qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum
    execs.add(ExecRec(System.currentTimeMillis(), planMs)); touch()
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = touch()

  /** Blocks until every started job has ended and no event arrived for
    * `quietMs`: the listener bus delivers asynchronously.
    */
  def drain(quietMs: Long = 150): Unit = {
    val deadline = System.nanoTime() + 10_000_000_000L
    def settled = jobStarts.asScala.forall(j => jobEnds.containsKey(j._1)) &&
      System.nanoTime() - lastEvent > quietMs * 1_000_000L
    while (!settled && System.nanoTime() < deadline) Thread.sleep(20)
  }

  def jobs: Seq[JobRec] = jobStarts.asScala.toSeq.map { case (id, t, stages) =>
    JobRec(id, t, Option(jobEnds.get(id)).map(_.longValue).getOrElse(t), stages)
  }.sortBy(_.submit)

  def executions: Seq[ExecRec] = execs.asScala.toSeq

  def stages: Seq[StageRec] = stagesDone.asScala.toSeq.flatMap { info =>
    for (start <- info.submissionTime; end <- info.completionTime) yield {
      val ends = Option(stageTasks.get((info.stageId, info.attemptNumber())))
        .map(_.asScala.toSeq).getOrElse(Nil).filter(_.taskMetrics != null)
      val ms = ends.map(_.taskMetrics)
      def sum(f: org.apache.spark.executor.TaskMetrics => Long) = ms.map(f).sum
      val durations = ends.map(_.taskInfo.duration.toDouble)
      StageRec(info.stageId, info.attemptNumber(), start, end, ends.size,
        runMs = sum(_.executorRunTime), cpuNs = sum(_.executorCpuTime),
        gcMs = sum(_.jvmGCTime),
        shuffleWriteBytes = sum(_.shuffleWriteMetrics.bytesWritten),
        shuffleReadBytes = sum(_.shuffleReadMetrics.totalBytesRead),
        shuffleRecords = sum(_.shuffleWriteMetrics.recordsWritten),
        fetchWaitMs = sum(_.shuffleReadMetrics.fetchWaitTime),
        spillBytes = sum(m => m.memoryBytesSpilled + m.diskBytesSpilled),
        inputBytes = sum(_.inputMetrics.bytesRead),
        resultBytes = sum(_.resultSize),
        maxTaskMs = if (durations.isEmpty) 0L else durations.max.toLong,
        medianTaskMs = if (durations.isEmpty) 0.0 else Stats.median(durations))
    }
  }.sortBy(_.start)
}
