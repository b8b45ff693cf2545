package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: runs one workload in a closed loop (one
  * client, one operation at a time) and writes its metrics as JSON.
  *
  * {{{
  * Main --workload <name> --data <dir> --work <dir> --seed <n>
  *      --seconds <s> --trace <0|1> --reference <file> --out <file>
  *      [--trace-out <file>] [--write-reference]
  * }}}
  *
  * `--data` holds the generated input tables, `--work` is this run's
  * private directory (layout root, Spark local dir, job outputs). With
  * `--trace 0` only the end-to-end metrics are measured and nothing is
  * attached to the session; `--trace 1` attaches the [[Probe]] during its
  * traced passes, records [[Trace]] spans and reports the per-layer
  * metrics instead.
  */
object Main {

  final case class Opts(workload: String, data: String, work: String, seed: Long,
      seconds: Double, trace: Boolean, reference: String, out: String,
      traceOut: Option[String], writeReference: Boolean)

  def parse(args: Array[String]): Opts = {
    val kv = mutable.Map.empty[String, String]
    var writeRef = false
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "--write-reference" => writeRef = true
        case k if k.startsWith("--") && i + 1 < args.length => kv(k.drop(2)) = args(i + 1); i += 1
        case other => throw new IllegalArgumentException(s"unexpected argument '$other'")
      }
      i += 1
    }
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Opts(need("workload"), need("data"), need("work"), need("seed").toLong,
      need("seconds").toDouble, need("trace") == "1", need("reference"), need("out"),
      kv.get("trace-out"), writeRef)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val workload = Workloads.byName.getOrElse(o.workload,
      throw new IllegalArgumentException(
        s"unknown workload '${o.workload}' (known: ${Workloads.byName.keys.toSeq.sorted.mkString(", ")})"))
    val run = new Run(o)
    val status =
      try { workload(run); run.finish(); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    // Spark can leave non-daemon threads behind; end the JVM explicitly
    sys.exit(status)
  }
}

/** State of one benchmark run: options, tally, trace, the session and the
  * metrics collected so far.
  */
final class Run(val o: Main.Opts) {
  val tally = new Tally
  val trace = new Trace(s"${o.workload}-${o.seed}-${ProcessHandle.current().pid()}", o.trace)
  val cores: Int = Runtime.getRuntime.availableProcessors()
  val work: Path = Paths.get(o.work)
  val rnd = new scala.util.Random(o.seed)
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private var probe: Option[Probe] = None
  private var current: Option[SparkSession] = None

  def metric(name: String, value: Double, unit: String): Unit = {
    require(Stats.validName(name), s"bad metric name '$name'")
    metrics(name) = (value, unit)
  }

  def spark: SparkSession = current.getOrElse(throw new IllegalStateException("no session"))

  def probeOpt: Option[Probe] = probe

  def probeRecords: Probe = probe.getOrElse(throw new IllegalStateException("not tracing"))

  /** A fresh session (stopping the previous one) whose layout root and
    * Spark local dir live under `work/<tag>`; returns its start time.
    */
  def newSession(tag: String): Double = {
    stopSession()
    val dir = Files.createDirectories(work.resolve(tag))
    // DerivedLayout roots every layout at java.io.tmpdir at call time
    sys.props("java.io.tmpdir") = Files.createDirectories(dir.resolve("tmp")).toString
    val t0 = System.nanoTime()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", Files.createDirectories(dir.resolve("local")).toString)
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.files.openCostInBytes", "1m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    current = Some(s)
    if (o.trace) probe = Some(new Probe)
    (System.nanoTime() - t0) / 1e9
  }

  /** Attaches the [[Probe]] to the session, or detaches it: an untraced
    * pass of a traced run runs with no listener of the harness at all.
    */
  def listen(on: Boolean): Unit = probe.foreach { p =>
    if (on) {
      spark.sparkContext.addSparkListener(p)
      spark.listenerManager.register(p)
    } else {
      spark.sparkContext.removeSparkListener(p)
      spark.listenerManager.unregister(p)
    }
  }

  def stopSession(): Unit = current.foreach { s =>
    graft.Caches.clearAll(s)
    graft.Caches.evictSession(s)
    s.stop()
    current = None
  }

  /** Layout root of the live session. */
  def layoutRoot: Path = Paths.get(sys.props("java.io.tmpdir"), "graft-layout")

  def log(s: Sample): Sample = {
    System.err.println(f"[perfbench] pass ${s.pass} ${s.name} ${s.seconds}%.3fs")
    s
  }

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def finish(): Unit = {
    stopSession()
    val ms = metrics.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$k":{"value":$num,"unit":"$u"}"""
    }.mkString("{", ",", "}")
    def esc(s: String) = s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case c if c < ' ' => " "; case c => c.toString
    }
    val fails = tally.failureList.map { case (w, m) => s"""{"what":"${esc(w)}","error":"${esc(m)}"}""" }
      .mkString("[", ",", "]")
    Files.writeString(Paths.get(o.out),
      s"""{"attempted":${tally.attempted},"failed":${tally.failed},"failures":$fails,"metrics":$ms}""" + "\n")
    o.traceOut.filter(_ => o.trace).foreach(p => Files.writeString(Paths.get(p), trace.toJson))
  }
}
