package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.{QueryDef, queries => q}

/** One timed operation: a query in a pass, or a leg of the set-up chain. */
final case class Sample(pass: Int, name: String, seconds: Double)

object Workloads {

  val byName: Map[String, Run => Unit] = Map(
    "sql_analytics" -> (r => QueryWorkload.run(r, sqlQueries, corpus = false)),
    "corpus_queries" -> (r => QueryWorkload.run(r, corpusQueries, corpus = true)))

  /** Relational, event and SQL-surface queries: scans, joins, aggregates
    * and shuffles over the star schema; no derived layouts.
    */
  def sqlQueries: Seq[QueryDef] = q.Relational.all ++ q.EventOps.all ++ q.SqlSurface.all

  /** Sixteen of the other 92 registered queries (text, vector, ML, dedup
    * and curation operators over the corpus tables): the eleven with the
    * most Spark jobs per call — 8 to 19, the multi-job assembly that action
    * fusion targets — and five light readers of the BM25, bigram-LM, PQ,
    * span and chunk layouts. All 92 take a 35 s pass plus a 79 s cold
    * warm-up on a 4-core box, more than one run's budget.
    */
  val CorpusSubset: Seq[String] = Seq(
    "q21_ngram_jaccard", "q31_minhash_lsh", "q39_simhash_neardup",
    "q66_perplexity", "q70_split_contamination", "q74_semdedup",
    "q77_lexical_knn", "q81_split_drift", "q89_band_recall",
    "q107_simhash_calibration", "q112_retrieval_agreement",
    "q58_ann_pq", "q65_bm25", "q105_boilerplate_spans", "q118_bigram_perplexity",
    "q121_cdc_chunks")

  def corpusQueries: Seq[QueryDef] = {
    val all = (q.TextOps.all ++ q.VectorOps.all ++ q.MlOps.all ++ q.DedupOps.all ++
      q.MultimodalOps.all ++ q.PipelineOps.all ++ q.CurationOps.all).map(d => d.name -> d).toMap
    CorpusSubset.map(n => all.getOrElse(n, throw new NoSuchElementException(s"no registered query $n")))
  }

  /** The layouts `JobRunner -ingest` builds, by name, in its order. */
  val layouts: Seq[(String, (SparkSession, String) => Any)] = Seq(
    "DocFingerprints" -> ((s, d) => graft.sources.DocFingerprints(s, d)),
    "TermStats" -> ((s, d) => graft.sources.TermStats(s, d)),
    "ShinglePostings" -> ((s, d) => graft.sources.ShinglePostings(s, d)),
    "BucketedEmbeddings" -> ((s, d) => graft.sources.BucketedEmbeddings(s, d)),
    "SpanStats" -> ((s, d) => graft.sources.SpanStats(s, d)),
    "ChunkStats" -> ((s, d) => graft.sources.ChunkStats(s, d)),
    "CorpusStats" -> ((s, d) => {
      graft.sources.CorpusStats.rowCount(s, d)
      graft.sources.CorpusStats.rowCount(s, d, "documents")
    }),
    "PairGraph" -> ((s, d) => graft.sources.PairGraph(s, d)),
    "ClusterAssignment" -> ((s, d) => graft.sources.ClusterAssignment(s, d)),
    "SplitAssignment" -> ((s, d) => graft.sources.SplitAssignment(s, d)),
    "IvfCentroids" -> ((s, d) => graft.sources.IvfCentroids(s, d)),
    "PqCodebooks" -> ((s, d) => graft.sources.PqCodebooks(s, d)),
    "BpeMerges" -> ((s, d) => graft.sources.BpeMerges(s, d)),
    "BigramLm" -> ((s, d) => graft.sources.BigramLm.model(s, d)))

  /** Builds every ingest layout of `data` into the session's layout root,
    * one builder call (and span) per layout; a traced run records each
    * layout's build time and bytes and the layouts' bytes per input byte.
    * Returns whether every build succeeded.
    */
  def ingest(r: Run, data: String, what: String): Boolean = {
    val ok = layouts.map { case (name, build) =>
      val before = if (r.o.trace) dirBytes(r.layoutRoot) else 0L
      val (built, s) = r.time(r.trace.span("layout", name)(
        r.tally.attempt(s"$what layout $name")(build(r.spark, data)).isDefined))
      if (r.o.trace) {
        r.metric(s"sources.$name.build_s", s, "s")
        r.metric(s"sources.$name.bytes", (dirBytes(r.layoutRoot) - before).toDouble, "bytes")
      }
      built
    }
    if (r.o.trace) r.metric("sources.write_amp", dirBytes(r.layoutRoot).toDouble /
      inputBytes(data, Seq("documents", "embeddings")), "ratio")
    ok.forall(identity)
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum
      finally st.close()
    }

  def inputBytes(dir: String, tables: Seq[String]): Long =
    tables.map(t => dirBytes(Paths.get(dir, s"$t.parquet"))).sum

  /** Order-insensitive fingerprint of a collected result: the row count,
    * then the xor and the wrapping sum of a 64-bit hash of each row's
    * values in column-name order. Values are hashed in place, without
    * rendering them: allocation here would tax the next measured call.
    */
  def fingerprint(schema: StructType, rows: Array[Row]): String = {
    val order = schema.fieldNames.zipWithIndex.sortBy(_._1).map(_._2)
    var xor = 0L
    var sum = 0L
    rows.foreach { row =>
      var h = 0x243f6a8885a308d3L
      order.foreach(i => h = mix(h * 31 + hash(row.get(i))))
      xor ^= h
      sum += h
    }
    f"${rows.length}:$xor%016x:$sum%016x"
  }

  /** splitmix64's finaliser. */
  private def mix(x: Long): Long = {
    var z = x + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def hash(v: Any): Long = v match {
    case null => 1L
    case x: java.lang.Long => mix(x)
    case x: java.lang.Integer => mix(x.toLong) + 2
    case x: java.lang.Double => mix(java.lang.Double.doubleToLongBits(x)) + 3
    case x: java.lang.Float => mix(java.lang.Float.floatToIntBits(x).toLong) + 4
    case x: java.lang.Boolean => if (x) 5L else 6L
    case x: String => mix(x.hashCode.toLong) ^ scala.util.hashing.MurmurHash3.stringHash(x).toLong << 32
    case b: Array[Byte] => mix(java.util.Arrays.hashCode(b).toLong) + 7
    case r: Row => (0 until r.length).foldLeft(8L)((h, i) => mix(h * 31 + hash(r.get(i))))
    case m: scala.collection.Map[_, _] => m.iterator.map { case (k, x) => mix(hash(k) * 31 + hash(x)) }.sum + 9
    case xs: Iterable[_] => xs.foldLeft(10L)((h, x) => mix(h * 31 + hash(x)))
    case x => mix(x.toString.hashCode.toLong) + 11
  }

  def readReference(path: String): Map[String, String] =
    if (!Files.exists(Paths.get(path))) Map.empty
    else Files.readAllLines(Paths.get(path)).asScala.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(k, v) = l.split("\\s+", 2); k -> v }.toMap

  def writeReference(path: String, fps: Map[String, String], header: String): Unit =
    Files.writeString(Paths.get(path),
      header + fps.toSeq.sorted.map { case (k, v) => s"$k $v" }.mkString("", "\n", "\n"))
}

/** `sql_analytics` and `corpus_queries`: repeated passes over a query set,
  * each pass in a seeded order.
  */
object QueryWorkload {
  import Workloads._

  def run(r: Run, defs: Seq[QueryDef], corpus: Boolean): Unit = {
    val data = r.o.data
    val reference = readReference(r.o.reference)
    val found = mutable.Map.empty[String, String]

    // one operation: call the query and collect its result. Results are
    // fingerprinted and checked against the reference after the last pass,
    // so the checking work stays outside the measured passes.
    val results = mutable.ArrayBuffer.empty[(String, String, StructType, Array[Row])]
    def op(d: QueryDef, what: String): Option[Double] = {
      val t0 = System.nanoTime()
      val res = r.tally.attempt(s"$what ${d.name}") {
        val df = r.trace.span("build", d.name)(d.fn(r.spark, data))
        (df.schema, r.trace.span("materialize", d.name)(df.collect()))
      }
      val seconds = (System.nanoTime() - t0) / 1e9
      graft.Caches.clearAll(r.spark)
      res.map { case (schema, rows) => results += ((what, d.name, schema, rows)); seconds }
    }
    def checkResults(): Unit = {
      results.foreach { case (what, name, schema, rows) =>
        val fp = fingerprint(schema, rows)
        if (r.o.writeReference) found(name) = fp
        else r.tally.check(s"$what $name result", reference.get(name).contains(fp),
          s"fingerprint $fp, reference ${reference.getOrElse(name, "missing")}")
      }
      results.clear()
    }

    // set-up: the session; on the corpus, a lifecycle chain; then a
    // warm-up pass over the set, which builds the layouts the chain left
    // unbuilt on first touch. A traced corpus run first ingests every
    // layout, one builder at a time, to measure the sources layer; its
    // chain then reads stamped layouts.
    val session = r.newSession("session")
    // only after the session exists: touching CodeGenerator earlier sizes
    // its class cache from the default conf, not the session's
    val compile0 = codegenNow()
    val (_, layoutsS) = r.time(if (corpus && r.o.trace) ingest(r, data, "setup"))
    val (_, chainS) = r.time(if (corpus) Lifecycle.chain(r))
    val (_, warmS) = r.time(defs.foreach(d => r.trace.span("warmup", d.name)(op(d, "warmup"))))
    recordSetup(r, compile0, "session" -> session, "layouts" -> layoutsS, "lifecycle" -> chainS,
      "warmup" -> warmS)

    val samples = mutable.ArrayBuffer.empty[Sample]
    val passes = loop(r, minPasses = if (r.o.trace) 4 else 1) { pass =>
      r.rnd.shuffle(defs).foreach { d =>
        r.trace.span("query", d.name)(op(d, s"pass $pass"))
          .foreach(s => samples += r.log(Sample(pass, d.name, s)))
      }
    }
    checkResults()
    liveHeap(r)
    if (r.o.writeReference)
      writeReference(r.o.reference, reference ++ found,
        "# query result fingerprint: rows:xor:sum of a 64-bit row hash (perfbench Workloads.fingerprint)\n")
    endToEnd(r, samples.toSeq, passes)
    if (r.o.trace) Layers.report(r, passes)
  }

  /** `heap_live_mb`: the heap the program still holds after a full
    * collection, once the run's results are dropped — its caches, layouts
    * and session state. Peak RSS is not used: with a heap that grows as
    * needed it spread 13-29% between runs, and with a fixed heap it reads
    * the heap size.
    */
  def liveHeap(r: Run): Unit = {
    // one collection frees only part of it: Spark's ContextCleaner drops
    // shuffle and broadcast state when the first one queues their
    // references. Measured, the third reading is within 0.1% of the fourth.
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(300) }
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    r.metric("heap_live_mb", used / (1024.0 * 1024.0), "MB")
  }

  def codegenNow(): (Long, Long) = (
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)

  /** Records `setup_s`, the sum of the set-up's parts; a traced run
    * records the parts, and the codegen work done since `compile0`.
    */
  def recordSetup(r: Run, compile0: (Long, Long), parts: (String, Double)*): Unit =
    if (r.o.trace) {
      val compile1 = codegenNow()
      r.metric("codegen.compile_s", (compile1._1 - compile0._1) / 1e9, "s")
      r.metric("codegen.compiles", (compile1._2 - compile0._2).toDouble, "count")
      parts.foreach { case (name, s) => r.metric(s"setup.${name}_s", s, "s") }
    } else r.metric("setup_s", parts.map(_._2).sum, "s")

  /** Runs passes until `--seconds` is spent; a pass that has started
    * finishes, and at least `minPasses` run. A traced run attaches the
    * probe and records spans only in the passes [[Stats.tracedPass]]
    * picks, and ends on an untraced pass, so each traced pass has an
    * untraced pass on either side and the tracing overhead is measured in
    * one JVM.
    */
  def loop(r: Run, minPasses: Int)(pass: Int => Unit): Seq[Pass] = {
    val deadline = System.nanoTime() + (r.o.seconds * 1e9).toLong
    val out = mutable.ArrayBuffer.empty[Pass]
    var i = 0
    while (i < minPasses || System.nanoTime() < deadline ||
        (r.o.trace && Stats.tracedPass(i - 1))) {
      val traced = r.o.trace && Stats.tracedPass(i)
      if (traced) r.listen(on = true)
      r.trace.enabled = traced
      val start = r.trace.now()
      r.trace.span("pass", s"pass $i")(pass(i))
      out += Pass(i, traced, start, r.trace.now())
      // the listener bus delivers late: let a traced pass's events arrive
      // before the probe is detached
      if (traced) { r.probeRecords.drain(); r.listen(on = false) }
      i += 1
    }
    r.trace.enabled = false
    out.toSeq
  }

  /** The end-to-end metrics, from the untraced passes. */
  def endToEnd(r: Run, samples: Seq[Sample], passes: Seq[Pass]): Unit = {
    val untraced = passes.filterNot(_.traced).map(_.index).toSet
    val xs = samples.filter(s => untraced(s.pass)).map(_.seconds)
    val walls = passes.filterNot(_.traced).map(p => (p.end - p.start) / 1000)
    if (xs.isEmpty) return
    val prefix = if (r.o.trace) "trace.untraced_" else ""
    r.metric(s"${prefix}wall_s", Stats.median(walls), "s")
    if (!r.o.trace) {
      r.metric("query_p50_s", Stats.median(xs), "s")
      r.metric("query_geomean_s", Stats.geomean(xs), "s")
      r.metric("query_samples", xs.size.toDouble, "count")
      if (xs.size >= Stats.samplesFor(0.9)) r.metric("query_p90_s", Stats.tailPercentile(xs, 0.9), "s")
    }
  }
}

final case class Pass(index: Int, traced: Boolean, start: Double, end: Double)
