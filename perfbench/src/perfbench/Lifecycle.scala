package perfbench

import java.nio.file.{Files, Path}

import graft.jobs.JobRunner

/** The production legs through `JobRunner.parse`/`run`, in order, on the
  * corpus the queries read: a `-curate` chain, then `-train`, `-features`
  * and `-test`. `corpus_queries` runs one chain in its set-up, in the
  * session's layout root, so the chain writes layouts the queries then
  * read and a change to curation or the model legs moves `setup_s`.
  */
object Lifecycle {

  /** The first four stages (exact, span, near and embedding dedup) of
    * the 16-stage curation chain `graft.tools.LifecycleBench` declares.
    * The whole chain's cost grows faster than its length: on 500
    * documents on a 4-core box, these four took 13-18 s cold and building
    * their layouts, 7-9 s on stamped layouts; all 16 took 96 s.
    */
  val Stages: String =
    """[{"op": "exact_dedup"},
      | {"op": "span_dedup", "spanTokens": 8},
      | {"op": "near_dedup", "threshold": 0.5},
      | {"op": "embed_near_dedup", "minDot": 0.45}]""".stripMargin

  val Iters = 20

  val Legs: Seq[String] = Seq("curate", "train", "features", "test")

  /** Runs one chain and checks its artifacts. A traced run attaches the
    * probe for the chain and reports the `jobs` and `ml` layers.
    */
  def chain(r: Run): Unit = {
    val data = r.o.data
    val dir = Files.createDirectories(r.work.resolve("chain"))
    val out = dir.resolve("out")
    val curateConf = write(dir, "curate.json",
      s"""{"source": {"path": "$data", "table": "documents", "idCol": "doc_id"},
         |"output": "$out/curated", "outputFormat": "parquet",
         |"stages": $Stages}""".stripMargin)
    // the model legs read the embeddings' train/validation split (vec_id
    // mod 10 holdout) that the input generator writes
    val mlConf = write(dir, "ml.json",
      s"""{"source": {"path": "$data/ml_train.parquet", "labelCol": "label"},
         |"validation": {"path": "$data/ml_val.parquet", "labelCol": "label"},
         |"dim": 64, "lr": 1.0, "iters": $Iters, "validateEvery": 10,
         |"model": "$out/model", "output": "$out/ml", "outputFormat": "parquet"}""".stripMargin)
    val args = Map("curate" -> curateConf, "train" -> mlConf, "features" -> mlConf, "test" -> mlConf)
    if (r.o.trace) r.listen(on = true)
    Legs.foreach { leg =>
      r.trace.span("leg", leg) {
        val t0 = System.nanoTime()
        r.tally.attempt(s"setup chain $leg") {
          val inv = r.trace.span("build", leg)(JobRunner.parse(Array(s"-$leg", "-conf", args(leg))))
          r.trace.span("materialize", leg)(JobRunner.run(r.spark, inv))
        }.foreach(_ => r.log(Sample(-1, leg, (System.nanoTime() - t0) / 1e9)))
      }
    }
    if (r.o.trace) { r.probeRecords.drain(); r.listen(on = false) }
    val rowsOut = check(r, out)
    if (r.o.trace) Layers.lifecycle(r,
      rowsIn = graft.Tables(r.spark, data, "documents").count(), rowsOut,
      trainRows = r.spark.read.parquet(s"$data/ml_train.parquet").count(), Iters)
  }

  private def write(dir: Path, name: String, body: String): String =
    Files.writeString(dir.resolve(name), body).toString

  /** The chain's artifacts, asserted the way LifecycleBench does; returns
    * the curated corpus's row count.
    */
  private def check(r: Run, out: Path): Long = {
    val s = r.spark
    var rows = 0L
    r.tally.check(s"setup chain curated corpus", {
      val c = s.read.parquet(s"$out/curated/corpus")
      rows = c.count()
      rows > 0 && c.columns.contains("text")
    }, "curated corpus empty or without text")
    r.tally.check(s"setup chain model", graft.ml.LogisticRegression
      .loadWeights(s, s"$out/model").exists(_ != 0d), "model snapshot missing or zero")
    r.tally.check(s"setup chain features",
      s.read.parquet(s"$out/ml/features").count() > 0, "no feature rows")
    r.tally.check(s"setup chain test result", {
      val t = Files.readString(out.resolve("ml/test_result.json"))
      t.trim.startsWith("{") && t.contains(":")
    }, "test_result.json missing or empty")
    rows
  }
}
