package perfbench

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

import graft.index.Resources
import graft.model._
import graft.ner.TokenClassifier
import graft.ontology.CorpusOntology
import graft.pipeline.{Pages, Pipeline}
import graft.triples.Triples

/** The three batch workloads over the product path
  * pages → KDoc → (subj, pred, obj):
  *
  *  - `kg_full`: fused pipeline with transformer NER, as `pipeline.Main`
  *    "full" runs it, ending in the partitioned triple write;
  *  - `kg_trie`: the same path with `withTransformerNer = false`;
  *  - `kg_checkpointed`: trie-only `Pipeline.run` with a fresh checkpoint
  *    directory (every stage a published snapshot with lineage), then the
  *    triple write, then a `resume = true` pass over the completed
  *    checkpoints ending in its own triple write. A pass is both runs.
  */
object Batch {

  final case class Session(spark: SparkSession, res: Broadcast[Resources], cores: Int)

  /** One set-up, as a batch job pays it in a fresh JVM: JVM start (to the
    * harness's `main`), Spark session, resource bundle, broadcast,
    * executor-pinned model load, and the input read once through
    * `Pages.fromDocuments` (`pipeline.input_load_ms`). `setup_s` is their
    * sum; the model load is a no-op when the JVM already holds the model. */
  def setup(cores: Int, work: String): (Session, Map[String, Double]) = {
    val jvmMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime.toDouble
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = System.nanoTime()
    val resources = Resources.build(CorpusOntology.rows,
      CorpusOntology.entityClassOf, CorpusOntology.CommonWords)
    val t2 = System.nanoTime()
    val res = spark.sparkContext.broadcast(resources)
    val t3 = System.nanoTime()
    TokenClassifier.executorSession
    val t4 = System.nanoTime()
    Pages.fromDocuments(spark, work).count()
    val t5 = System.nanoTime()
    (Session(spark, res, cores), Map(
      "setup_s" -> (jvmMs / 1e3 + (t5 - t0) / 1e9),
      "jvm.start_ms" -> jvmMs,
      "spark.session_ms" -> (t1 - t0) / 1e6,
      "index.resources_ms" -> (t2 - t1) / 1e6,
      "index.broadcast_ms" -> (t3 - t2) / 1e6,
      "ner.model_load_ms" -> (t4 - t3) / 1e6,
      "pipeline.input_load_ms" -> (t5 - t4) / 1e6))
  }

  /** Input balancing exactly as `Pipeline.run` does it. */
  def balanced(spark: SparkSession, pages: DataFrame): DataFrame = {
    val parallelism = spark.sparkContext.defaultParallelism
    if (pages.rdd.getNumPartitions < parallelism)
      pages.repartition(parallelism, col("url"))
    else pages
  }

  /** `seconds` is the whole pass, `runSeconds` the (checkpointed) run up
    * to its writes, `resumeSeconds` the resume run up to its triple write. */
  final case class PassOut(seconds: Double, runSeconds: Double,
      resumeSeconds: Double, resumeReadMs: Double, lineage: Seq[LineageRow],
      resumeLineage: Seq[LineageRow], snapshotBytes: Long)

  /** One product pass; output tables land under `out`, snapshots (deleted
    * after the pass) under `checkpoint`. */
  def pass(s: Session, w: Workload, docsDir: String, out: String,
      checkpoint: Option[String]): PassOut = {
    val spark = s.spark
    val runId = s"bench-${System.nanoTime()}"
    val cfg = Pipeline.Config(checkpointDir = checkpoint, runId = runId)
    val t0 = System.nanoTime()
    val pages = Pages.fromDocuments(spark, docsDir)
    val (docs0, lineage) = Pipeline.run(spark, pages, s.res, cfg = cfg,
      withTransformerNer = w.transformer)
    // persisted as pipeline.Main "full" does: triples and failures are two
    // actions over one lineage
    val docs = docs0.persist(StorageLevel.MEMORY_AND_DISK)
    Triples.fromDocs(spark, docs).toDF().write.mode("overwrite")
      .partitionBy("pred").parquet(s"$out/triples")
    Pipeline.failures(spark, docs, runId).toDF()
      .write.mode("overwrite").parquet(s"$out/failures")
    docs.unpersist()
    val lin = lineage.toVector
    val t1 = System.nanoTime()
    if (checkpoint.isEmpty)
      return PassOut((t1 - t0) / 1e9, (t1 - t0) / 1e9, 0.0, 0.0, lin, Nil, 0L)
    val r0 = System.nanoTime()
    val (resumed, resumeLineage) = Pipeline.run(spark,
      Pages.fromDocuments(spark, docsDir), s.res,
      cfg = cfg.copy(resume = true), withTransformerNer = w.transformer)
    val r1 = System.nanoTime()
    Triples.fromDocs(spark, resumed).toDF().write.mode("overwrite")
      .partitionBy("pred").parquet(s"$out/triples_resume")
    val r2 = System.nanoTime()
    val bytes = dirBytes(checkpoint.get)
    deleteTree(new java.io.File(checkpoint.get))
    PassOut((r2 - t0) / 1e9, (t1 - t0) / 1e9, (r2 - r0) / 1e9, (r1 - r0) / 1e6, lin,
      resumeLineage.toVector, bytes)
  }

  /** The traced replay of the fused pass: the same persist and the same two
    * writes, with the fused `mapPartitions` replaced by the step-by-step
    * timed chain. */
  def replayPass(s: Session, w: Workload, docsDir: String, out: String): Double = {
    val spark = s.spark
    import spark.implicits._
    val res = s.res
    val transformer = w.transformer
    val t0 = System.nanoTime()
    val pages = balanced(spark, Pages.fromDocuments(spark, docsDir))
    val docs = pages.select($"url", $"warc_ts", $"html", $"text", $"lang")
      .as[PageRow]
      .mapPartitions(Replay.pages(res.value, transformer, spans = true))
      .persist(StorageLevel.MEMORY_AND_DISK)
    docs.mapPartitions(Replay.assemble(spans = true)).toDF()
      .write.mode("overwrite").partitionBy("pred").parquet(s"$out/triples")
    Pipeline.failures(spark, docs, "replay").toDF()
      .write.mode("overwrite").parquet(s"$out/failures")
    docs.unpersist()
    (System.nanoTime() - t0) / 1e9
  }

  /** KDoc row serde alone: `Pages.toDocs` → identity `mapPartitions` →
    * noop sink. */
  def docsRoundtrip(s: Session, docsDir: String): Double = {
    val spark = s.spark
    import spark.implicits._
    val t0 = System.nanoTime()
    Pages.toDocs(spark, balanced(spark, Pages.fromDocuments(spark, docsDir)))
      .mapPartitions(it => it).toDF()
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  /** Transformer frames the documents feed the model. */
  def transformerFrames(s: Session, docsDir: String): Long = {
    val spark = s.spark
    import spark.implicits._
    Pages.fromDocuments(spark, docsDir).select($"text").as[String]
      .map(t => TokenClassifier.frames(TokenClassifier.wordpieces(t)).size.toLong)
      .reduce(_ + _)
  }

  /** Measured small jobs per batch run; `p50_ms` is their median. */
  val SmallJobs = 5

  def countDocs(spark: SparkSession, dir: String): Long =
    spark.read.parquet(s"$dir/documents.parquet").count()

  def failedRows(spark: SparkSession, dir: String): Long =
    spark.read.parquet(dir).count()

  def dirBytes(path: String): Long = {
    val f = new java.io.File(path)
    if (f.isFile) f.length
    else Option(f.listFiles).map(_.map(c => dirBytes(c.getPath)).sum).getOrElse(0L)
  }

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  /** Lineage contract of a checkpointed run: every stage reports each of
    * its partitions once (rows = Σ stage partitions) and each stage's
    * counts sum to the documents attempted. */
  def lineageErrors(lin: Seq[LineageRow], stages: Seq[String], docs: Long,
      cores: Int): Seq[String] = {
    val byStage = lin.groupBy(_.stage)
    val errs = Seq.newBuilder[String]
    if (byStage.keySet != stages.toSet)
      errs += s"lineage stages ${byStage.keySet.toSeq.sorted} != ${stages.sorted}"
    byStage.foreach { case (st, rows) =>
      if (rows.map(_.partitionId).distinct.size != rows.size)
        errs += s"stage $st reports a partition twice"
      if (rows.map(_.rowsIn).sum != docs)
        errs += s"stage $st counts ${rows.map(_.rowsIn).sum} docs, expected $docs"
    }
    byStage.get("extract").foreach(r => if (r.size != cores)
      errs += s"stage extract has ${r.size} partitions, expected $cores")
    errs.result()
  }

  val CheckpointStages: Seq[String] = Seq("extract", "trie_ner",
    "entity_splitter", "dict_linking", "mapping", "abbrev", "cleanup", "merge")

  /** Runs passes of one workload over `docsDir` (`docs` documents) and
    * books what each attempted, what failed and whether its lineage
    * holds. */
  final class Passes(a: Args, w: Workload, r: Result) {
    private var n = 0
    def apply(s: Session, out: String, checkpointed: Boolean = w.checkpointed,
        docsDir: String = a.work, docs: Long = a.docs): PassOut = {
      n += 1
      val ck = if (checkpointed) Some(s"${a.work}/ckpt/p$n") else None
      val p = pass(s, w, docsDir, s"${a.work}/$out", ck)
      System.err.println(f"perfbench: pass $n%d ($docs%d docs) ${p.seconds}%.3f s")
      r.attempted += docs
      r.failed += failedRows(s.spark, s"${a.work}/$out/failures")
      if (checkpointed) {
        r.errors ++= lineageErrors(p.lineage, CheckpointStages, docs, s.cores)
          .map("checkpointed run: " + _)
        r.errors ++= lineageErrors(p.resumeLineage, CheckpointStages, docs, s.cores)
          .map("resume run: " + _)
      } else if (p.lineage.map(_.rowsIn).sum != docs)
        r.errors += s"fused lineage counts ${p.lineage.map(_.rowsIn).sum} docs, expected $docs"
      p
    }
  }

  def run(a: Args, w: Workload): Result = {
    val r = new Result
    val (s, setupTimes) = setup(a.cores, a.work)
    setupTimes.foreach { case (k, v) => r.metric(k, v) }

    val passes = new Passes(a, w, r)
    val listener = new TaskMetricsListener
    s.spark.sparkContext.addSparkListener(listener)
    def timedPass(): PassOut = { listener.start(); passes(s, "out") }
    val first = timedPass()
    // the JIT keeps improving the fused path for many passes: unmeasured
    // warm-up passes first, then passes for `seconds` (at least three); the
    // pass count up to the measured window is fixed, so every run measures
    // the same stretch of that curve
    for (_ <- 1 to w.warmupPasses) timedPass()
    val warm = scala.collection.mutable.ArrayBuffer.empty[PassOut]
    val measureStart = System.nanoTime()
    while (warm.size < Args.MinMeasuredPasses ||
        (System.nanoTime() - measureStart) / 1e9 < a.seconds)
      warm += timedPass()
    val lastTasks = listener.stop(s.spark.sparkContext)
    r.metric("pipeline.first_pass_s", first.seconds)
    r.metric("pipeline.passes", warm.size.toDouble)
    r.outputs("triples") = (s"${a.work}/out/triples", a.work)
    if (w.checkpointed) {
      // the write path and the read path: docs/s of the checkpointed run,
      // latency of the resume run over its completed checkpoints
      r.metric("docs_per_s", a.docs / Stats.median(warm.map(_.runSeconds).toSeq))
      r.metric("p50_ms", Stats.median(warm.map(_.resumeSeconds).toSeq) * 1000)
      r.outputs("triples_resume") = (s"${a.work}/out/triples_resume", a.work)
    } else {
      r.metric("docs_per_s", a.docs / Stats.median(warm.map(_.seconds).toSeq))
      // latency of a small job: the same pass over the first few documents,
      // where per-job costs (scheduling, file commits) outweigh per-document
      // work; one unmeasured job first
      val smallDocs = countDocs(s.spark, a.smallWork)
      def smallJob() = passes(s, "small_out", docsDir = a.smallWork, docs = smallDocs).seconds
      smallJob()
      r.metric("p50_ms", Stats.median((1 to SmallJobs).map(_ => smallJob())) * 1000)
      r.outputs("small_triples") = (s"${a.work}/small_out/triples", a.smallWork)
    }

    if (a.trace) traced(a, w, s, r, passes, warm.last, lastTasks, listener)
    r.peakRss()
    s.spark.stop()
    r
  }

  private def traced(a: Args, w: Workload, s: Session, r: Result,
      passes: Passes, last: PassOut, tasks: Seq[TaskMetricsListener#T],
      listener: TaskMetricsListener): Unit = {
    val spark = s.spark
    // Spark runtime counters of the last measured product pass
    r.metric("spark.executor_run_ms", tasks.map(_.runMs).sum.toDouble)
    r.metric("spark.cpu_ms", tasks.map(_.cpuNs).sum / 1e6)
    r.metric("spark.gc_ms", tasks.map(_.gcMs).sum.toDouble)
    r.metric("spark.deser_ms", tasks.map(_.deserMs).sum.toDouble)
    r.metric("spark.result_ser_ms", tasks.map(_.resultSerMs).sum.toDouble)
    r.metric("spark.shuffle_write_bytes", tasks.map(_.shuffleWriteBytes).sum.toDouble)
    r.metric("spark.tasks", tasks.size.toDouble)
    val heaviest = tasks.groupBy(_.stage).values.maxByOption(_.map(_.runMs).sum)
    r.metric("spark.task_skew", heaviest.map { ts =>
      val rt = ts.map(_.runMs.toDouble)
      if (Stats.median(rt) > 0) rt.max / Stats.median(rt) else 1.0
    }.getOrElse(1.0))

    if (w.checkpointed) {
      r.metric("pipeline.snapshot.write_ms",
        last.lineage.groupBy(_.stage).values.map(_.head.wallMs.toDouble).sum)
      r.metric("pipeline.snapshot.bytes", last.snapshotBytes.toDouble)
      r.metric("pipeline.lineage_rows", last.lineage.size.toDouble)
      r.metric("pipeline.resume.read_ms", last.resumeReadMs)
      r.metric("pipeline.resume_s", last.resumeSeconds)
    }

    // replay and untraced fused passes alternate after a replay warm-up;
    // the last replay is the traced one, and the two sides' medians give
    // the tracing overhead
    replayPass(s, w, a.work, s"${a.work}/replay")
    val untraced = scala.collection.mutable.ArrayBuffer.empty[Double]
    val replays = scala.collection.mutable.ArrayBuffer.empty[Double]
    var replayTasks: Seq[TaskMetricsListener#T] = Nil
    for (_ <- 1 to 2) {
      untraced += passes(s, "fused", checkpointed = false).seconds
      Tracer.reset()
      listener.start()
      replays += replayPass(s, w, a.work, s"${a.work}/replay")
      replayTasks = listener.stop(spark.sparkContext)
      r.attempted += a.docs
      r.failed += failedRows(spark, s"${a.work}/replay/failures")
    }
    val replayWall = replays.last
    r.outputs("replay") = (s"${a.work}/replay/triples", a.work)
    Tracer.writeSpans(new java.io.File(a.spansFile))
    val stages = Replay.stages(w.transformer)
    val selfMs = ChainReport(r, stages)
    def ms(n: String, c: String = "incl_ns") = Tracer.get(s"$n.$c") / 1e6
    val cacheWriteMs = ms("pipeline.kdoc_cache_write")
    // with AQE the doc table is materialized by its own job; without it the
    // chain runs nested inside the triple job's first pulls
    val chainIds = Tracer.tasksOf("chain")
    val nested = (chainIds & Tracer.tasksOf("assemble")).nonEmpty
    val cacheReadMs = ms("pipeline.kdoc_cache_read") - (if (!nested) 0.0 else
      ms("post.merge") + ms("post.merge", "book_ns") + cacheWriteMs)
    val assembleMs = ms("triples.assemble") - ms("pipeline.kdoc_cache_read") -
      ms("pipeline.kdoc_cache_read", "book_ns")
    val sinkMs = ms("spark.sink")
    // text.extract is the program's Html.extractBytes alone; the rest of
    // the replay's copy of the Pages.toDocs row body is bookkeeping
    val extractMs = ms("text.extract", "call_ns")
    val wrapperMs = selfMs("text.extract") - extractMs
    val bookMs = r.metrics("trace.bookkeeping_ms") + wrapperMs +
      ms("pipeline.kdoc_cache_read", "book_ns") + ms("triples.assemble", "book_ns")
    r.metric("trace.bookkeeping_ms", bookMs)
    for (n <- stages.tail) r.metric(s"$n.busy_ms", selfMs(n))
    r.metric("text.extract.busy_ms", extractMs)
    r.metric("triples.assemble.busy_ms", assembleMs)
    r.metric("triples.assemble.docs_in", Tracer.get("pipeline.kdoc_cache_read.docs_out").toDouble)
    r.metric("triples.assemble.triples_out", Tracer.get("triples.assemble.entities_out").toDouble)
    r.metric("spark.input_ms", selfMs("spark.input"))
    r.metric("pipeline.kdoc_cache_write_ms", cacheWriteMs)
    r.metric("pipeline.kdoc_cache_read_ms", cacheReadMs)
    r.metric("spark.sink_ms", sinkMs)

    // attribution: traced tasks split into measured spans; the other tasks
    // (scan + exchange, failures write) are attributed by Spark stage role
    val traced = chainIds ++ Tracer.tasksOf("assemble")
    val other = replayTasks.filterNot(t => traced.contains(t.attempt))
    val exchangeMs = other.filter(_.shuffleWriteBytes > 0).map(_.runMs).sum.toDouble
    val otherMs = other.filter(_.shuffleWriteBytes == 0).map(_.runMs).sum.toDouble
    val taskMs = replayTasks.map(_.runMs).sum.toDouble
    val named = stages.map(selfMs).sum - wrapperMs + cacheWriteMs + cacheReadMs + assembleMs +
      sinkMs + bookMs + exchangeMs + otherMs
    r.metric("spark.exchange_ms", exchangeMs)
    r.metric("pipeline.failures_write_ms", otherMs)
    r.metric("pipeline.task_ms", taskMs)
    r.metric("pipeline.attributed_frac", if (taskMs > 0) named / taskMs else 0.0)
    r.metric("pipeline.unattributed_ms", replayWall * 1000 * a.cores - named)
    r.metric("trace.overhead_frac", Stats.median(replays.toSeq) / Stats.median(untraced.toSeq) - 1)
    r.metric("trace.spans", Tracer.spanCount.toDouble)

    if (w.transformer) {
      val frames = transformerFrames(s, a.work)
      r.metric("ner.transformer.frames", frames.toDouble)
      r.metric("ner.transformer.us_per_frame",
        if (frames > 0) selfMs("ner.transformer") * 1000 / frames else 0.0)
    }

    docsRoundtrip(s, a.work)
    r.metric("pipeline.docs_roundtrip_s", docsRoundtrip(s, a.work))

    // scaling: the same product pass at half the cores, in a fresh session;
    // the second pass is timed, the first warms the new session
    if (a.cores >= 2) {
      val half = a.cores / 2
      spark.stop()
      val (hs, _) = setup(half, a.work)
      passes(hs, "half")
      val halfDocsPerS = a.docs / passes(hs, "half").runSeconds
      r.metric("spark.scale_eff", r.metrics("docs_per_s") / (halfDocsPerS * a.cores / half))
      hs.spark.stop()
    } else r.metric("spark.scale_eff", 1.0)
  }
}
