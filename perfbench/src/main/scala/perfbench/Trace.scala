package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import graft.index.Resources
import graft.link.{ClassFilter, DictionaryLinking, Ladders, MappingStep}
import graft.model._
import graft.ner.{EntitySplitter, TokenClassifier, TrieNer}
import graft.pipeline.Pages
import graft.post.{Abbreviation, Cleanup, MergeOverlaps}
import graft.text.Html
import graft.triples.Triples

/** One timed interval at a layer boundary. `parent` names the span that
  * caused it (in a pull chain, the downstream stage that pulled); spans of
  * one document share `trace`, the document url. */
final case class Span(trace: String, name: String, parent: String,
    startNs: Long, endNs: Long)

/** In-memory span and counter store. Spark runs in local mode, so task
  * code shares this JVM and records here directly; spans are written out
  * once, when the benchmark ends. */
object Tracer {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val counters = new ConcurrentHashMap[String, LongAdder]()
  /** Task attempts that ran traced code, by role (the rest are attributed
    * by Spark stage role). */
  private val tasks = new ConcurrentHashMap[String, java.util.Set[java.lang.Long]]()

  def span(s: Span): Unit = spans.add(s)
  def add(name: String, v: Long): Unit =
    counters.computeIfAbsent(name, _ => new LongAdder).add(v)
  def get(name: String): Long =
    Option(counters.get(name)).map(_.sum).getOrElse(0L)
  def spanCount: Int = spans.size

  def reset(): Unit = { spans.clear(); counters.clear(); tasks.clear() }

  def writeSpans(file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val out = new java.io.PrintWriter(new java.io.OutputStreamWriter(
      new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(file)),
      "UTF-8"))
    try {
      out.println("trace\tname\tparent\tstart_ns\tend_ns")
      spans.iterator().asScala.foreach(s =>
        out.println(s"${s.trace}\t${s.name}\t${s.parent}\t${s.startNs}\t${s.endNs}"))
    } finally out.close()
  }

  def markTask(role: String): Unit = {
    val tc = org.apache.spark.TaskContext.get()
    if (tc != null)
      tasks.computeIfAbsent(role, _ => ConcurrentHashMap.newKeySet()).add(tc.taskAttemptId())
  }
  def tasksOf(role: String): Set[Long] =
    Option(tasks.get(role)).map(_.asScala.map(_.longValue).toSet).getOrElse(Set.empty)
}

/** Stage of a pull chain. Times every hasNext/next of `it`, which includes
  * pulling from the upstream stage, so a stage's self time is its inclusive
  * time minus the upstream's inclusive time. The per-element bookkeeping
  * (counting, span recording) runs inside the downstream stage's interval;
  * it is timed separately so it can be taken out of that stage's self time.
  * Totals reach [[Tracer]] once, when the partition is exhausted. */
final class Timed[A](name: String, parent: String, it: Iterator[A],
    traceOf: A => String, entities: A => Int, failed: A => Boolean,
    spans: Boolean) extends Iterator[A] {
  private var inclNs = 0L
  private var bookNs = 0L
  private var n = 0L
  private var ents = 0L
  private var fails = 0L
  private var flushed = false

  def hasNext: Boolean = {
    val t0 = System.nanoTime()
    val h = it.hasNext
    inclNs += System.nanoTime() - t0
    if (!h && !flushed) {
      flushed = true
      Tracer.add(s"$name.incl_ns", inclNs)
      Tracer.add(s"$name.book_ns", bookNs)
      Tracer.add(s"$name.docs_out", n)
      Tracer.add(s"$name.entities_out", ents)
      Tracer.add(s"$name.failed_out", fails)
    }
    h
  }

  def next(): A = {
    val t0 = System.nanoTime()
    val a = it.next()
    val t1 = System.nanoTime()
    inclNs += t1 - t0
    n += 1
    ents += entities(a)
    if (failed(a)) fails += 1
    if (spans) Tracer.span(Span(traceOf(a), name, parent, t0, t1))
    bookNs += System.nanoTime() - t1
    a
  }
}

/** The fused document chain replayed step by step through the public entry
  * points, in the order `Pipeline.fusedStages` composes them with the
  * defaults `Pipeline.run` uses. */
object Replay {

  /** Chain stages in pull order; `spark.input` is the row iterator Spark
    * hands the task (shuffle read + row deserialization). */
  def stages(transformer: Boolean): Seq[String] =
    Seq("spark.input", "text.extract", "ner.trie") ++
      (if (transformer) Seq("ner.transformer") else Nil) ++
      Seq("ner.splitter", "link.dict", "link.class_filter", "link.mapping",
        "post.abbrev", "post.cleanup", "post.merge")

  private def ents(d: KDoc): Int = {
    var n = 0
    d.sections.foreach(s => n += s.entities.size)
    n
  }

  /** `Pages.toDocs`'s per-row body, which this copy has to follow: the
    * page text must re-extract byte-identically from the html, else the doc
    * is a failure row. Only the program's own call, `Html.extractBytes`, is
    * timed as `text.extract` (`text.extract.call_ns`); the rest of this
    * copy is booked as tracing bookkeeping. */
  def extract(p: PageRow): KDoc = {
    val t0 = System.nanoTime()
    val extracted = Html.extractBytes(p.html)
    Tracer.add("text.extract.call_ns", System.nanoTime() - t0)
    if (p.text != null && p.text.nonEmpty && extracted != p.text)
      KDoc(p.url, p.warc_ts, extracted, p.lang, Seq.empty,
        Some(s"text-extraction mismatch (${Html.version})"))
    else if (extracted.length > Pages.SkipDocLen)
      KDoc(p.url, p.warc_ts, "", p.lang, Seq.empty,
        Some(s"doc length ${extracted.length} > ${Pages.SkipDocLen}"))
    else
      KDoc(p.url, p.warc_ts, extracted, p.lang, Seq(Section("body", extracted)))
  }

  /** Steps after extraction, each wrapped in a [[Timed]] stage. */
  def steps(res: Resources, transformer: Boolean, spans: Boolean)(
      docs: Iterator[KDoc]): Iterator[KDoc] = {
    val names = stages(transformer).drop(2)
    val parentOf = (names.zip(names.tail) :+ (names.last -> "pipeline.kdoc_cache_write")).toMap
    def timed(name: String, it: Iterator[KDoc]): Iterator[KDoc] =
      new Timed[KDoc](name, parentOf(name), it, _.url, ents, _.error.isDefined, spans)
    val session = TokenClassifier.executorSession
    val trie = timed("ner.trie", docs.map(TrieNer.processDoc(res)))
    val ner =
      if (transformer) timed("ner.transformer", trie.map(TokenClassifier.processDoc(session)))
      else trie
    val split = timed("ner.splitter",
      ner.map(EntitySplitter.processDoc(EntitySplitter.Config.default)))
    val dict = timed("link.dict", DictionaryLinking.processPartition(res)(split))
    val filtered = timed("link.class_filter",
      dict.map(ClassFilter.processDoc(ClassFilter.Rules())))
    val mapped = timed("link.mapping",
      MappingStep.processPartition(res, Ladders.default)(filtered))
    val abbrev = timed("post.abbrev", mapped.map(Abbreviation.processDoc))
    val cleaned = timed("post.cleanup", abbrev.map(Cleanup.processDoc(Cleanup.Config())))
    timed("post.merge", cleaned.map(MergeOverlaps.processDoc(MergeOverlaps.Config())))
  }

  /** Page rows → finished docs, timing every stage from `spark.input` on.
    * `pipeline.kdoc_cache_write` is the time the consumer (the persisted
    * doc table's row serialization) holds the thread between pulls. */
  def pages(res: Resources, transformer: Boolean, spans: Boolean)(
      rows: Iterator[PageRow]): Iterator[KDoc] = {
    Tracer.markTask("chain")
    val names = stages(transformer)
    val input = new Timed[PageRow]("spark.input", "text.extract", rows,
      _.url, _ => 0, _ => false, spans)
    val docs = new Timed[KDoc]("text.extract", names(2), input.map(extract),
      _.url, ents, _.error.isDefined, spans)
    new SinkTimer("pipeline.kdoc_cache_write",
      steps(res, transformer, spans)(docs))
  }

  /** Finished docs read back from the persisted doc table → triples;
    * `spark.sink` is the time the consumer (triple row serialization and
    * the parquet writer) holds the thread between pulls. */
  def assemble(spans: Boolean)(docs: Iterator[KDoc]): Iterator[Triple] = {
    Tracer.markTask("assemble")
    val input = new Timed[KDoc]("pipeline.kdoc_cache_read", "triples.assemble", docs,
      _.url, ents, _.error.isDefined, spans)
    val perDoc = new Timed[(String, Vector[Triple])]("triples.assemble", "spark.sink",
      input.map(d => (d.url, Triples.fromDoc(d).toVector)),
      _._1, _._2.size, _ => false, spans)
    new SinkTimer("spark.sink", perDoc.flatMap(_._2))
  }
}

/** Self times and counts of a traced pull chain, from the [[Tracer]]
  * totals. `chain` is in pull order; each stage's upstream is the one
  * before it. Counts are totals over the chain's output, so a step's
  * `failed` and `entities_added` are differences against its upstream. */
object ChainReport {
  def apply(r: Result, chain: Seq[String]): Map[String, Double] = {
    def t(n: String, c: String) = Tracer.get(s"$n.$c")
    val self = chain.indices.map { i =>
      val up = if (i == 0) 0L else t(chain(i - 1), "incl_ns") + t(chain(i - 1), "book_ns")
      chain(i) -> (t(chain(i), "incl_ns") - up) / 1e6
    }.toMap
    chain.indices.foreach { i =>
      val n = chain(i)
      def diff(c: String) = t(n, c) - (if (i == 0) 0L else t(chain(i - 1), c))
      r.metric(s"$n.docs_in", (if (i == 0) t(n, "docs_out") else t(chain(i - 1), "docs_out")).toDouble)
      r.metric(s"$n.docs_out", t(n, "docs_out").toDouble)
      r.metric(s"$n.failed", diff("failed_out").toDouble)
      r.metric(s"$n.entities_added", diff("entities_out").toDouble)
    }
    r.metric("trace.bookkeeping_ms", chain.map(t(_, "book_ns")).sum / 1e6)
    self
  }
}

/** Measures the time the downstream consumer spends between pulls, and
  * after the last one until the task completes (a writer flushes its last
  * batch and commits then). */
final class SinkTimer[A](name: String, it: Iterator[A]) extends Iterator[A] {
  private var lastReturn = 0L
  private var sinkNs = 0L
  private var done = false
  private def enter(): Unit =
    if (lastReturn != 0L) { sinkNs += System.nanoTime() - lastReturn; lastReturn = 0L }
  def hasNext: Boolean = {
    enter()
    val h = it.hasNext
    if (h) lastReturn = System.nanoTime()
    else if (!done) {
      done = true
      Tracer.add(s"$name.incl_ns", sinkNs)
      val exhausted = System.nanoTime()
      Option(org.apache.spark.TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](
        (_: org.apache.spark.TaskContext) =>
          Tracer.add(s"$name.incl_ns", System.nanoTime() - exhausted)))
    }
    h
  }
  def next(): A = {
    enter()
    val a = it.next()
    lastReturn = System.nanoTime()
    a
  }
}

/** Per-task Spark metrics gathered by a listener between `start` and
  * `stop`. */
final class TaskMetricsListener extends org.apache.spark.scheduler.SparkListener {
  final case class T(stage: Int, attempt: Long, runMs: Long, cpuNs: Long,
      gcMs: Long, deserMs: Long, resultSerMs: Long, shuffleWriteBytes: Long)
  private val tasks = new ConcurrentLinkedQueue[T]()
  @volatile var on = false

  override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
    if (on && e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks.add(T(e.stageId, e.taskInfo.taskId, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.executorDeserializeTime,
        m.resultSerializationTime, m.shuffleWriteMetrics.bytesWritten))
    }

  def start(): Unit = { tasks.clear(); on = true }
  /** Listener events arrive asynchronously: wait for the bus to drain. */
  def stop(sc: org.apache.spark.SparkContext): Seq[T] = {
    val m = classOf[org.apache.spark.SparkContext].getMethods
      .find(_.getName == "listenerBus")
    m.foreach { getter =>
      val bus = getter.invoke(sc)
      bus.getClass.getMethods.find(x => x.getName == "waitUntilEmpty" &&
        x.getParameterCount == 0).foreach(_.invoke(bus))
    }
    on = false
    tasks.iterator().asScala.toSeq
  }
}
