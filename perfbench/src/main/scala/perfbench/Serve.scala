package perfbench

import java.io.{BufferedInputStream, InputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}
import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue}
import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.locks.LockSupport

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

import graft.index.Resources
import graft.ner.{MiniBern, TokenClassifier}
import graft.ontology.CorpusOntology
import graft.pipeline.Pages
import graft.serve.Server
import graft.triples.Triples

/** `serve_mixed`: `graft.serve.Server` in a child JVM, driven over
  * keep-alive HTTP/1.1 by a raw-socket generator. Each request goes out in
  * one write on a TCP_NODELAY socket, so the generator adds no Nagle or
  * delayed-ACK stall of its own; at most `nproc - 1` connections, each with
  * one worker thread, plus the dispatcher thread.
  *
  * Route mix: 80% single-doc `ner_and_linking`, 10% `batch` of 8 docs, 10%
  * `linking_only` on `ner_only` JSON captured during set-up. The split is
  * an assumption (no record of real traffic exists), kept to "mostly
  * single-doc requests".
  */
object Serve {

  val BatchDocs = 8
  val FirstPassRequests = 200
  val SaturationSeconds = 6.0
  /** Base rate: low enough that no request queues behind another. */
  val BaseRate = 20.0
  val Ladder: Seq[Double] = Seq(20, 40, 80, 160, 320)
  val LadderSeconds = 2.0
  val LatencyLimitMs = 200.0
  val ServerXmx = "1g"

  final case class Req(route: String, docIds: IndexedSeq[Long], body: Array[Byte])
  final case class Done(req: Req, dueNs: Long, sentNs: Long, endNs: Long,
      status: Int, body: Array[Byte]) {
    def latencyMs: Double = (endNs - dueNs) / 1e6
  }

  private val mapper = new ObjectMapper()

  /** One keep-alive connection. */
  final class Conn(port: Int) {
    private val sock = new Socket()
    sock.setTcpNoDelay(true)
    sock.connect(new InetSocketAddress("127.0.0.1", port), 5000)
    sock.setSoTimeout(60000)
    private val out = sock.getOutputStream
    private val in: InputStream = new BufferedInputStream(sock.getInputStream, 1 << 16)

    def call(route: String, body: Array[Byte]): (Int, Array[Byte]) = {
      val head = (s"POST /api/kazu/$route HTTP/1.1\r\nHost: 127.0.0.1:$port\r\n" +
        s"Content-Type: application/json\r\nContent-Length: ${body.length}\r\n\r\n")
        .getBytes(ISO_8859_1)
      val msg = java.util.Arrays.copyOf(head, head.length + body.length)
      System.arraycopy(body, 0, msg, head.length, body.length)
      out.write(msg)
      out.flush()
      read()
    }

    private def line(): String = {
      val sb = new java.lang.StringBuilder
      var c = in.read()
      while (c != '\n') {
        if (c < 0) throw new java.io.EOFException("connection closed")
        if (c != '\r') sb.append(c.toChar)
        c = in.read()
      }
      sb.toString
    }

    private def read(): (Int, Array[Byte]) = {
      val status = line().split(" ")(1).toInt
      var len = -1
      var h = line()
      while (h.nonEmpty) {
        val i = h.indexOf(':')
        if (i > 0 && h.substring(0, i).trim.equalsIgnoreCase("content-length"))
          len = h.substring(i + 1).trim.toInt
        h = line()
      }
      require(len >= 0, "response without Content-Length")
      val body = new Array[Byte](len)
      var off = 0
      while (off < len) {
        val n = in.read(body, off, len - off)
        if (n < 0) throw new java.io.EOFException("truncated body")
        off += n
      }
      (status, body)
    }

    def close(): Unit = sock.close()
  }

  /** The server under test, in its own JVM. */
  final class Child(a: Args) {
    val port: Int = { val s = new java.net.ServerSocket(0); try s.getLocalPort finally s.close() }
    private def lines(f: String) =
      java.nio.file.Files.readAllLines(new java.io.File(a.launchDir, f).toPath, UTF_8)
        .asScala.map(_.trim).filter(_.nonEmpty).toSeq
    private val cmd = Seq("java") ++ lines("jvm-options.txt") ++ Seq(
      s"-Xmx$ServerXmx", s"-Djava.io.tmpdir=${a.work}/tmp",
      "-cp", lines("classpath.txt").mkString(java.io.File.pathSeparator),
      "graft.serve.Server")
    private val pb = new ProcessBuilder(cmd: _*)
      .redirectErrorStream(true)
      .redirectOutput(new java.io.File(a.work, s"server-$port.log"))
    pb.environment().put("GRAFT_SERVE_PORT", port.toString)
    val launchedNs: Long = System.nanoTime()
    val proc: Process = pb.start()

    /** Launch → first 200 on `ner_and_linking`. */
    def awaitReady(body: Array[Byte]): Double = {
      val deadline = launchedNs + 90L * 1000000000L
      while (System.nanoTime() < deadline) {
        if (!proc.isAlive) sys.error(s"server exited with ${proc.exitValue}")
        try {
          val c = new Conn(port)
          try {
            val (st, _) = c.call("ner_and_linking", body)
            if (st == 200) return (System.nanoTime() - launchedNs) / 1e9
          } finally c.close()
        } catch { case _: java.io.IOException => Thread.sleep(20) }
      }
      sys.error("server not ready in 90 s")
    }

    def kill(): Unit = { proc.destroyForcibly(); proc.waitFor() }
  }

  def textBody(text: String): Array[Byte] =
    mapper.writeValueAsBytes(Map("text" -> text).asJava)

  /** Closed loop: each connection sends its next request when the previous
    * one completes; time is measured from the send. */
  def closedLoop(reqs: IndexedSeq[Req], conns: Seq[Conn],
      seconds: Double = Double.PositiveInfinity): (Seq[Done], Double) = {
    val next = new AtomicInteger(0)
    val done = new ConcurrentLinkedQueue[Done]()
    val t0 = System.nanoTime()
    val stopAt = if (seconds.isInfinite) Long.MaxValue else t0 + (seconds * 1e9).toLong
    val threads = conns.map { c =>
      val t = new Thread(() => {
        var i = next.getAndIncrement()
        while (i < reqs.size && System.nanoTime() < stopAt) {
          val r = reqs(i)
          val s = System.nanoTime()
          val (st, body) = c.call(r.route, r.body)
          done.add(Done(r, s, s, System.nanoTime(), st, body))
          i = next.getAndIncrement()
        }
      })
      t.start(); t
    }
    threads.foreach(_.join())
    (done.asScala.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  final case class OpenRun(done: Seq[Done], lateMs: Seq[Double], backlog: Int)

  /** Open loop at a fixed rate: request i is due at t0 + i / rate whatever
    * happened before; latency counts from the due time, so a stall charges
    * every request queued behind it. */
  def openLoop(reqs: IndexedSeq[Req], rate: Double, conns: Seq[Conn]): OpenRun = {
    val queue = new LinkedBlockingQueue[Option[(Req, Long)]]()
    val done = new ConcurrentLinkedQueue[Done]()
    val threads = conns.map { c =>
      val t = new Thread(() => {
        var item = queue.take()
        while (item.isDefined) {
          val (r, due) = item.get
          val s = System.nanoTime()
          val (st, body) = c.call(r.route, r.body)
          done.add(Done(r, due, s, System.nanoTime(), st, body))
          item = queue.take()
        }
      })
      t.start(); t
    }
    val late = new Array[Double](reqs.size)
    val t0 = System.nanoTime() + 1000000L
    var i = 0
    while (i < reqs.size) {
      val due = t0 + (i * 1e9 / rate).toLong
      var now = System.nanoTime()
      while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
      late(i) = (now - due) / 1e6
      queue.put(Some((reqs(i), due)))
      i += 1
    }
    val backlog = queue.size
    conns.foreach(_ => queue.put(None))
    threads.foreach(_.join())
    OpenRun(done.asScala.toSeq, late.toSeq, backlog)
  }

  /** The seeded request sequence over the generated documents. */
  def requests(seed: Long, n: Int, docs: IndexedSeq[(Long, String)],
      nerOnly: IndexedSeq[(Long, Array[Byte])]): IndexedSeq[Req] = {
    val rnd = new java.util.Random(seed)
    IndexedSeq.fill(n) {
      val u = rnd.nextDouble()
      if (u < 0.8) {
        val (id, text) = docs(rnd.nextInt(docs.size))
        Req("ner_and_linking", IndexedSeq(id), textBody(text))
      } else if (u < 0.9) {
        val picked = IndexedSeq.fill(BatchDocs)(docs(rnd.nextInt(docs.size)))
        Req("batch", picked.map(_._1), mapper.writeValueAsBytes(
          picked.map(d => Map("text" -> d._2).asJava).asJava))
      } else {
        val (id, json) = nerOnly(rnd.nextInt(nerOnly.size))
        Req("linking_only", IndexedSeq(id), json)
      }
    }
  }

  def docsIn(d: Done): Int = d.req.docIds.size

  def run(a: Args): Result = {
    val r = new Result
    val docs = scala.io.Source.fromFile(new java.io.File(a.work, "documents.tsv"), "UTF-8")
      .getLines().map { l =>
        val t = l.indexOf('\t'); (l.substring(0, t).toLong, l.substring(t + 1))
      }.toIndexedSeq
    val probe = textBody(docs.head._2)
    val conns = math.max(1, a.cores - 1)

    // set-up repeated: launch → first 200, each server but the last killed
    val starts = (1 to Args.SetupRepeats).map { i =>
      val c = new Child(a)
      val s = try c.awaitReady(probe) catch { case e: Throwable => c.kill(); throw e }
      if (i < Args.SetupRepeats) c.kill()
      (c, s)
    }
    r.metric("setup_s", Stats.median(starts.map(_._2)))
    val server = starts.last._1
    val all = scala.collection.mutable.ArrayBuffer.empty[Done]
    try {
      val cs = Seq.fill(conns)(new Conn(server.port))
      // ner_only JSON for the linking_only route, captured from the server
      val nerOnly = docs.take(32).map { case (id, text) =>
        val (st, body) = cs.head.call("ner_only", textBody(text))
        require(st == 200, s"ner_only set-up request failed with $st")
        (id, body)
      }
      val rnd = new java.util.Random(a.seed)
      def seq(n: Int) = requests(rnd.nextLong(), n, docs, nerOnly)

      val (first, firstS) = closedLoop(seq(FirstPassRequests), cs)
      all ++= first
      r.metric("pipeline.first_pass_s", firstS)

      val (sat, satS) = closedLoop(seq(5000), cs, SaturationSeconds)
      all ++= sat
      r.metric("docs_per_s", sat.map(docsIn).sum / satS)

      val base = openLoop(seq((BaseRate * a.seconds).toInt), BaseRate, cs)
      all ++= base.done
      val lat = base.done.map(_.latencyMs)
      r.metric("p50_ms", Stats.median(lat))
      // the highest percentile with at least ten samples beyond it
      r.metric("serve.tail_ms", Stats.quantile(lat, 1.0 - 10.0 / lat.size))

      if (a.trace) {
        for (route <- Seq("ner_and_linking", "batch", "linking_only")) {
          val l = base.done.filter(_.req.route == route).map(_.latencyMs)
          r.metric(s"serve.$route.p50_ms", Stats.median(l))
          r.metric(s"serve.$route.p99_ms", Stats.quantile(l, 0.99))
        }
        r.metric("serve.gen_late_ms", Stats.quantile(base.lateMs, 0.99))
        var ok = 0.0
        var stop = false
        for (rate <- Ladder if !stop) {
          val run = openLoop(seq((rate * LadderSeconds).toInt), rate, cs)
          all ++= run.done
          val good = run.done.forall(_.status == 200) &&
            Stats.quantile(run.done.map(_.latencyMs), 0.99) <= LatencyLimitMs &&
            run.backlog <= conns
          if (good) ok = rate else stop = true
        }
        r.metric("serve.max_ok_rps", ok)
        inProcess(a, base.done, r)
      }
      cs.foreach(_.close())
      r.peakRss(server.proc.pid())
    } finally server.kill()

    check(a, all.toSeq, r)
    r
  }

  /** The same documents through `Server.Service` and the JSON codec in this
    * JVM: what the HTTP path adds on top of them is transport. */
  private def inProcess(a: Args, base: Seq[Done], r: Result): Unit = {
    val single = base.filter(_.req.route == "ner_and_linking")
    val texts = single.map(d => mapper.readTree(d.req.body).path("text").asText)
    // the server's own start-up steps, timed here: resource bundle, model
    val t0 = System.nanoTime()
    Resources.build(CorpusOntology.rows, CorpusOntology.entityClassOf,
      CorpusOntology.CommonWords)
    val t1 = System.nanoTime()
    new MiniBern(TokenClassifier.CorpusVocab)
    val t2 = System.nanoTime()
    r.metric("index.resources_ms", (t1 - t0) / 1e6)
    r.metric("ner.model_load_ms", (t2 - t1) / 1e6)
    val service = new Server.Service(Resources.corpus)
    def computeAll() = texts.map { t =>
      val t0 = System.nanoTime()
      val out = service.nerAndLinking(service.docFromText(t, "doc-0"))
      (out, (System.nanoTime() - t0) / 1e6)
    }
    computeAll()
    val computed = computeAll()
    val jsonMs = computed.map { case (doc, _) =>
      val t0 = System.nanoTime()
      val bytes = mapper.writeValueAsBytes(Server.docToJsonNode(doc))
      Server.docFromJsonNode(mapper.readTree(bytes))
      (System.nanoTime() - t0) / 1e6
    }
    val computeMs = Stats.median(computed.map(_._2))
    val json = Stats.median(jsonMs)
    r.metric("serve.compute_ms", computeMs)
    r.metric("serve.json_ms", json)
    r.metric("serve.transport_ms",
      r.metrics.getOrElse("serve.ner_and_linking.p50_ms", 0.0) - computeMs - json)

    // per-step self times of the same documents, in process
    Tracer.reset()
    val it = Replay.steps(Resources.corpus, transformer = true, spans = true)(
      texts.iterator.map(t => service.docFromText(t, "doc-0")))
    while (it.hasNext) it.next()
    val names = Replay.stages(true).drop(2)
    ChainReport(r, names).foreach { case (n, ms) => r.metric(s"$n.busy_ms", ms) }
    Tracer.writeSpans(new java.io.File(a.spansFile))
  }

  /** Every response must be a 200 whose docs convert to the oracle's
    * triples; run.py does the comparison from the two files written here. */
  private def check(a: Args, all: Seq[Done], r: Result): Unit = {
    val reqOut = new java.io.PrintWriter(new java.io.File(a.work, "serve_requests.tsv"), "UTF-8")
    val triOut = new java.io.PrintWriter(new java.io.File(a.work, "serve_triples.tsv"), "UTF-8")
    try {
      reqOut.println("req\turl")
      triOut.println("req\tsubj\tpred\tobj\tconfidence\tnamespace\tmatch\tstart\tend\turl")
      all.zipWithIndex.foreach { case (d, i) =>
        r.attempted += 1
        if (d.status != 200) r.failed += 1
        else {
          val node = mapper.readTree(d.body)
          val nodes = if (node.isArray) node.elements().asScala.toSeq else Seq(node)
          if (nodes.size != d.req.docIds.size) r.failed += 1
          nodes.zip(d.req.docIds).foreach { case (n, id) =>
            val url = Pages.urlOf(id)
            reqOut.println(s"$i\t$url")
            val doc = Server.docFromJsonNode(n)
            Triples.fromDoc(doc).foreach { t =>
              val subj = url + t.subj.substring(doc.url.length)
              triOut.println(Seq(i, subj, t.pred, t.obj, t.confidence, t.namespace,
                t.matchStr, t.start, t.end, url).mkString("\t"))
            }
          }
        }
      }
    } finally { reqOut.close(); triOut.close() }
  }
}
