package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** `warmupPasses`: unmeasured passes between the cold first pass and the
  * measured ones. */
final case class Workload(name: String, transformer: Boolean,
    checkpointed: Boolean, serve: Boolean, warmupPasses: Int = 0)

object Workload {
  val all: Seq[Workload] = Seq(
    Workload("kg_full", transformer = true, checkpointed = false, serve = false,
      warmupPasses = 3),
    Workload("kg_trie", transformer = false, checkpointed = false, serve = false,
      warmupPasses = 3),
    Workload("kg_checkpointed", transformer = false, checkpointed = true, serve = false,
      warmupPasses = 1),
    Workload("serve_mixed", transformer = true, checkpointed = false, serve = true))
}

/** Harness arguments, passed by run.py. `work` holds the generated
  * documents (`documents.parquet`, `documents.tsv`; the small job's in
  * `work/small`) and receives every output table. */
final case class Args(workload: String, seed: Long, seconds: Double,
    trace: Boolean, work: String, cores: Int, docs: Long, spansFile: String,
    launchDir: String) {
  def smallWork: String = s"$work/small"
}

object Args {
  /** Server starts per serve run; its `setup_s` is their median. */
  val SetupRepeats = 3
  /** Measured passes per batch run, whatever `--seconds` says. */
  val MinMeasuredPasses = 3

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def req(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", req("work"), req("cores").toInt, req("docs").toLong,
      req("spans"), req("launch-dir"))
  }
}

/** Metrics, counts and check failures of one run. */
final class Result {
  val metrics: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  var attempted = 0L
  var failed = 0L
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  /** Written triple tables to check: name → (table dir, input docs dir). */
  val outputs: mutable.LinkedHashMap[String, (String, String)] = mutable.LinkedHashMap.empty

  def metric(name: String, v: Double): Unit = metrics(name) = v

  /** Peak resident memory of a JVM under test, from /proc (Linux). */
  def peakRss(pid: Long = ProcessHandle.current().pid()): Unit = {
    val f = new java.io.File(s"/proc/$pid/status")
    val kb = if (!f.exists) 0L else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toLong).getOrElse(0L)
      finally src.close()
    }
    metric("jvm.peak_rss_mb", kb / 1024.0)
  }

  def toJson: String = {
    val node = Map[String, Object](
      "metrics" -> metrics.map { case (k, v) => k -> Double.box(v) }.asJava,
      "attempted" -> Long.box(attempted),
      "failed" -> Long.box(failed),
      "errors" -> errors.asJava,
      "outputs" -> outputs.map { case (k, (table, docs)) =>
        k -> Map("table" -> table, "documents" -> docs).asJava }.asJava).asJava
    new com.fasterxml.jackson.databind.ObjectMapper().writeValueAsString(node)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Runs one workload and writes `result.json` into the work directory;
  * run.py checks the outputs against the oracle and prints the result. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val w = Workload.all.find(_.name == a.workload)
      .getOrElse(sys.error(s"unknown workload ${a.workload}"))
    java.nio.file.Files.write(new java.io.File(a.work, "oracle_full.sql").toPath,
      graft.OracleSql.kgTriples.getBytes("UTF-8"))
    java.nio.file.Files.write(new java.io.File(a.work, "oracle_trie.sql").toPath,
      graft.OracleSql.kgTriplesTrieOnly.getBytes("UTF-8"))
    val r = try {
      if (w.serve) Serve.run(a) else Batch.run(a, w)
    } catch {
      case e: Throwable =>
        val r = new Result
        r.errors += s"${e.getClass.getName}: ${e.getMessage}"
        e.printStackTrace()
        r
    }
    val out = new java.io.File(a.work, "result.json")
    java.nio.file.Files.write(out.toPath, r.toJson.getBytes("UTF-8"))
    // no server child outlives the harness, and Spark threads must not keep
    // the JVM alive
    ProcessHandle.current().descendants().forEach { p => p.destroyForcibly(); () }
    System.exit(0)
  }
}
