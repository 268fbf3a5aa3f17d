#!/usr/bin/env python3
"""Product-path benchmark: pages -> KDoc -> (subj, pred, obj) triples.

    python3 perfbench/run.py --workload kg_full --seed 1 --seconds 15 --trace 0

Run from the repository root. Builds the repository and this benchmark with
sbt on first use (perfbench/target/ caches the build), generates the seeded
inputs, runs one workload in a JVM at local[nproc], checks every output
against the DuckDB oracle (graft.OracleSql) and prints one JSON line:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones, with --trace 1 the per-layer ones (see DESIGN.md).
Exits non-zero when the repository sources are missing, the build fails, or
an output is wrong.
"""
import argparse
import fcntl
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
RUN_DEADLINE_S = 170  # the whole run, build excluded
BUILD_DEADLINE_S = 850

# documents per workload input; kg_trie is larger so a warm pass is long
# enough to time (the trie path is ~10x cheaper per doc than kg_full)
WORKLOADS = {
    "kg_full": {"docs": 1000, "oracle": "oracle_full.sql"},
    "kg_trie": {"docs": 4000, "oracle": "oracle_trie.sql"},
    "kg_checkpointed": {"docs": 400, "oracle": "oracle_trie.sql"},
    "serve_mixed": {"docs": 600, "oracle": "oracle_full.sql"},
}

# name -> (unit, better); DESIGN.md says what each measures and moves
END_TO_END = {
    "docs_per_s": ("doc/s", "higher"),
    "p50_ms": ("ms", "lower"),
    "setup_s": ("s", "lower"),
}

STEPS = ["ner.trie", "ner.transformer", "ner.splitter", "link.dict",
         "link.class_filter", "link.mapping", "post.abbrev", "post.cleanup",
         "post.merge"]
PER_LAYER = {"text.extract.busy_ms": ("ms", "lower")}
for _step in STEPS + ["triples.assemble"]:
    PER_LAYER[_step + ".busy_ms"] = ("ms", "lower")
for _step in STEPS:
    PER_LAYER[_step + ".docs_in"] = ("count", "higher")
    PER_LAYER[_step + ".docs_out"] = ("count", "higher")
    PER_LAYER[_step + ".failed"] = ("count", "lower")
    PER_LAYER[_step + ".entities_added"] = ("count", "higher")
PER_LAYER.update({
    "triples.assemble.docs_in": ("count", "higher"),
    "triples.assemble.triples_out": ("count", "higher"),
    "ner.transformer.frames": ("count", "lower"),
    "ner.transformer.us_per_frame": ("us", "lower"),
    "pipeline.unattributed_ms": ("ms", "lower"),
    "pipeline.attributed_frac": ("fraction", "higher"),
    "pipeline.task_ms": ("ms", "lower"),
    "pipeline.kdoc_cache_write_ms": ("ms", "lower"),
    "pipeline.kdoc_cache_read_ms": ("ms", "lower"),
    "pipeline.failures_write_ms": ("ms", "lower"),
    "pipeline.docs_roundtrip_s": ("s", "lower"),
    "pipeline.snapshot.write_ms": ("ms", "lower"),
    "pipeline.snapshot.bytes": ("bytes", "lower"),
    "pipeline.lineage_rows": ("count", "higher"),
    "pipeline.resume.read_ms": ("ms", "lower"),
    "pipeline.resume_s": ("s", "lower"),
    "pipeline.first_pass_s": ("s", "lower"),
    "pipeline.passes": ("count", "higher"),
    "trace.overhead_frac": ("fraction", "lower"),
    "trace.bookkeeping_ms": ("ms", "lower"),
    "trace.spans": ("count", "higher"),
    "spark.input_ms": ("ms", "lower"),
    "spark.sink_ms": ("ms", "lower"),
    "spark.exchange_ms": ("ms", "lower"),
    "spark.executor_run_ms": ("ms", "lower"),
    "spark.cpu_ms": ("ms", "lower"),
    "spark.gc_ms": ("ms", "lower"),
    "spark.deser_ms": ("ms", "lower"),
    "spark.result_ser_ms": ("ms", "lower"),
    "spark.shuffle_write_bytes": ("bytes", "lower"),
    "spark.tasks": ("count", "lower"),
    "spark.task_skew": ("ratio", "lower"),
    "spark.scale_eff": ("ratio", "higher"),
    "spark.session_ms": ("ms", "lower"),
    "index.resources_ms": ("ms", "lower"),
    "index.broadcast_ms": ("ms", "lower"),
    "ner.model_load_ms": ("ms", "lower"),
    "pipeline.input_load_ms": ("ms", "lower"),
    "jvm.start_ms": ("ms", "lower"),
    "serve.compute_ms": ("ms", "lower"),
    "serve.json_ms": ("ms", "lower"),
    "serve.transport_ms": ("ms", "lower"),
    "serve.gen_late_ms": ("ms", "lower"),
    "serve.max_ok_rps": ("1/s", "higher"),
    "serve.tail_ms": ("ms", "lower"),
    "jvm.peak_rss_mb": ("MB", "lower"),
})
for _route in ["ner_and_linking", "batch", "linking_only"]:
    PER_LAYER["serve.%s.p50_ms" % _route] = ("ms", "lower")
    PER_LAYER["serve.%s.p99_ms" % _route] = ("ms", "lower")

# the corpus's closed vocabulary (graft.ontology.CorpusOntology and the
# transformer's vocabulary are defined over it) and language mix
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = [("en", 41), ("zh", 15), ("de", 14), ("fr", 15), ("es", 15)]
POPULATION = 5000
DUP_FRAC = 0.05
# documents of the batch workloads' small job (p50_ms)
SMALL_JOB_DOCS = 8


def die(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def build():
    """Compile the repository and the benchmark once per checkout."""
    os.makedirs(TARGET, exist_ok=True)
    cp_file = os.path.join(TARGET, "classpath.txt")
    opts_file = os.path.join(TARGET, "jvm-options.txt")
    with open(os.path.join(TARGET, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if not (os.path.exists(cp_file) and os.path.exists(opts_file)):
            env = dict(os.environ)
            env.setdefault("COURSIER_MODE", "offline")
            repos = os.path.expanduser("~/.sbt/repositories")
            if "SBT_OPTS" not in env and os.path.exists(repos):
                env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                                   "-Dsbt.repository.config=%s "
                                   "-Dsbt.offline=true -Xmx3g" % repos)
            cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true"]
            jvmopts = os.path.join(ROOT, ".jvmopts")
            if os.path.exists(jvmopts):
                with open(jvmopts) as f:
                    cmd += ["-J" + l.strip() for l in f if l.strip()]
            cmd.append("benchLaunchFiles")
            log_path = os.path.join(TARGET, "build.log")
            with open(log_path, "w") as log:
                proc = subprocess.Popen(cmd, cwd=HERE, env=env, stdout=log,
                                        stderr=subprocess.STDOUT,
                                        stdin=subprocess.DEVNULL,
                                        start_new_session=True)
                if wait_or_kill(proc, BUILD_DEADLINE_S) != 0:
                    for p in (cp_file, opts_file):
                        if os.path.exists(p):
                            os.remove(p)
                    with open(log_path) as f:
                        sys.stderr.write("".join(f.readlines()[-40:]))
                    die("build failed (log: %s)" % log_path)
    with open(cp_file) as f:
        cp = [l.strip() for l in f if l.strip()]
    with open(opts_file) as f:
        opts = [l.strip() for l in f if l.strip()]
    return cp, opts


def kill_group(proc):
    """Kill whatever is left of a finished process's group."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass


def wait_or_kill(proc, timeout):
    """Wait for a process started in its own session; on timeout kill its
    whole process group (a harness JVM and its server child) and reap it."""
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return -9


def population(seed):
    """A documents table in the shape of the sf0.1 test table (TESTDATA.md):
    doc ids 0..4999, 10-99 closed-vocabulary words per text, the same
    language mix and sources, and 5% near-duplicates (another doc's text
    plus " dup"). DESIGN.md compares its triples and transformer frames per
    doc with that table's."""
    rnd = random.Random(seed)
    texts = [" ".join(rnd.choice(VOCAB) for _ in range(rnd.randint(10, 99)))
             for _ in range(POPULATION)]
    for i in rnd.sample(range(POPULATION), int(POPULATION * DUP_FRAC)):
        texts[i] = texts[rnd.randrange(POPULATION)] + " dup"
    names = [l for l, _ in LANGS]
    weights = [w for _, w in LANGS]
    return [(i, t, rnd.choices(names, weights)[0], "src%d" % (i % 20), len(t))
            for i, t in enumerate(texts)]


def write_documents(rows, out_dir):
    """documents.parquet (the pipeline's input) and documents.tsv (the serve
    workload's request texts) under out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, "documents.tsv"), "w") as f:
        for r in rows:
            f.write("%d\t%s\n" % (r[0], r[1]))
    import duckdb
    import pandas
    documents = pandas.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"])
    con = duckdb.connect()
    con.register("documents", documents)
    con.execute("COPY documents TO '%s' (FORMAT parquet)"
                % os.path.join(out_dir, "documents.parquet"))
    con.close()


def generate(seed, n, work, source=None):
    """The run's input: n documents of the generated table, or of the
    documents.parquet under `source` if given; the seed picks the subset
    and its order. The first SMALL_JOB_DOCS of them are the small job's
    input (work/small)."""
    if source:
        import duckdb
        con = duckdb.connect()
        pool = con.execute(
            "SELECT doc_id, text, lang, source, n_chars FROM read_parquet('%s') "
            "ORDER BY doc_id" % os.path.join(source, "documents.parquet")).fetchall()
        con.close()
    else:
        pool = population(seed)
    if n > len(pool):
        die("%d documents asked for, the table has %d" % (n, len(pool)))
    rows = random.Random(seed).sample(pool, n)
    write_documents(rows, work)
    write_documents(rows[:SMALL_JOB_DOCS], os.path.join(work, "small"))


TRIPLE_COLS = ("subj, pred, obj, confidence, namespace, match, "
               "CAST(start AS BIGINT) AS start, CAST(\"end\" AS BIGINT) AS \"end\", url")


def oracle_mismatches(con, table_dir, oracle):
    """Rows of the written triple table and of the oracle table that the
    other side lacks, compared as multisets."""
    files = os.path.join(table_dir, "*", "*.parquet")
    eng = ("SELECT subj, pred, obj, confidence, namespace, matchStr AS match, "
           "CAST(start AS BIGINT) AS start, CAST(\"end\" AS BIGINT) AS \"end\", url "
           "FROM read_parquet('%s', hive_partitioning = true)" % files)
    orc = "SELECT %s FROM %s" % (TRIPLE_COLS, oracle)
    missing = con.execute("SELECT count(*) FROM (%s EXCEPT ALL %s)"
                          % (orc, eng)).fetchone()[0]
    extra = con.execute("SELECT count(*) FROM (%s EXCEPT ALL %s)"
                        % (eng, orc)).fetchone()[0]
    return missing, extra


def serve_mismatches(con, work):
    """Requests whose triples differ from the oracle rows of their docs."""
    con.execute("CREATE TABLE req_docs AS SELECT * FROM read_csv('%s', "
                "delim = '\t', header = true, quote = '', escape = '', "
                "columns = {'req': 'BIGINT', 'url': 'VARCHAR'})"
                % os.path.join(work, "serve_requests.tsv"))
    con.execute("CREATE TABLE resp AS SELECT * FROM read_csv('%s', "
                "delim = '\t', header = true, quote = '', escape = '', "
                "columns = {'req': 'BIGINT', 'subj': 'VARCHAR', 'pred': 'VARCHAR', "
                "'obj': 'VARCHAR', 'confidence': 'VARCHAR', 'namespace': 'VARCHAR', "
                "'match': 'VARCHAR', 'start': 'BIGINT', 'end': 'BIGINT', "
                "'url': 'VARCHAR'})" % os.path.join(work, "serve_triples.tsv"))
    cols = "subj, pred, obj, confidence, namespace, match, start, \"end\", url"
    expected = ("SELECT d.req, %s FROM req_docs d JOIN (SELECT %s FROM oracle) o "
                "USING (url)" % (", ".join("o." + c.strip() for c in cols.split(",")),
                                 TRIPLE_COLS))
    got = "SELECT req, %s FROM resp" % cols
    bad = con.execute(
        "SELECT count(DISTINCT req) FROM ((%s EXCEPT ALL %s) UNION ALL "
        "(%s EXCEPT ALL %s))" % (expected, got, got, expected)).fetchone()[0]
    return bad


def run_jvm(java, work, log_path, deadline):
    """Run one JVM in its own process group inside `work`; kill the group
    (a harness and its server child) if it outlives `deadline`."""
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(java, cwd=work, env=env, stdout=log,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL,
                                start_new_session=True)
        rc = wait_or_kill(proc, max(10, deadline - time.time()))
        kill_group(proc)
    return rc


def load_oracle(con, name, docs_dir, sql_file):
    """Table `name`: the oracle's triples over the documents in docs_dir."""
    con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM "
                "read_parquet('%s')" % os.path.join(docs_dir, "documents.parquet"))
    with open(sql_file) as f:
        con.execute("CREATE TABLE %s AS %s" % (name, f.read()))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--documents", metavar="DIR",
                    help="draw the input from DIR/documents.parquet instead "
                         "of the generated table (calibration)")
    ap.add_argument("--docs", type=int,
                    help="input size instead of the workload's default")
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("repository sources not found next to %s" % HERE)
    cp, jvm_opts = build()

    deadline = time.time() + RUN_DEADLINE_S
    cfg = WORKLOADS[args.workload]
    docs = args.docs or cfg["docs"]
    work = os.path.join(TARGET, "work", "%s-%d" % (args.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        documents = os.path.abspath(args.documents) if args.documents else None
        generate(args.seed, docs, work, documents)
        java = ["java"] + jvm_opts + [
            "-Xmx3g", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-cp", os.pathsep.join(cp), "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--cores", str(nproc()), "--docs", str(docs),
            "--spans", os.path.join(TARGET, "trace", args.workload + ".spans.tsv.gz"),
            "--launch-dir", TARGET]
        log_path = os.path.join(TARGET, "last-%s.log" % args.workload)
        rc = run_jvm(java, work, log_path, deadline)
        result_path = os.path.join(work, "result.json")
        if rc != 0 or not os.path.exists(result_path):
            die("harness failed with code %d (log: %s)" % (rc, log_path))
        with open(result_path) as f:
            res = json.load(f)
        shutil.copy(result_path, os.path.join(
            TARGET, "last-%s-trace%d.json" % (args.workload, args.trace)))

        import duckdb
        con = duckdb.connect()
        oracle_sql = os.path.join(work, cfg["oracle"])
        errors = list(res["errors"])
        failed = res["failed"]
        if args.workload == "serve_mixed":
            load_oracle(con, "oracle", work, oracle_sql)
            if not errors:
                bad = serve_mismatches(con, work)
                failed += bad
                if bad:
                    errors.append("%d responses differ from the oracle" % bad)
        else:
            oracles = {}
            for name, out in res["outputs"].items():
                if out["documents"] not in oracles:
                    oracles[out["documents"]] = "oracle%d" % len(oracles)
                    load_oracle(con, oracles[out["documents"]], out["documents"],
                                oracle_sql)
                missing, extra = oracle_mismatches(
                    con, out["table"], oracles[out["documents"]])
                if missing or extra:
                    errors.append("%s: %d oracle rows missing, %d extra rows"
                                  % (name, missing, extra))
        con.close()
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for e in errors:
        print("perfbench: " + e, file=sys.stderr)
    wanted = PER_LAYER if args.trace else END_TO_END
    metrics = {k: {"value": float(res["metrics"].get(k, 0.0)), "unit": u}
               for k, (u, _) in wanted.items()}
    correct = not errors and failed == 0 and res["attempted"] > 0
    print(json.dumps({"correct": correct, "attempted": max(1, res["attempted"]),
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
