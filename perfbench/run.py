"""KG-construction benchmark: one command, three workloads.

    python3 perfbench/run.py --workload build_html --seed 1 --seconds 15 --trace 0

Workloads (see README.md for their inputs and why each exists):

* ``build_html``     -- ``KgPipeline.run`` into a fresh workdir, then
  ``write_ntriples`` of the canonical output;
* ``resume_html``    -- ``KgPipeline.run`` on a workdir where half of the
  url-hash buckets finished before a simulated crash;
* ``stream_pretext`` -- ``stream_triples`` (``availableNow``) over
  pre-extracted text in many small files, a fixed number per trigger.

Every timed pass is one operation; its outputs are checked against a
single-process recomputation and counted as failed if a check fails. The
last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` -- the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``.
"""

import time

T0 = time.time()  # process start, as far as this program can see it

import argparse  # noqa: E402
import glob  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from collections import Counter  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path[:0] = [ROOT, HERE]

WORKLOADS = ("build_html", "resume_html", "stream_pretext")
SLOTS = min(4, len(os.sched_getaffinity(0)))
DRIVER_HEAP = "1g"
N_PAGES = 2000  # build_html / resume_html corpus
N_BUCKETS = 8
N_TEXT_PAGES = 1500  # stream_pretext: pages generated; the ~98% well-formed ones are written
FILES_PER_TRIGGER = 3
# passes before pass time stops falling, on consecutive passes measured in
# one process (README, "Passes, warm-up, operations")
WARMUP_PASSES = 2
SCOPE = "perfbench"
NT_COLS = ["subj", "pred", "obj_kind", "obj_lexical", "obj_lang", "obj_datatype"]


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


args = parse_args() if __name__ == "__main__" else None

# Spark's Python workers import the engine from the checkout; temp files of
# the JVM, the workers and this process stay inside the work directory.
os.environ["PYTHONPATH"] = os.pathsep.join(
    [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
)
os.environ["TMPDIR"] = os.path.join(WORK, "tmp")

import pyarrow.parquet as pq  # noqa: E402
from pyspark import SparkContext  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from cmc_knowledge_graph_text2ttl_spark.operators.run import (  # noqa: E402
    explode_triples,
    extract_and_run_workflows,
)
from cmc_knowledge_graph_text2ttl_spark.plans import KgPipeline  # noqa: E402
from cmc_knowledge_graph_text2ttl_spark.session import get_spark  # noqa: E402
from cmc_knowledge_graph_text2ttl_spark.sinks.ttl import write_ntriples  # noqa: E402
from cmc_knowledge_graph_text2ttl_spark.sources.pages import read_pages  # noqa: E402
from cmc_knowledge_graph_text2ttl_spark.streaming import (  # noqa: E402
    read_pages_stream,
    stream_triples,
)
from cmc_knowledge_graph_text2ttl_spark.workflow.compile import (  # noqa: E402
    compile_workflow_file,
)

import gen  # noqa: E402
import ref  # noqa: E402
import tracing  # noqa: E402

T_IMPORTS = time.time()


# -- helpers ---------------------------------------------------------------------


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def tree_files(path: str) -> int:
    return sum(len(fs) for _, _, fs in os.walk(path))


def read_rows(path: str, cols) -> list:
    """Rows of a Parquet directory (hive-partitioned or not), read with
    pyarrow -- apart from Spark."""
    table = pq.read_table(path, columns=cols)
    return list(zip(*(table.column(c).to_pylist() for c in cols)))


def text_lines(path: str) -> list:
    lines = []
    for f in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(f, encoding="utf8") as fh:
            lines.extend(fh.read().splitlines())
    return lines


def extract_errors(wd: str) -> int:
    col = pq.read_table(os.path.join(wd, "extract"), columns=["extract_error"]).column(0)
    return len(col) - col.null_count


def median(xs):
    return statistics.median(xs) if xs else 0.0


def spark_conf(trace_on: bool) -> dict:
    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(WORK, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        # the whole heap is committed and touched at launch, so the JVM's
        # resident size does not depend on when it happened to grow its
        # heap; peak_rss_mb counts the heap a pass retains (MemorySampler)
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData "
            f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch"
        ),
    }
    if trace_on:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(WORK, "eventlog"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return conf


def compile_workflows():
    paths = sorted(glob.glob(os.path.join(gen.WORKFLOW_DIR, "*.yaml")))
    return [compile_workflow_file(p, index=i) for i, p in enumerate(paths)]


class Session:
    """Spark session + compiled workflows + the registered input table."""

    def __init__(self, conf: dict, input_dir: str) -> None:
        self.conf, self.input_dir = conf, input_dir
        self.start()

    def start(self) -> None:
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{SLOTS}]",
            shuffle_partitions=SLOTS, extra_conf=self.conf,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.programs = compile_workflows()
        self.pages = read_pages(self.spark, self.input_dir)
        self.memory = self.spark._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()

    def retained_heap(self) -> int:
        """Bytes the driver JVM's heap holds after a full collection."""
        self.spark._jvm.java.lang.System.gc()
        return self.memory.getHeapMemoryUsage().getUsed()

    def close(self) -> None:
        """Stop Spark and wait for the JVM to exit (idempotent)."""
        gateway = SparkContext._gateway
        if gateway is not None:
            self.spark.stop()
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None


# -- passes ------------------------------------------------------------------------


class Workload:
    """One workload: its input, its pass, and the check of a pass."""

    staged = True  # runs KgPipeline (else the streaming path)
    # Nominal pass time on the reference host: a run makes
    # max(1, seconds // pass_s) timed passes, whatever its passes take, so
    # every run with the same --seconds times the same passes.
    pass_s = 12.0

    def __init__(self, seed: int, trace_on: bool) -> None:
        self.seed, self.trace_on = seed, trace_on
        self.input_dir = os.path.join(WORK, "input")
        self.pass_dir = os.path.join(WORK, "pass")
        self.sink = write_ntriples
        self.extra: dict = {}  # per-pass measurements for the traced run

    @property
    def wd(self) -> str:
        return os.path.join(self.pass_dir, "wd")

    def generate(self) -> None:
        self.pages = gen.generate(self.seed, N_PAGES)
        gen.write_pages(self.pages, self.input_dir, gen.HTML_FILES)

    def reference(self, programs) -> None:
        self.ref = ref.compute(self.pages, programs)

    def prepare(self, s: Session) -> None:
        """Once per run, after set-up (e.g. the half-done workdir)."""

    def before_pass(self) -> None:
        shutil.rmtree(self.pass_dir, ignore_errors=True)

    def run_pass(self, s: Session) -> None:
        raise NotImplementedError

    def check(self, s: Session) -> list:
        raise NotImplementedError

    def triples_written(self) -> int:
        """Winner triples a pass writes."""
        return sum(self.ref.winners.values())

    def ckpt_bytes(self) -> int:
        return tree_bytes(self.wd)

    def n_docs(self) -> int:
        return len(self.pages)

    def check_staged(self) -> list:
        """Checks shared by the two staged workloads."""
        winners = read_rows(os.path.join(self.wd, "triples"), ref.WINNER_COLS)
        canonical = read_rows(os.path.join(self.wd, "canonical"), ref.WINNER_COLS)
        errors = extract_errors(self.wd)
        malformed = sum(p.family == "malformed" for p in self.pages)
        problems = ref.check_winners(winners, self.ref)
        problems += ref.check_kv_facts(winners, self.ref)
        problems += ref.check_canonical(canonical, self.ref.winners)
        if errors != malformed:
            problems.append(f"{errors} extract errors, generator wrote {malformed} malformed pages")
        return problems


class BuildHtml(Workload):
    def run_pass(self, s: Session) -> None:
        out = KgPipeline(s.spark, self.wd, s.programs, run_scope=SCOPE, n_buckets=N_BUCKETS).run(s.pages)
        self.sink(out["canonical"].select(*NT_COLS).distinct(), os.path.join(self.pass_dir, "nt"))

    def check(self, s: Session) -> list:
        lines = text_lines(os.path.join(self.pass_dir, "nt"))
        return self.check_staged() + ref.check_ntriples(lines, self.ref.winners)


class ResumeHtml(Workload):
    DONE = frozenset(range(0, N_BUCKETS, 2))  # buckets finished before the crash

    @property
    def base(self) -> str:
        return os.path.join(WORK, "half_done")

    def prepare(self, s: Session) -> None:
        """Half-done workdir: the bucket stages of the even url-hash buckets
        complete, then the run stops before the global canonical stage."""
        shutil.rmtree(self.base, ignore_errors=True)
        pipe = KgPipeline(s.spark, self.base, s.programs, run_scope=SCOPE,
                          n_buckets=N_BUCKETS, canonicalize=False)
        done = pipe.add_bucket(s.pages).filter(F.col("bucket").isin(sorted(self.DONE)))
        pipe.run(done.drop("bucket"))
        self.base_lineage = set(read_rows(os.path.join(self.base, "lineage"), ["stage", "bucket", "ts"]))

    def before_pass(self) -> None:
        super().before_pass()
        shutil.copytree(self.base, self.wd)

    def run_pass(self, s: Session) -> None:
        KgPipeline(s.spark, self.wd, s.programs, run_scope=SCOPE, n_buckets=N_BUCKETS).run(s.pages)

    def check(self, s: Session) -> list:
        problems = self.check_staged()
        rows = read_rows(os.path.join(self.wd, "lineage"), ["stage", "bucket", "ts", "status"])
        done = Counter((st, b) for st, b, _, status in rows if status == "done")
        skipped = {(st, b) for st, b, ts, _ in rows if (st, b, ts) in self.base_lineage}
        for stage in ("extract", "results", "triples"):
            for b in range(N_BUCKETS):
                if done[(stage, b)] != 1:
                    problems.append(f"{stage}/bucket {b}: {done[(stage, b)]} done lineage rows")
            if {b for st, b in skipped if st == stage} != self.DONE:
                problems.append(f"{stage}: skipped buckets differ from the finished half")
        self.extra["buckets_skipped"] = len(skipped)
        return problems

    def triples_written(self) -> int:
        """Only the redone buckets' triples are written by a resume."""
        t = pq.read_table(os.path.join(self.wd, "triples"), columns=["bucket"])
        return sum(b not in self.DONE for b in t.column("bucket").to_pylist())


class StreamPretext(Workload):
    staged = False
    pass_s = 7.5

    def generate(self) -> None:
        self.pages = gen.write_pretext(
            gen.generate(self.seed, N_TEXT_PAGES), self.input_dir, gen.DOCS_PER_FILE
        )

    def reference(self, programs) -> None:
        self.ref = ref.compute(self.pages, programs, use_extracted=False)

    def prepare(self, s: Session) -> None:
        """The batch path over the same files, once per run."""
        batch = explode_triples(extract_and_run_workflows(s.pages, s.programs), winners_only=True)
        self.batch = Counter(tuple(r) for r in batch.select(*ref.WINNER_COLS).collect())

    @property
    def out(self) -> str:
        return os.path.join(self.pass_dir, "out")

    def run_pass(self, s: Session) -> None:
        self.progress = stream_pass(s, self.input_dir, self.pass_dir, FILES_PER_TRIGGER)

    def check(self, s: Session) -> list:
        rows = Counter(read_rows(self.out, ref.WINNER_COLS))
        problems = ref.check_winners(rows.elements(), self.ref)
        if rows != self.batch:
            problems.append("streamed triples differ from the batch path over the same files")
        return problems

    def ckpt_bytes(self) -> int:
        return tree_bytes(self.pass_dir)


def stream_pass(s: Session, src: str, pass_dir: str, files_per_trigger: int) -> list:
    """One availableNow stream over ``src``; returns (triggerExecution,
    addBatch) seconds of every micro-batch that read input."""
    q = stream_triples(
        read_pages_stream(s.spark, src, max_files_per_trigger=files_per_trigger),
        s.programs, os.path.join(pass_dir, "out"), os.path.join(pass_dir, "ckpt"),
    )
    q.awaitTermination()
    return [
        (p.durationMs["triggerExecution"] / 1000, p.durationMs.get("addBatch", 0) / 1000)
        for p in q.recentProgress
        if p.numInputRows > 0
    ]


# -- the run -------------------------------------------------------------------------


def timed_pass(w: Workload, s: Session, mem: tracing.MemorySampler) -> tuple:
    """(start, end) of one pass; set-up of its workdir and the full
    collection after it are not timed."""
    w.before_pass()
    t = time.time()
    w.run_pass(s)
    t_end = time.time()
    mem.after_pass()
    return t, t_end


def main(a) -> None:
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    shutil.rmtree(os.path.join(WORK, "eventlog"), ignore_errors=True)
    os.makedirs(os.path.join(WORK, "eventlog"))
    workloads = {"build_html": BuildHtml, "resume_html": ResumeHtml, "stream_pretext": StreamPretext}
    w = workloads[a.workload](a.seed, bool(a.trace))
    shutil.rmtree(os.path.join(WORK, "input"), ignore_errors=True)
    t_gen = time.time()
    w.generate()
    t_gen_done = time.time()

    # set-up: from process start until the session is up, the workflows are
    # compiled and the input is registered; input generation excluded
    s = Session(spark_conf(w.trace_on), w.input_dir)
    setup_s = (T_IMPORTS - T0) + (time.time() - t_gen_done)
    log(f"generated {w.n_docs()} pages in {t_gen_done - t_gen:.2f}s; setup {setup_s:.2f}s")

    w.reference(s.programs)
    w.prepare(s)

    mem = tracing.MemorySampler(s.memory.getHeapMemoryUsage().getCommitted(), s.retained_heap).start()
    warm = [timed_pass(w, s, mem) for _ in range(WARMUP_PASSES)]
    log(f"warm-up passes {[round(b - a, 2) for a, b in warm]}")

    tracer = tracing.Tracer(s.spark) if w.trace_on else None
    if tracer:
        w.sink = tracer.wrap(write_ntriples, "sinks", kind="stage")
        tracer.install()
    walls, windows, batches, failed, per_pass = [], [], [], 0, []
    for _ in range(max(1, int(a.seconds // w.pass_s))):
        t, t_end = timed_pass(w, s, mem)
        walls.append(t_end - t)
        windows.append((t, t_end))
        if not w.staged:
            batches.extend(w.progress)
        problems = w.check(s)
        per_pass.append(
            {"ckpt": w.ckpt_bytes(), "triples": w.triples_written(), **w.extra}
        )
        if problems:
            failed += 1
            log(f"pass {len(walls)} FAILED: {'; '.join(problems)}")
    peak_rss = mem.stop()
    log(mem.describe())
    if tracer:
        tracer.restore()
    log(f"timed passes {[round(x, 2) for x in walls]}")

    wall = median(walls)
    if w.trace_on:
        metrics = traced_metrics(w, s, tracer, windows, walls, batches, per_pass)
    else:
        metrics = {
            "wall_s": (wall, "s"),
            "triples_per_s": (median([p["triples"] / x for p, x in zip(per_pass, walls)]), "triples/s"),
            "batch_p50_s": (median([b[0] for b in batches]) if batches else wall, "s"),
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (peak_rss / 1e6, "MB"),
            "ckpt_bytes_per_doc": (median([p["ckpt"] for p in per_pass]) / w.n_docs(), "B/doc"),
        }
    s.close()
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": len(walls),
                "failed": failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        ),
        flush=True,
    )


# -- traced run ----------------------------------------------------------------------


def isolated(fn, reps: int = 3) -> float:
    times = []
    for _ in range(reps):
        t = time.time()
        fn()
        times.append(time.time() - t)
    return median(times)


def traced_metrics(w, s, tracer, windows, walls, batches, per_pass) -> dict:
    spark = s.spark
    wall = median(walls)
    staged_windows = windows if w.staged else []
    stream_batches = batches
    pass_wd = w.wd

    # layer passes on inputs already materialized
    scan_s = isolated(lambda: read_pages(spark, w.input_dir).count())
    if w.staged:
        ident_src = spark.read.parquet(os.path.join(w.wd, "extract")).select("url", "text", "extract_error")
    else:
        ident_src = read_pages(spark, w.input_dir).select(
            "url", "text", F.lit(None).cast("string").alias("extract_error")
        )
    ident = ident_src.mapInPandas(lambda it: it, schema=ident_src.schema)
    identity_s = isolated(lambda: ident.write.format("noop").mode("overwrite").save())
    compile_s = isolated(compile_workflows, reps=5)

    # the layers this workload bypasses, run once on the same input
    if w.staged:
        cdir = os.path.join(WORK, "complement")
        shutil.rmtree(cdir, ignore_errors=True)
        stream_batches = stream_pass(s, w.input_dir, cdir, 1)
        if isinstance(w, ResumeHtml):  # its pass writes no N-Triples
            canon = spark.read.parquet(os.path.join(w.wd, "canonical"))
            w.sink(canon.select(*NT_COLS).distinct(), os.path.join(w.pass_dir, "nt"))
    else:
        pass_wd = os.path.join(WORK, "complement", "wd")
        shutil.rmtree(os.path.dirname(pass_wd), ignore_errors=True)
        tracer.install()
        t = time.time()
        out = KgPipeline(spark, pass_wd, s.programs, run_scope=SCOPE, n_buckets=N_BUCKETS).run(s.pages)
        w.sink(out["canonical"].select(*NT_COLS).distinct(), os.path.join(os.path.dirname(pass_wd), "nt"))
        staged_windows = [(t, time.time())]
        tracer.restore()

    nt_dir = os.path.join(os.path.dirname(pass_wd), "nt")
    nt_bytes = tree_bytes(nt_dir)
    triples_tab = pq.read_table(os.path.join(pass_wd, "triples"), columns=["pred", "obj_kind"])
    sameas = sum(
        p == ref.OWL_SAMEAS and k == "iri"
        for p, k in zip(triples_tab.column("pred").to_pylist(), triples_tab.column("obj_kind").to_pylist())
    )
    error_docs = extract_errors(pass_wd)
    result_rows = pq.read_table(os.path.join(pass_wd, "results"), columns=["url"]).num_rows
    files_written = tree_files(pass_wd)

    app_id = spark.sparkContext.applicationId
    s.close()
    elog = tracing.read_event_log(os.path.join(WORK, "eventlog", app_id))

    attrib = [tracing.attribute(elog, tracer.spans, a, b, pass_wd) for a, b in staged_windows]
    sm = [tracing.spark_metrics(elog, a, b) for a, b in windows]
    sink_spans = [sp.end - sp.start for sp in tracer.spans if sp.layer == "sinks"]

    def att(key):
        return median([x.get(key, 0.0) for x in attrib])

    covered = att("covered")
    staged_wall = median([b - a for a, b in staged_windows])
    print(
        f"# trace: wall_s={wall:.4f} staged_pass_s={staged_wall:.4f} "
        f"covered_s={covered:.4f} coverage={covered / staged_wall:.3f} "
        f"jobs_only_coverage={att('job_s') / staged_wall:.3f} "
        f"attribution={json.dumps({k: round(att(k), 4) for k in sorted(attrib[0])})}",
        flush=True,
    )
    ref_ = w.ref
    return {
        "sources.scan_s": (scan_s, "s"),
        "extract.us_per_doc": (ref_.extract_s / len(w.pages) * 1e6, "us"),
        "extract.stage_s": (att("extract"), "s"),
        "extract.error_docs": (error_docs, "count"),
        "workflow.compile_s": (compile_s, "s"),
        "workflow.us_per_doc": (ref_.run_s / ref_.docs * 1e6, "us"),
        "workflow.us_per_triple": (ref_.run_s / ref_.triples_emitted * 1e6, "us"),
        "workflow.triples_emitted": (ref_.triples_emitted, "count"),
        "run.arrow_identity_s": (identity_s, "s"),
        "run.stage_s": (att("run"), "s"),
        "run.result_rows": (result_rows, "count"),
        "plans.lineage_s": (att("lineage"), "s"),
        "plans.jobs": (median([sum(v for k, v in x.items() if k.endswith(".jobs")) for x in attrib]), "count"),
        "plans.files_written": (files_written, "count"),
        "plans.buckets_skipped": (median([p.get("buckets_skipped", 0) for p in per_pass]), "count"),
        "canonicalize.stage_s": (att("canonicalize"), "s"),
        "canonicalize.jobs": (att("canonicalize.jobs"), "count"),
        "canonicalize.sameas_edges": (sameas, "count"),
        "sinks.nt_write_s": (median(sink_spans), "s"),
        "sinks.nt_bytes": (nt_bytes, "B"),
        "streaming.batches": (len(stream_batches) // (1 if w.staged else len(walls)), "count"),
        "streaming.add_batch_p50_s": (median([b[1] for b in stream_batches]), "s"),
        "streaming.overhead_p50_s": (median([b[0] - b[1] for b in stream_batches]), "s"),
        "spark.task_s": (median([m["task_s"] for m in sm]), "s"),
        "spark.busy_cores": (median([m["busy_cores"] for m in sm]), "cores"),
        "spark.gc_s": (median([m["gc_s"] for m in sm]), "s"),
        "spark.shuffle_bytes": (median([m["shuffle_bytes"] for m in sm]), "B"),
        "spark.task_skew": (median([m["task_skew"] for m in sm]), "ratio"),
    }


if __name__ == "__main__":
    main(args)
