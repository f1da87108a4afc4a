"""Measurement from outside the engine: memory sampling, spans around the
engine's layer entry points, and Spark event-log attribution.

Nothing here patches code inside the engine's functions; the traced run
swaps the module attributes that ``plans/pipeline.py`` calls through, and
``KgPipeline``'s stage and lineage methods, for thin wrappers, and restores
them afterwards.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import threading
import time
from dataclasses import dataclass, field
from typing import Dict, List, Optional

import cmc_knowledge_graph_text2ttl_spark.plans.pipeline as pipeline_mod

# -- peak memory of the process tree ----------------------------------------------


def _tree_anon_bytes(root: int) -> Dict[str, int]:
    """Proportional anonymous memory (``Pss_Anon``) of ``root`` and all its
    descendants, summed by command name.

    File-backed pages (shared libraries, the JDK's module image) are left
    out: each process maps them in full, and the kernel drops and re-reads
    them as the host's memory demand moves, so they say nothing of what the
    program allocated. Pages a forked worker still shares with its parent
    are split between them rather than counted in each."""
    children: Dict[int, List[tuple]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                data = fh.read()
        except OSError:  # the process ended while we listed /proc
            continue
        pid = int(stat.split("/")[2])
        ppid = int(data[data.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append((pid, data[data.index("(") + 1:data.rindex(")")]))
    total: Dict[str, int] = {}
    todo = [(root, "driver")]
    while todo:
        pid, comm = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                kb = next(int(line.split()[1]) for line in fh if line.startswith("Pss_Anon:"))
        except (OSError, StopIteration):
            continue
        total[comm] = total.get(comm, 0) + kb * 1024
    return total


class MemorySampler:
    """Peak memory of this process and all its descendants (the Spark JVM
    and its Python workers).

    A thread samples the tree's anonymous memory every ``period`` seconds.
    The driver JVM's heap is committed and touched at launch, so its pages
    count in full whether the heap holds data or not: each sample counts
    the rest (``committed`` bytes less). ``after_pass`` runs a full
    collection through ``retained_heap`` and keeps the largest heap left
    after one. The peak is the largest sample plus that heap, so a change
    in the data the driver keeps shows, while the figure does not depend on
    when the JVM happened to collect."""

    def __init__(self, committed: int, retained_heap, period: float = 0.5) -> None:
        self.committed, self.retained_heap, self.period = committed, retained_heap, period
        self.peak, self.at_peak, self.heap = 0, {}, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        parts = _tree_anon_bytes(os.getpid())
        value = sum(parts.values()) - self.committed
        if value > self.peak:
            self.peak, self.at_peak = value, parts

    def _loop(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.period)

    def start(self) -> "MemorySampler":
        self._thread.start()
        return self

    def after_pass(self) -> None:
        self.heap = max(self.heap, self.retained_heap())

    def stop(self) -> int:
        """Stop sampling; returns the peak in bytes."""
        self._stop.set()
        self._thread.join()
        self._sample()
        return self.peak + self.heap

    def describe(self) -> str:
        parts = " ".join(f"{k}={v / 1e6:.0f}" for k, v in sorted(self.at_peak.items()))
        return (
            f"peak memory (MB): {parts}, less committed heap {self.committed / 1e6:.0f}, "
            f"plus retained heap {self.heap / 1e6:.0f}"
        )


# -- spans around the layer entry points ---------------------------------------

# operator entry points plans/pipeline.py calls, by the layer they belong to;
# they build DataFrames lazily, so their spans only set the job description
WRAPPED = {
    "extract_text": "extract",
    "run_workflows": "run",
    "explode_triples": "run",
    "canonicalize_triples": "canonicalize",
}
# KgPipeline stage directories, by the layer whose operator fills them
STAGE_LAYER = {"extract": "extract", "results": "run", "triples": "run", "canonical": "canonicalize"}
# KgPipeline methods whose spans enclose their Spark jobs, by span kind:
# a whole stage (its write, read-back and lineage), or a lineage read/append
STAGE_METHODS = {
    "_run_stage": "stage",
    "_run_global_stage": "stage",
    "_completed_buckets": "lineage",
    "_upstream_token": "lineage",
    "_append_lineage": "lineage",
}


@dataclass
class Span:
    layer: str
    name: str
    start: float
    end: float
    kind: str = "op"  # "op" (lazy operator call), "stage" (a stage or the sink) or "lineage"


class Tracer:
    """Records a span per wrapped call. ``wrap`` tags every Spark job issued
    after the call with the layer's job description; stage and lineage
    spans time the KgPipeline calls that run those jobs."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.spans: List[Span] = []
        self._saved: Dict[tuple, object] = {}

    def wrap(self, fn, layer: str, name: Optional[str] = None, kind: str = "op"):
        name = name or fn.__name__

        def traced(*args, **kwargs):
            self.sc.setJobDescription(f"perfbench:{layer}")
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                self.spans.append(Span(layer, name, t0, time.time(), kind))

        return traced

    def _wrap_method(self, fn, kind: str):
        def traced(pipe, stage, *args, **kwargs):
            t0 = time.time()
            try:
                return fn(pipe, stage, *args, **kwargs)
            finally:
                layer = STAGE_LAYER[stage] if kind == "stage" else "lineage"
                self.spans.append(Span(layer, stage, t0, time.time(), kind))

        return traced

    def install(self) -> None:
        for attr, layer in WRAPPED.items():
            self._saved[(pipeline_mod, attr)] = fn = getattr(pipeline_mod, attr)
            setattr(pipeline_mod, attr, self.wrap(fn, layer, attr))
        cls = pipeline_mod.KgPipeline
        for attr, kind in STAGE_METHODS.items():
            self._saved[(cls, attr)] = fn = getattr(cls, attr)
            setattr(cls, attr, self._wrap_method(fn, kind))

    def restore(self) -> None:
        for (owner, attr), fn in self._saved.items():
            setattr(owner, attr, fn)
        self._saved.clear()
        self.sc.setJobDescription(None)


# -- event log ------------------------------------------------------------------


@dataclass
class Job:
    job_id: int
    submit: float  # seconds since the epoch
    end: float = 0.0
    description: str = ""
    call_site: str = ""
    plan: str = ""
    stages: List[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: List[Job]
    tasks: Dict[int, List[dict]]  # stage id -> task metrics dicts
    stage_span: Dict[int, tuple]  # stage id -> (submit, complete) seconds


def read_event_log(path: str) -> EventLog:
    jobs: Dict[int, Job] = {}
    plans: Dict[str, str] = {}
    tasks: Dict[int, List[dict]] = {}
    stage_span: Dict[int, tuple] = {}
    with open(path, encoding="utf8") as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(
                    ev["Job ID"], ev["Submission Time"] / 1000,
                    description=props.get("spark.job.description") or "",
                    call_site=props.get("callSite.short") or "",
                    stages=list(ev["Stage IDs"]),
                )
                job.plan = plans.get(props.get("spark.sql.execution.id") or "", "")
                jobs[job.job_id] = job
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
            elif kind.endswith("SparkListenerSQLExecutionStart"):
                plans[str(ev["executionId"])] = ev.get("physicalPlanDescription") or ""
            elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                tasks.setdefault(ev["Stage ID"], []).append(ev["Task Metrics"])
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Completion Time" in info and "Submission Time" in info:
                    stage_span[info["Stage ID"]] = (
                        info["Submission Time"] / 1000, info["Completion Time"] / 1000
                    )
    return EventLog(sorted(jobs.values(), key=lambda j: j.submit), tasks, stage_span)


# the write command's node in the formatted plan lists its output path first
_WRITE = re.compile(
    r"\(\d+\) Execute InsertIntoHadoopFsRelationCommand\n(?:.*\n)*?Arguments: file:([^,\s]+)"
)


def classify(job: Job, workdir: str) -> str:
    """Layer that issued a job of a staged pass.

    A write is attributed by the path its plan writes to: ``<workdir>/lineage``
    is lineage, a stage directory is that stage's layer. Other jobs that
    scan the lineage table, or that ``plans/pipeline.py`` collects (lineage
    reads and read-back stats), are lineage. The rest fall to the layer
    whose wrapper set the job description.
    """
    m = _WRITE.search(job.plan)
    if m:
        target = os.path.relpath(m.group(1), workdir).split(os.sep)[0]
        if target == "lineage":
            return "lineage"
        if target in STAGE_LAYER:
            return STAGE_LAYER[target]
    elif os.path.join(workdir, "lineage") in job.plan or "pipeline.py" in job.call_site:
        return "lineage"
    if job.description.startswith("perfbench:"):
        return job.description.split(":", 1)[1]
    return "other"


def attribute(
    log: EventLog, spans: List[Span], start: float, end: float, workdir: str
) -> Dict[str, float]:
    """Seconds of the staged pass [start, end] per layer, from measured spans.

    Each stage span (a ``KgPipeline`` stage call, or the sink call) is
    charged to its layer. The lineage work inside a stage is moved from the
    stage's layer to ``lineage``: the spans of the lineage read and append
    methods, and the duration of the stage's other lineage jobs (read-back
    stats collects, lineage scans) that no such span encloses. ``covered``
    is the time the stage and sink spans enclose; ``job_s`` is the time
    Spark jobs ran; ``<layer>.jobs`` counts jobs by ``classify``.
    """
    inside = [sp for sp in spans if start <= sp.start and sp.end <= end]
    outer = [sp for sp in inside if sp.kind == "stage"]
    lineage = [sp for sp in inside if sp.kind == "lineage"]
    out: Dict[str, float] = {"lineage": 0.0, "job_s": 0.0}

    def move_to_lineage(t: float, seconds: float) -> None:
        out["lineage"] += seconds
        for sp in outer:
            if sp.start <= t <= sp.end:
                out[sp.layer] -= seconds
                return

    for sp in outer:
        out[sp.layer] = out.get(sp.layer, 0.0) + sp.end - sp.start
    for sp in lineage:
        move_to_lineage(sp.start, sp.end - sp.start)
    for job in jobs_in(log, start, end):
        layer = classify(job, workdir)
        out[layer + ".jobs"] = out.get(layer + ".jobs", 0) + 1
        out["job_s"] += job.end - job.submit
        if layer == "lineage" and not any(sp.start <= job.submit <= sp.end for sp in lineage):
            move_to_lineage(job.submit, job.end - job.submit)
    out["covered"] = sum(sp.end - sp.start for sp in outer)
    return out


def jobs_in(log: EventLog, start: float, end: float) -> List[Job]:
    return [j for j in log.jobs if start <= j.submit <= end]


def spark_metrics(log: EventLog, start: float, end: float) -> Dict[str, float]:
    """Task-level totals over the jobs of one pass."""
    stages = [s for j in jobs_in(log, start, end) for s in j.stages if s in log.tasks]
    runs = [t["Executor Run Time"] / 1000 for s in stages for t in log.tasks[s]]
    gc = sum(t["JVM GC Time"] / 1000 for s in stages for t in log.tasks[s])
    shuffle = sum(
        t.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
        for s in stages for t in log.tasks[s]
    )
    slowest = max(
        (s for s in stages if s in log.stage_span),
        key=lambda s: log.stage_span[s][1] - log.stage_span[s][0],
        default=None,
    )
    skew = 1.0
    if slowest is not None:
        times = [max(t["Executor Run Time"], 1) for t in log.tasks[slowest]]
        skew = max(times) / statistics.median(times)
    task_s = sum(runs)
    return {
        "task_s": task_s,
        "busy_cores": task_s / (end - start),
        "gc_s": gc,
        "shuffle_bytes": shuffle,
        "task_skew": skew,
    }

