"""Tracing from outside the program: spans around calls into its modules,
Spark job/task counts per job group, executed-plan SQL metrics and the
JVM's peak memory.

Spans come from timing wrappers that replace module or class attributes
for the length of one traced rep (:meth:`Tracer.installed`); no program
file changes. Each span records name, start, end, parent and rep id, and
they stay in memory until the benchmark writes them out.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import time
from dataclasses import dataclass

# (module, attribute path, span name): the public functions the traced
# rep wraps. Class methods are patched on the class, module functions on
# the module, so callers that look them up through the module see the
# wrapper.
WRAPPED = [
    ("opentelemetry_collector_spark.sinks.tables", "TableCatalog.overwrite",
     "sinks.tables.overwrite"),
    ("opentelemetry_collector_spark.plans.errors", "write_with_partial_success",
     "plans.errors.partial_success"),
    ("opentelemetry_collector_spark.plans.checkpoint", "CheckpointStore.commit",
     "plans.checkpoint.commit"),
    ("opentelemetry_collector_spark.plans.checkpoint", "CheckpointStore.write_lineage_table",
     "plans.checkpoint.lineage_table"),
    ("opentelemetry_collector_spark.plans.lineage", "file_lineage",
     "plans.lineage.file_lineage"),
    ("opentelemetry_collector_spark.sources.otlp_proto", "encode_logs_proto",
     "sources.otlp_proto.encode_logs_proto"),
    ("opentelemetry_collector_spark.sources.otlp_proto", "decode_logs_proto",
     "sources.otlp_proto.decode_logs_proto"),
]


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    rep: str
    result: object = None


class Tracer:
    """In-memory span recorder; one open-span stack (the driver thread)."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.rep = ""
        self.on_span_end: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        s = Span(sid, name, time.perf_counter(), 0.0, parent, self.rep)
        self.spans.append(s)
        self._stack.append(sid)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.perf_counter()
            for hook in self.on_span_end:
                hook(s)

    def wrap(self, fn, name: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name) as s:
                s.result = fn(*args, **kwargs)
                return s.result
        return traced

    @contextlib.contextmanager
    def installed(self, rep: str):
        """Patch every WRAPPED attribute for the duration of the block."""
        self.rep = rep
        undo = []
        try:
            for mod_name, path, name in WRAPPED:
                owner = importlib.import_module(mod_name)
                *outer, attr = path.split(".")
                for part in outer:
                    owner = getattr(owner, part)
                orig = owner.__dict__[attr]
                setattr(owner, attr, self.wrap(orig, name))
                undo.append((owner, attr, orig))
            yield self
        finally:
            for owner, attr, orig in reversed(undo):
                setattr(owner, attr, orig)

    def self_times(self, rep: str) -> dict[str, dict]:
        """Per span name: calls, inclusive and self seconds (self = the
        span's duration minus the time its direct children cover)."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s.rep == rep and s.parent is not None:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, dict] = {}
        for s in self.spans:
            if s.rep != rep:
                continue
            d = out.setdefault(s.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            d["calls"] += 1
            d["total_s"] += s.end - s.start
            d["self_s"] += (s.end - s.start) - child_time.get(s.id, 0.0)
        return out

    def dump(self) -> list[dict]:
        return [
            {"id": s.id, "name": s.name, "start": s.start, "end": s.end,
             "parent": s.parent, "rep": s.rep}
            for s in self.spans
        ]


# --- Spark-side readings -----------------------------------------------------

def job_group_stats(spark, group: str) -> dict:
    """Jobs, completed tasks and summed job wall time for one job group,
    read from the status store (works with the UI disabled)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs = sorted(tracker.getJobIdsForGroup(group))
    tasks = 0
    job_s = 0.0
    for j in jobs:
        jd = store.job(j)
        tasks += jd.numCompletedTasks()
        if jd.submissionTime().isDefined() and jd.completionTime().isDefined():
            job_s += (jd.completionTime().get().getTime()
                      - jd.submissionTime().get().getTime()) / 1000.0
    return {"jobs": len(jobs), "tasks": tasks, "job_s": job_s}


def cached_bytes(spark) -> int:
    """Memory + disk bytes of every currently persisted RDD."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def plan_metrics(spark, df) -> tuple[int, list[dict]]:
    """Run ``df`` through its own executed plan (so the plan objects keep
    their SQL metrics), then walk the final adaptive plan, descending into
    query stages. Returns (rows, [{node, metrics}])."""
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    plan = df._jdf.queryExecution().executedPlan()
    rows = plan.execute().count()
    nodes: list[dict] = []

    def walk(p) -> None:
        name = p.getClass().getSimpleName()
        ms = conv.asJava(p.metrics())
        nodes.append({"node": name, "metrics": {k: ms[k].value() for k in ms.keySet()}})
        if name == "AdaptiveSparkPlanExec":
            walk(p.executedPlan())
            return
        if name.endswith("QueryStageExec"):
            walk(p.plan())
        for c in conv.asJava(p.children()):
            walk(c)

    walk(plan)
    return rows, nodes


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the Spark JVM, from /proc (no psutil here)."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")
