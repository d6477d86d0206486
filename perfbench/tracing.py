"""Spans around calls into the engine's layers, and the Spark metrics of
the jobs each span ran.

A span records name, start, end and parent. While a span is open its
Spark jobs carry the job group ``span-<id>``, so the jobs (and through
them the stages) of every span can be read back from the status
tracker, and the per-stage task metrics from the JVM ``AppStatusStore``
(the same store ``plans.metrics.stage_snapshot`` reads, with more
fields). Spans are kept in memory and written out when the run ends.

``NoTracer`` has the same interface and does nothing, so a measured
op runs exactly the code of a traced op minus the bookkeeping.
"""

from __future__ import annotations

import contextlib
import functools
import json
import time

STAGE_FIELDS = (
    "executorCpuTime",
    "jvmGcTime",
    "shuffleFetchWaitTime",
    "shuffleWriteBytes",
    "shuffleReadRecords",
    "inputBytes",
    "inputRecords",
    "diskBytesSpilled",
    "numCompleteTasks",
    "numFailedTasks",
)
_MISSING = object()


class NoTracer:
    def span(self, name: str):
        return contextlib.nullcontext()

    def wrap(self, owner, attr: str, name: str):
        return contextlib.nullcontext()


class Tracer:
    """Spans of one traced run. ``span`` nests; ``wrap`` opens a span
    around every call of ``owner.attr`` while the context is active
    (used for calls the engine makes internally, e.g. a pipeline's
    checkpoint write or a transformer's fit)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = {"id": sid, "name": name, "parent": parent, "start": time.perf_counter()}
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"span-{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec["jobs"] = sorted(self.sc.statusTracker().getJobIdsForGroup(f"span-{sid}"))
            if parent is None:
                self.sc.setJobGroup("untraced", "untraced")
            else:
                self.sc.setJobGroup(f"span-{parent}", self.spans[parent]["name"])

    @contextlib.contextmanager
    def wrap(self, owner, attr: str, name: str):
        own = vars(owner).get(attr, _MISSING)
        # a class attribute is wrapped as the plain function (it receives
        # self); an instance or module attribute as the bound object
        target = own if isinstance(owner, type) and own is not _MISSING else getattr(owner, attr)

        @functools.wraps(target)
        def traced(*args, **kwargs):
            with self.span(name):
                return target(*args, **kwargs)

        setattr(owner, attr, traced)
        try:
            yield
        finally:
            if own is _MISSING:
                delattr(owner, attr)
            else:
                setattr(owner, attr, own)

    # -- queries ---------------------------------------------------------
    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def duration(self, span: dict) -> float:
        return span["end"] - span["start"]

    def children(self, span: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == span["id"]]

    def descendants(self, span: dict) -> list[dict]:
        out = []
        for c in self.children(span):
            out += [c, *self.descendants(c)]
        return out

    def self_time(self, span: dict) -> float:
        """Span duration minus the time its (sequential) children cover."""
        return self.duration(span) - sum(self.duration(c) for c in self.children(span))

    def jobs(self, span: dict) -> list[int]:
        """Spark jobs of the span and its descendants."""
        return sorted({j for s in [span, *self.descendants(span)] for j in s["jobs"]})

    def stages(self, span: dict) -> list[int]:
        tracker = self.sc.statusTracker()
        out: set[int] = set()
        for j in self.jobs(span):
            info = tracker.getJobInfo(j)
            if info is not None:
                out.update(info.stageIds)
        return sorted(out)

    def dump(self, path: str, metrics: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "metrics": metrics}, f, indent=1)


def stage_metrics(spark) -> dict[int, dict]:
    """Every stage's task metrics from the ``AppStatusStore`` (all
    attempts summed), keyed by stage id."""
    store = spark._jsc.sc().statusStore()
    gw = spark.sparkContext._gateway
    stages = store.stageList(
        gw.jvm.java.util.ArrayList(),
        False,
        False,
        gw.new_array(gw.jvm.double, 0),
        gw.jvm.java.util.ArrayList(),
    )
    out: dict[int, dict] = {}
    it = stages.iterator()
    while it.hasNext():
        st = it.next()
        rec = out.setdefault(int(st.stageId()), dict.fromkeys(STAGE_FIELDS, 0))
        for k in STAGE_FIELDS:
            rec[k] += int(getattr(st, k)())
        rec["attemptId"] = int(st.attemptId())
    return out


def sum_stages(table: dict[int, dict], stage_ids) -> dict:
    agg = dict.fromkeys(STAGE_FIELDS, 0)
    for sid in stage_ids:
        for k in STAGE_FIELDS:
            agg[k] += table.get(sid, {}).get(k, 0)
    return agg


def task_skew(spark, stage_id: int, attempt_id: int = 0) -> float:
    """max / median task run time of one stage (1.0 = even)."""
    store = spark._jsc.sc().statusStore()
    gw = spark.sparkContext._gateway
    qs = gw.new_array(gw.jvm.double, 2)
    qs[0], qs[1] = 0.5, 1.0
    summary = store.taskSummary(stage_id, attempt_id, qs)
    if not summary.isDefined():
        return 1.0
    run = summary.get().executorRunTime()
    med, mx = float(run.apply(0)), float(run.apply(1))
    return mx / med if med > 0 else 1.0


def exchanges(df) -> int:
    """Exchange nodes in the physical plan Spark would execute."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(1 for line in plan.splitlines() if "Exchange " in line and "Reused" not in line)


def spark_totals(agg: dict, wall_s: float, cores: int) -> dict:
    cpu_s = agg["executorCpuTime"] / 1e9
    return {
        "spark.executor_cpu_s": cpu_s,
        "spark.cpu_utilization": cpu_s / (wall_s * cores),
        "spark.gc_s": agg["jvmGcTime"] / 1e3,
        "spark.shuffle_fetch_wait_s": agg["shuffleFetchWaitTime"] / 1e3,
        "spark.tasks": agg["numCompleteTasks"],
        "spark.failed_tasks": agg["numFailedTasks"],
    }
