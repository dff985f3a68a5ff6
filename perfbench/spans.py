"""Spans around calls into the engine's layers, and the Spark work inside them.

Spans are recorded from the benchmark's side only: the workloads open one
around each public entry point they call, and ``instrument`` wraps the stage
methods of one ``NDDPipeline`` instance, so ``run()`` and the incremental
entry points report their stages. Engine code is untouched.

Spark jobs, stages and SQL executions are attributed to the innermost span
open on the client thread when they were submitted. This is done by time
window rather than job group, because the engine submits from its own thread
pools, which do not inherit a job group. Everything is read once, at the end,
from Spark's in-process status store.
"""

from __future__ import annotations

import functools
import json
import re
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass

# What every span reports, as ``<span>.<counter>``.
COUNTERS = ("self_s", "jobs", "task_s", "driver_s", "shuffle_mb", "spill_mb")

PIPELINE_METHODS = {
    "stage0_ingest": "stage0",
    "stage1_signatures": "stage1",
    "stage2_pairs": "stage2",
    "stage2b_substring": "stage2b",
    "stage3_clusters": "stage3",
    "stage2_pairs_delta": "stage2_delta",
    "stage2b_delta": "stage2b_delta",
    "stage3_clusters_delta": "stage3_delta",
}


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None


@dataclass
class Stage:
    submitted: float
    run_s: float
    shuffle_bytes: int
    spill_bytes: int
    output_bytes: int


class Tracer:
    """In-memory span list. Disabled tracers record nothing and wrap nothing,
    so untraced runs pay no tracing cost."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open: list[int] = []
        self._client = threading.get_ident()

    @contextmanager
    def span(self, name: str):
        # only the client thread opens spans: the nesting is a call stack
        if not self.enabled or threading.get_ident() != self._client:
            yield
            return
        parent = self._open[-1] if self._open else None
        self.spans.append(Span(name, time.time(), parent=parent))
        idx = len(self.spans) - 1
        self._open.append(idx)
        try:
            yield
        finally:
            self._open.pop()
            self.spans[idx].end = time.time()

    def instrument(self, pipe):
        """Wrap the stage methods of one pipeline instance in spans."""
        if self.enabled:
            for method, name in PIPELINE_METHODS.items():
                setattr(pipe, method, self._wrapped(getattr(pipe, method), name))
        return pipe

    def _wrapped(self, fn, name):
        @functools.wraps(fn)
        def call(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return call

    def innermost(self, t: float) -> int | None:
        best = None
        for i, s in enumerate(self.spans):
            if s.start <= t <= s.end and (best is None or s.start >= self.spans[best].start):
                best = i
        return best

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]


class SparkActivity:
    """Jobs, stages and file-scan counts of the session so far.

    Read in bulk: the status store's lists go through Jackson to one JSON
    string each, because walking them object by object over py4j costs
    seconds per thousand stages."""

    def __init__(self, spark):
        jvm = spark._jvm
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        mapper.registerModule(jvm.com.fasterxml.jackson.module.scala.DefaultScalaModule())

        def read(obj):  # dates come out as epoch milliseconds
            return json.loads(mapper.writeValueAsString(obj))

        sc = spark.sparkContext._jsc.sc()
        sc.listenerBus().waitUntilEmpty()
        store = sc.statusStore()
        self.jobs: list[tuple[float, float]] = [
            (j["submissionTime"] / 1e3, j["completionTime"] / 1e3)
            for j in read(store.jobsList(None))
            if j["submissionTime"] and j["completionTime"]
        ]
        no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        stages = store.stageList(None, False, False, no_quantiles, jvm.java.util.ArrayList())
        self.stages: list[Stage] = [
            Stage(
                s["submissionTime"] / 1e3,
                s["executorRunTime"] / 1e3,
                s["shuffleReadBytes"] + s["shuffleWriteBytes"],
                s["diskBytesSpilled"],
                s["outputBytes"],
            )
            for s in read(stages)
            if s["submissionTime"]
        ]
        sql = spark._jsparkSession.sharedState().statusStore()
        self.files_read: list[tuple[float, int]] = []
        for e in read(sql.executionsList()):
            ids = {str(m["accumulatorId"]) for m in e["metrics"] if m["name"] == "number of files read"}
            if ids:
                values = read(sql.executionMetrics(e["executionId"]))
                n = sum(int(re.sub(r"\D", "", values[i]) or 0) for i in ids if i in values)
                self.files_read.append((e["submissionTime"] / 1e3, n))


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur = 0.0, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi):
        if cur is None or a > cur[1]:
            total += cur[1] - cur[0] if cur else 0.0
            cur = [a, b]
        else:
            cur[1] = max(cur[1], b)
    return total + (cur[1] - cur[0] if cur else 0.0)


def span_counters(tracer: Tracer, act: SparkActivity, under: str | None = None) -> dict[str, float]:
    """COUNTERS for every span name the run opened, averaged over that
    name's instances, or over the instances whose parent span is named
    ``under``. Jobs and stages count toward the innermost span
    they were submitted in, so the counters are exclusive of child spans,
    like ``self_s``."""
    n = len(tracer.spans)
    jobs = [[] for _ in range(n)]
    for sub, done in act.jobs:
        i = tracer.innermost(sub)
        if i is not None:
            jobs[i].append((sub, done))
    stages = [[] for _ in range(n)]
    for st in act.stages:
        i = tracer.innermost(st.submitted)
        if i is not None:
            stages[i].append(st)
    sums: dict[str, dict[str, float]] = {}
    count: dict[str, int] = {}
    for i, s in enumerate(tracer.spans):
        if under is not None and (s.parent is None or tracer.spans[s.parent].name != under):
            continue
        kids = [(c.start, c.end) for c in tracer.children(i)]
        wall = s.end - s.start
        acc = sums.setdefault(s.name, dict.fromkeys(COUNTERS, 0.0))
        count[s.name] = count.get(s.name, 0) + 1
        acc["self_s"] += wall - _covered(kids, s.start, s.end)
        acc["jobs"] += len(jobs[i])
        acc["task_s"] += sum(st.run_s for st in stages[i])
        acc["driver_s"] += wall - _covered(kids + jobs[i], s.start, s.end)
        acc["shuffle_mb"] += sum(st.shuffle_bytes for st in stages[i]) / 1e6
        acc["spill_mb"] += sum(st.spill_bytes for st in stages[i]) / 1e6
    return {f"{name}.{c}": acc[c] / count[name] for name, acc in sums.items() for c in COUNTERS}


def within(tracer: Tracer, names: set[str], t: float) -> bool:
    """Is time ``t`` inside a span named in ``names`` (or one of its children)?"""
    return any(s.name in names and s.start <= t <= s.end for s in tracer.spans)


def coverage(tracer: Tracer, root: str, parts: set[str]) -> float:
    """Share of the ``root`` spans' wall time covered by child spans in ``parts``."""
    wall = covered = 0.0
    for i, s in enumerate(tracer.spans):
        if s.name == root:
            wall += s.end - s.start
            kids = [(c.start, c.end) for c in tracer.children(i) if c.name in parts]
            covered += _covered(kids, s.start, s.end)
    return covered / wall if wall else 0.0
