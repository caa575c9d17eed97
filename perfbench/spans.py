"""Span and Spark-counter collector for the traced benchmark run.

A span wraps one call into a layer of the program (a module of
``dbsurveyor_spark``). While it is open, its jobs run under a Spark job
group of its own; right after it closes, the collector reads that group's
jobs and stages from the Spark status store. Spark keeps only the last
1,000 jobs and stages, and one survey pass runs several hundred, so the
harvest cannot wait for the end of the run. Spans stay in memory and are
written out when the run ends.

Nothing inside the program is instrumented: ``Tracer.wrap`` replaces a
module attribute with a wrapper for the length of the traced run.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager
from typing import Any, Callable

from py4j.protocol import Py4JJavaError

# DataFrame actions that run the deferred work of a span whose call
# returned a DataFrame (the survey.profile queries are collected by their
# caller in survey.export).
_DF_ACTIONS = ("collect", "toPandas", "count", "first", "take", "head")

SPARK_FIELDS = ("jobs", "tasks", "failed_tasks", "exec_cpu_s", "shuffle_mb", "input_mb", "gc_s")


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _subtract(span: tuple[float, float], holes: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Parts of ``span`` not covered by ``holes``."""
    out, cur = [], span[0]
    for a, b in sorted(holes):
        if b <= cur:
            continue
        if a > cur:
            out.append((cur, min(a, span[1])))
        cur = max(cur, b)
        if cur >= span[1]:
            break
    if cur < span[1]:
        out.append((cur, span[1]))
    return [(a, b) for a, b in out if b > a]


class Span:
    __slots__ = ("layer", "group", "parent", "call", "start", "end", "holes", "jobs", "counters")

    def __init__(self, layer: str, group: str, call: bool, parent: str | None = None):
        self.layer = layer
        self.group = group
        self.parent = parent  # group of the span that made this call
        self.call = call
        self.start = time.time()
        self.end = self.start
        self.holes: list[tuple[float, float]] = []  # child spans and harvests
        self.jobs: list[tuple[float, float]] = []  # own job run intervals
        self.counters = dict.fromkeys(SPARK_FIELDS, 0.0)

    def own_intervals(self) -> list[tuple[float, float]]:
        return _subtract((self.start, self.end), self.holes)

    def as_dict(self) -> dict[str, Any]:
        own = self.own_intervals()
        busy = [
            (max(a, ja), min(b, jb)) for a, b in own for ja, jb in self.jobs if jb > a and ja < b
        ]
        return {
            "layer": self.layer,
            "group": self.group,
            "parent": self.parent,
            "call": self.call,
            "start": self.start,
            "end": self.end,
            "wall_s": self.end - self.start,
            "self_s": sum(b - a for a, b in own),
            "driver_s": sum(b - a for a, b in own) - _union_length(busy),
            **self.counters,
        }


class Tracer:
    """Collects spans for one SparkContext on the calling thread."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.spans: list[Span] = []
        self.stack: list[Span] = []
        self.harvest_s = 0.0
        self._seen_stages: set[int] = set()
        self._patches: list[tuple[Any, str, Any]] = []

    # ------------------------------------------------------------ spans

    @contextmanager
    def span(self, layer: str, call: bool = True):
        parent = self.stack[-1].group if self.stack else None
        s = Span(layer, f"perfbench-{len(self.spans)}", call, parent)
        self.spans.append(s)
        self.stack.append(s)
        self.sc.setJobGroup(s.group, layer)
        try:
            yield s
        finally:
            s.end = time.time()
            self.stack.pop()
            parent = self.stack[-1] if self.stack else None
            if parent is not None:
                self.sc.setJobGroup(parent.group, parent.layer)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            h0 = time.time()
            self._harvest(s)
            h1 = time.time()
            self.harvest_s += h1 - h0
            if parent is not None:
                parent.holes += [(s.start, s.end), (h0, h1)]

    def _harvest(self, s: Span) -> None:
        c = s.counters
        for jid in self.sc.statusTracker().getJobIdsForGroup(s.group):
            job = self.store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                s.jobs.append((sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0))
            c["jobs"] += 1
            c["tasks"] += job.numCompletedTasks() + job.numFailedTasks()
            c["failed_tasks"] += job.numFailedTasks()
            it = job.stageIds().iterator()
            while it.hasNext():
                sid = int(it.next())
                if sid in self._seen_stages:
                    continue
                try:
                    st = self.store.lastStageAttempt(sid)
                except Py4JJavaError:  # skipped stage: it never ran an attempt
                    continue
                self._seen_stages.add(sid)
                c["exec_cpu_s"] += st.executorCpuTime() / 1e9
                c["shuffle_mb"] += (st.shuffleReadBytes() + st.shuffleWriteBytes()) / 2**20
                c["input_mb"] += st.inputBytes() / 2**20
                c["gc_s"] += st.jvmGcTime() / 1000.0

    # ---------------------------------------------------------- wrapping

    def traced(self, layer: str, fn: Callable) -> Callable:
        """``fn`` run inside a span; a DataFrame result has its actions
        traced too, so deferred work is charged to the same layer."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(layer):
                out = fn(*args, **kwargs)
            if hasattr(out, "sparkSession") and hasattr(out, "collect"):
                for name in _DF_ACTIONS:
                    action = getattr(out, name)
                    setattr(out, name, tracer._deferred(layer, action))
            return out

        return wrapper

    def _deferred(self, layer: str, action: Callable) -> Callable:
        def run(*args, **kwargs):
            with self.span(layer, call=False):
                return action(*args, **kwargs)

        return run

    def wrap(self, owner: Any, name: str, layer: str) -> None:
        """Replace ``owner.name`` with its traced form until ``unwrap``."""
        orig = getattr(owner, name)
        self._patches.append((owner, name, orig))
        setattr(owner, name, self.traced(layer, orig))

    def unwrap(self) -> None:
        while self._patches:
            owner, name, orig = self._patches.pop()
            setattr(owner, name, orig)

    # ---------------------------------------------------------- summary

    def layer_totals(self, since: int = 0) -> dict[str, dict[str, float]]:
        """Per-layer sums over the spans opened at index ``since`` or later.
        A layer's wall time counts only its outermost spans, so a layer
        that calls itself is not counted twice."""
        out: dict[str, dict[str, float]] = {}
        spans = self.spans[since:]
        for i, s in enumerate(spans):
            d = s.as_dict()
            t = out.setdefault(
                s.layer,
                dict.fromkeys(("calls", "wall_s", "self_s", "driver_s", *SPARK_FIELDS), 0.0),
            )
            nested = any(
                p.layer == s.layer and p.start <= s.start and s.end <= p.end
                for p in spans[:i]
            )
            t["calls"] += 1 if s.call else 0
            t["wall_s"] += 0.0 if nested else d["wall_s"]
            for k in ("self_s", "driver_s", *SPARK_FIELDS):
                t[k] += d[k]
        return out
