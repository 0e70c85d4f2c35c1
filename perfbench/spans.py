"""Spans and Spark's own figures, read from outside the engine.

A `Tracer` keeps spans in memory: name, start, end, parent (the
innermost span open in the same thread when it started) and an id shared
by the spans of one micro-batch or query. After the timed phase
`attach_status` reads Spark's status store once and gives every span the
jobs, stages, executor time, shuffle and spill of the jobs submitted
inside it. Spans are written out when the run ends.
"""

from __future__ import annotations

import datetime
import json
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None
    id: str | None = None
    figures: dict = field(default_factory=dict)

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """Records spans when enabled; `span` is a no-op context otherwise."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._open = threading.local()

    @contextmanager
    def span(self, name: str, id: str | None = None):
        if not self.enabled:
            yield None
            return
        stack = self._open.__dict__.setdefault("stack", [])
        s = Span(name, time.time(), parent=stack[-1].name if stack else None, id=id)
        stack.append(s)
        try:
            yield s
        finally:
            stack.pop()
            s.end = time.time()
            self.spans.append(s)

    def add(self, name: str, start: float, end: float, id: str | None = None,
            **figures) -> None:
        """A span timed elsewhere, such as a micro-batch from its progress
        record."""
        if self.enabled:
            self.spans.append(Span(name, start, end, None, id, figures))

    def wrap(self, module, attr: str, name: str, id_of=None):
        """Replace `module.attr` with a spanned call of the original. The
        engine resolves the name through the module at call time, so each
        call made by the engine is recorded. Returns an undo function."""
        orig = getattr(module, attr)
        if not self.enabled:
            return lambda: None

        def spanned(*args, **kwargs):
            with self.span(name, id=id_of(args) if id_of else None):
                return orig(*args, **kwargs)

        setattr(module, attr, spanned)
        return lambda: setattr(module, attr, orig)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f, indent=1)


def status_snapshot(spark) -> tuple[list[dict], dict[int, dict]]:
    """Every job and stage the status store holds: jobs as
    {submitted, stage_ids}, stages by id as their summed figures."""
    sc = spark.sparkContext
    gw, jvm = sc._gateway, sc._gateway.jvm
    store = sc._jsc.sc().statusStore()
    jobs = []
    jl = store.jobsList(None)
    for i in range(jl.size()):
        j = jl.apply(i)
        sub = j.submissionTime()
        ids = j.stageIds()
        jobs.append({
            "job": j.jobId(),
            "submitted": sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0,
            "stage_ids": [ids.apply(k) for k in range(ids.size())],
        })
    stages = {}
    sl = store.stageList(jvm.java.util.ArrayList(), False, False,
                         gw.new_array(jvm.double, 0), jvm.java.util.ArrayList())
    for i in range(sl.size()):
        s = sl.apply(i)
        acc = stages.setdefault(s.stageId(), {
            "ran": False, "cpu_ms": 0.0, "run_ms": 0.0, "shuffle_write": 0,
            "shuffle_read": 0, "spill": 0})
        acc["ran"] = acc["ran"] or s.numCompleteTasks() > 0
        acc["cpu_ms"] += s.executorCpuTime() / 1e6
        acc["run_ms"] += s.executorRunTime()
        acc["shuffle_write"] += s.shuffleWriteBytes()
        acc["shuffle_read"] += s.shuffleLocalBytesRead() + s.shuffleRemoteBytesRead()
        acc["spill"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
    return jobs, stages


def interval_figures(jobs: list[dict], stages: dict[int, dict],
                     start: float, end: float) -> dict:
    """Status-store deltas for the jobs submitted in [start, end]."""
    sel = [j for j in jobs if start <= j["submitted"] <= end]
    ids = {sid for j in sel for sid in j["stage_ids"]}
    ran = [stages[i] for i in ids if i in stages and stages[i]["ran"]]
    return {
        "jobs": len(sel),
        "stages": len(ran),
        "executor_cpu_ms": sum(s["cpu_ms"] for s in ran),
        "executor_run_ms": sum(s["run_ms"] for s in ran),
        "shuffle_write_bytes": sum(s["shuffle_write"] for s in ran),
        "shuffle_read_bytes": sum(s["shuffle_read"] for s in ran),
        "spill_bytes": sum(s["spill"] for s in ran),
    }


def attach_status(spark, tracer: Tracer) -> None:
    if not tracer.enabled:
        return
    jobs, stages = status_snapshot(spark)
    for s in tracer.spans:
        s.figures.update(interval_figures(jobs, stages, s.start, s.end))


def progress_interval(p: dict) -> tuple[float, float]:
    """Start and end, in epoch seconds, of the trigger a streaming
    progress record describes."""
    start = datetime.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
    t = start.timestamp()
    return t, t + p["durationMs"]["triggerExecution"] / 1000.0


def p50(values) -> float:
    """The median; a metric with no samples is an error, not a zero."""
    values = list(values)
    if not values:
        raise ValueError("no samples to take a median of")
    return float(statistics.median(values))
