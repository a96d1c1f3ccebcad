"""Spans, call instrumentation and Spark event-log totals for the traced run.

Spans live in memory (``Tracer.spans``) and are written once, at exit.
Each span records its parent, so a layer's self time is its duration
minus the part of it that its children cover.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``[start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Tracer:
    def __init__(self, clock=time.perf_counter):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._clock = clock

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1].id if self._stack else None
        s = Span(len(self.spans), parent, name, self._clock(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = self._clock()
            self._stack.pop()

    def active(self, name: str) -> bool:
        return any(s.name == name for s in self._stack)

    def self_time(self, span: Span) -> float:
        children = [
            (max(c.start, span.start), min(c.end, span.end))
            for c in self.spans
            if c.parent == span.id
        ]
        return span.duration - _covered(children)

    def total(self, name: str, self_only: bool = False) -> float:
        return sum(
            self.self_time(s) if self_only else s.duration
            for s in self.spans
            if s.name == name
        )

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


class Instrumenter:
    """Wraps package functions in spans for the duration of a ``with``
    block. Every module of the package that holds a reference to the
    function (``from x import f`` copies the binding) is patched, and a
    call made while a span of the same name is open is folded into it."""

    def __init__(self, tracer: Tracer, package: str):
        self.tracer = tracer
        self.package = package
        self._patched: list[tuple[object, str, object]] = []

    def wrap(self, fn, name: str, after=None):
        tracer = self.tracer

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if tracer.active(name):
                return fn(*args, **kwargs)
            with tracer.span(name) as s:
                out = fn(*args, **kwargs)
                if after is not None:
                    after(s, args, kwargs)
                return out

        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not mod_name.startswith(self.package):
                continue
            for attr, val in list(vars(mod).items()):
                if val is fn:
                    self._patched.append((mod, attr, fn))
                    setattr(mod, attr, wrapper)

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        for mod, attr, fn in reversed(self._patched):
            setattr(mod, attr, fn)
        self._patched.clear()


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------

SPARK_METRICS = (
    "spark.jobs",
    "spark.stages",
    "spark.tasks",
    "spark.task_wait_s",
    "spark.executor_cpu_s",
    "spark.gc_s",
    "spark.shuffle_read_bytes",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "spark.peak_exec_mem_bytes",
    "catalog.scan_bytes",
)


def event_log_totals(log_dir: str, skip_group: str) -> dict[str, float]:
    """Totals over every job except those whose ``spark.jobGroup.id``
    starts with ``skip_group``, read from an uncompressed, non-rolling
    event log. Jobs are kept by default because streaming micro-batches
    run under a job group of their own."""
    paths = sorted(glob.glob(os.path.join(log_dir, "*")))
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {paths}")
    jobs, stages, submitted = 0, set(), {}
    out = dict.fromkeys(SPARK_METRICS, 0.0)
    task_ends = []
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                if not group.startswith(skip_group):
                    jobs += 1
                    stages.update(ev["Stage IDs"])
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                submitted[(info["Stage ID"], info["Stage Attempt ID"])] = info.get(
                    "Submission Time"
                )
            elif kind == "SparkListenerTaskEnd":
                task_ends.append(ev)
    out["spark.jobs"] = jobs
    out["spark.stages"] = sum(1 for sid, _ in submitted if sid in stages)
    for ev in task_ends:
        if ev["Stage ID"] not in stages:
            continue
        info, m = ev["Task Info"], ev.get("Task Metrics") or {}
        out["spark.tasks"] += 1
        sub = submitted.get((ev["Stage ID"], ev["Stage Attempt ID"]))
        if sub is not None:
            out["spark.task_wait_s"] += max(0, info["Launch Time"] - sub) / 1000.0
        out["spark.executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
        out["spark.gc_s"] += m.get("JVM GC Time", 0) / 1000.0
        rd = m.get("Shuffle Read Metrics") or {}
        out["spark.shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
            "Local Bytes Read", 0
        )
        wr = m.get("Shuffle Write Metrics") or {}
        out["spark.shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
        out["spark.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
            "Disk Bytes Spilled", 0
        )
        out["spark.peak_exec_mem_bytes"] = max(
            out["spark.peak_exec_mem_bytes"], m.get("Peak Execution Memory", 0)
        )
        out["catalog.scan_bytes"] += (m.get("Input Metrics") or {}).get(
            "Bytes Read", 0
        )
    return out
