"""Tracing for the traced run: in-memory spans recorded by wrappers that the
benchmark installs around the program's public functions, self time per
layer, and the Spark event-log figures (jobs, stages, tasks, shuffle, spill).

Nothing here runs unless ``--trace 1`` is given; the untraced run measures
the end-to-end metrics without any wrapper in place.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass


@dataclass
class Span:
    id: int
    name: str
    trace: str
    parent: int | None
    start: float  # time.perf_counter() seconds
    end: float = 0.0


class Tracer:
    """Spans kept in memory; a per-thread stack gives each span its parent."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list[tuple[object, str, object]] = []

    def span(self, name: str, trace: str = ""):
        return _SpanCtx(self, name, trace)

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def wrap(self, owner: object, attr: str, name: str, trace_of=None) -> None:
        """Replace ``owner.attr`` by a wrapper that records one span per
        call; ``trace_of(*args)`` derives the trace id from the arguments."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            trace = ""
            if trace_of is not None:
                try:
                    trace = trace_of(*args, **kwargs)
                except Exception:  # a malformed call still gets its span
                    trace = ""
            with tracer.span(name, trace):
                return fn(*args, **kwargs)

        self._undo.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._undo):
            setattr(owner, attr, fn)
        self._undo.clear()

    def dump(self, path: str, t0_epoch: float, t0_perf: float) -> None:
        """Write every span as one JSON line, with epoch-millisecond times so
        they line up with the Spark event log."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps({
                    "id": s.id, "name": s.name, "trace": s.trace,
                    "parent": s.parent,
                    "start_ms": (t0_epoch + s.start - t0_perf) * 1000,
                    "end_ms": (t0_epoch + s.end - t0_perf) * 1000,
                }) + "\n")


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str, trace: str):
        self.tracer, self.name, self.trace = tracer, name, trace

    def __enter__(self) -> Span:
        stack = self.tracer._stack()
        parent = stack[-1] if stack else None
        with self.tracer._lock:
            sid = len(self.tracer.spans)
            span = Span(sid, self.name, self.trace or (parent.trace if parent else ""),
                        parent.id if parent else None, time.perf_counter())
            self.tracer.spans.append(span)
        stack.append(span)
        self.span = span
        return span

    def __exit__(self, *exc) -> None:
        self.span.end = time.perf_counter()
        self.tracer._stack().pop()


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of its interval covered by its
    children (overlapping children are merged first)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for c in sorted(children.get(s.id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.id] = (s.end - s.start) - covered
    return out


# ------------------------------------------------------------ event log ---

def event_log_conf(directory: str) -> dict[str, str]:
    os.makedirs(directory, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(directory),
        "spark.eventLog.compress": "false",
    }


def read_events(directory: str) -> list[dict]:
    """Every event of every application logged under ``directory`` (Spark 4
    writes each log as a directory of rolled files)."""
    events = []
    for path in sorted(glob.glob(os.path.join(directory, "**"), recursive=True)):
        if not os.path.isfile(path) or "appstatus" in os.path.basename(path):
            continue
        with open(path) as fh:
            for line in fh:
                try:
                    events.append(json.loads(line))
                except json.JSONDecodeError:
                    pass  # a torn last line of a log still in progress
    return events


def jobs_between(events: list[dict], lo_ms: float, hi_ms: float,
                 skip_description: str | None = None) -> int:
    n = 0
    for ev in events:
        if ev.get("Event") != "SparkListenerJobStart":
            continue
        if not lo_ms <= ev.get("Submission Time", 0) <= hi_ms:
            continue
        desc = (ev.get("Properties") or {}).get("spark.job.description")
        if skip_description is not None and desc == skip_description:
            continue
        n += 1
    return n


def stage_totals(events: list[dict], lo_ms: float, hi_ms: float) -> dict[str, float]:
    """Stages, tasks, shuffle bytes written and bytes spilled (as MB) of the
    stages submitted in ``[lo_ms, hi_ms]``."""
    out = {"stages": 0, "tasks": 0, "shuffle_mb": 0.0, "spill_mb": 0.0}
    for ev in events:
        if ev.get("Event") != "SparkListenerStageCompleted":
            continue
        info = ev["Stage Info"]
        if not lo_ms <= info.get("Submission Time", 0) <= hi_ms:
            continue
        out["stages"] += 1
        out["tasks"] += info.get("Number of Tasks", 0)
        for acc in info.get("Accumulables", []):
            name, value = acc.get("Name"), acc.get("Value", 0)
            if name == "internal.metrics.shuffle.write.bytesWritten":
                out["shuffle_mb"] += int(value) / 1e6
            elif name == "internal.metrics.diskBytesSpilled":
                out["spill_mb"] += int(value) / 1e6
    return out
