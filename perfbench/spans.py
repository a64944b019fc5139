"""Spans around the program's public functions, and Spark event-log
attribution.

A :class:`Tracer` replaces a module attribute with a wrapper that
records a span (name, wall start, wall end, parent) each time it runs.
Spans stay in memory; :func:`attribute_jobs` then assigns every Spark
job in the event log to the innermost span open at the job's
submission time, and :func:`span_stats` turns spans and jobs into
per-layer numbers: total and self seconds, job counts, task seconds,
shuffle bytes and the planning gap (wall time not covered by any job).

The event log is read line by line; SQL-execution and adaptive-plan
events, which carry whole plan trees and make up most of the log, are
skipped without being parsed.
"""

from __future__ import annotations

import functools
import json
import sys
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float = 0.0
    parent: int | None = None
    children: list[int] = field(default_factory=list)
    jobs: list[dict] = field(default_factory=list)  # jobs submitted in self time


class Tracer:
    """Records spans for wrapped callables. An inactive tracer wraps
    nothing, so an untraced run executes the program unchanged."""

    def __init__(self, active: bool):
        self.active = active
        self.spans: list[Span] = []
        self._local = threading.local()  # per-thread stack of open spans
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def open(self, name: str) -> int:
        stack = self._stack()
        parent = stack[-1] if stack else None
        with self._lock:
            self.spans.append(Span(name, time.time(), parent=parent))
            idx = len(self.spans) - 1
            if parent is not None:
                self.spans[parent].children.append(idx)
        stack.append(idx)
        return idx

    def close(self, idx: int) -> None:
        self.spans[idx].end = time.time()
        self._stack().remove(idx)

    def open_names(self) -> list[str]:
        """Names of the spans open in this thread, outermost first."""
        return [self.spans[i].name for i in self._stack()]

    def span(self, name: str):
        tracer = self

        class _Ctx:
            def __enter__(self):
                self.idx = tracer.open(name)
                return tracer.spans[self.idx]

            def __exit__(self, *exc):
                tracer.close(self.idx)
                return False

        return _Ctx()

    def wrap(self, owner, attr: str, name, on_return=None) -> None:
        """Replace ``owner.attr`` by a span-recording wrapper. ``name``
        is a span name or a function of the call's (args, kwargs);
        ``on_return(result)`` runs after each call, outside the span."""
        if not self.active:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            label = name(args, kwargs) if callable(name) else name
            with self.span(label):
                out = fn(*args, **kwargs)
            if on_return is not None:
                on_return(out)
            return out

        setattr(owner, attr, traced)

    def wrap_everywhere(self, fn, name, on_return=None) -> None:
        """Wrap ``fn`` under every name the program's loaded modules
        bind it to: a module that did ``from x import fn`` calls its
        own binding, so patching the defining module alone misses it."""
        for mod in list(sys.modules.values()):
            if not getattr(mod, "__name__", "").startswith("mod_reservoir_spark"):
                continue
            for attr, value in list(vars(mod).items()):
                if value is fn:
                    self.wrap(mod, attr, name, on_return)


# -- event log -----------------------------------------------------------

_SKIP = (
    '{"Event":"org.apache.spark.sql.execution.ui.SparkListenerSQL',
    '{"Event":"SparkListenerTaskStart"',
    '{"Event":"SparkListenerBlockUpdated"',
)


def read_event_log(path: str) -> list[dict]:
    """Jobs from an uncompressed, non-rolling event log: submission and
    completion (epoch seconds), and the summed task metrics of their
    stages: task seconds, shuffle read/write bytes, output bytes."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            if line.startswith(_SKIP):
                continue
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                j = {
                    "id": ev["Job ID"],
                    "submit": ev["Submission Time"] / 1e3,
                    "end": None,
                    "task_s": 0.0,
                    "shuffle_bytes": 0,
                    "output_bytes": 0,
                    "tasks": 0,
                }
                jobs[j["id"]] = j
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = j["id"]
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if jid is None or not m:
                    continue
                j = jobs[jid]
                j["tasks"] += 1
                j["task_s"] += m.get("Executor Run Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics", {})
                sw = m.get("Shuffle Write Metrics", {})
                j["shuffle_bytes"] += (
                    sr.get("Remote Bytes Read", 0)
                    + sr.get("Local Bytes Read", 0)
                    + sw.get("Shuffle Bytes Written", 0)
                )
                j["output_bytes"] += m.get("Output Metrics", {}).get(
                    "Bytes Written", 0
                )
    out = [j for j in jobs.values() if j["end"] is not None]
    out.sort(key=lambda j: j["submit"])
    return out


def attribute_jobs(tracer: Tracer, jobs: list[dict]) -> None:
    """Give each job to the innermost span open at its submission."""
    spans = tracer.spans
    for j in jobs:
        best = None
        for i, s in enumerate(spans):
            if s.start <= j["submit"] <= s.end and (
                best is None or s.start >= spans[best].start
            ):
                best = i
        if best is not None:
            spans[best].jobs.append(j)


def _union(intervals: list[tuple[float, float]]) -> float:
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


def subtree(tracer: Tracer, idx: int) -> list[int]:
    out, todo = [], [idx]
    while todo:
        i = todo.pop()
        out.append(i)
        todo.extend(tracer.spans[i].children)
    return out


def span_stats(tracer: Tracer, indices: list[int]) -> dict:
    """Totals over span instances (and everything nested in them):
    seconds, self seconds, jobs, task seconds, shuffle and output
    bytes, and the planning gap: wall time in which no job ran."""
    spans = tracer.spans
    st = dict(s=0.0, self_s=0.0, jobs=0, task_s=0.0, shuffle_bytes=0,
              output_bytes=0, planning_gap_s=0.0)
    for idx in indices:
        sp = spans[idx]
        wall = sp.end - sp.start
        st["s"] += wall
        st["self_s"] += wall - _union(
            [(spans[c].start, spans[c].end) for c in sp.children]
        )
        jobs = [j for i in subtree(tracer, idx) for j in spans[i].jobs]
        st["jobs"] += len(jobs)
        st["task_s"] += sum(j["task_s"] for j in jobs)
        st["shuffle_bytes"] += sum(j["shuffle_bytes"] for j in jobs)
        st["output_bytes"] += sum(j["output_bytes"] for j in jobs)
        busy = _union(
            [(max(j["submit"], sp.start), min(j["end"], sp.end)) for j in jobs]
        )
        st["planning_gap_s"] += wall - busy
    return st


def by_name(tracer: Tracer, name: str, within: list[int] | None = None) -> list[int]:
    pool = within if within is not None else range(len(tracer.spans))
    return [i for i in pool if tracer.spans[i].name == name]


def self_breakdown(tracer: Tracer, idx: int) -> dict[str, float]:
    """Self seconds per span name over a subtree — the layers' share
    of the root span's wall time (they sum to it)."""
    out: dict[str, float] = {}
    for i in subtree(tracer, idx):
        st = span_stats(tracer, [i])
        out[tracer.spans[i].name] = out.get(tracer.spans[i].name, 0.0) + st["self_s"]
    return out
