"""Spans recorded from outside the engine, plus the Spark event log.

Spans are kept in memory and turned into per-layer numbers once, after
the run. A span is recorded around a call into an engine module: either
a call the benchmark makes itself (``Tracer.span``), or an engine-internal
call reached through a public function that ``Tracer.wrap`` replaces for
the traced run only (the engine's files are never edited).

Each Spark job is attributed to the innermost span whose interval holds
its submission time. The load is one closed-loop client, so spans never
overlap except by nesting, even when a span is recorded on the streaming
``foreachBatch`` callback thread.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    t0: float
    t1: float
    attrs: dict = field(default_factory=dict)
    children: list["Span"] = field(default_factory=list)
    jobs: list[dict] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.t1 - self.t0

    def self_s(self) -> float:
        return self.dur - union([(c.t0, c.t1) for c in self.children])


class Tracer:
    """Records spans when ``enabled``; otherwise every method is a no-op
    apart from running the wrapped code."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        t0 = time.time()
        try:
            yield attrs
        finally:
            self.spans.append(Span(name, t0, time.time(), attrs))

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span
        named ``name``. ``after(result, attrs)`` runs inside the span and
        may wait for asynchronous work the call started."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*a, **kw):
            with self.span(name) as attrs:
                try:
                    out = orig(*a, **kw)
                except Exception as exc:
                    attrs["error"] = type(exc).__name__
                    raise
                if after is not None:
                    after(out, attrs)
                return out

        self._patches.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()


def union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def build_tree(spans: list[Span]) -> list[Span]:
    """Nest spans by interval containment; returns the roots."""
    roots: list[Span] = []
    stack: list[Span] = []
    for s in sorted(spans, key=lambda s: (s.t0, -s.t1)):
        while stack and not (stack[-1].t0 <= s.t0 and s.t1 <= stack[-1].t1):
            stack.pop()
        (stack[-1].children if stack else roots).append(s)
        stack.append(s)
    return roots


def walk(spans: list[Span]):
    for s in spans:
        yield s
        yield from walk(s.children)


@dataclass
class EventLog:
    jobs: list[dict]
    progress: list[dict]  # QueryProgressEvent payloads, in log order


def read_event_log(log_dir: str) -> EventLog:
    """Jobs (submission/completion in epoch seconds, task/stage totals)
    and streaming progress from the one event log in ``log_dir``."""
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    progress: list[dict] = []
    with open(files[0]) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                j = {
                    "id": ev["Job ID"],
                    "t0": ev["Submission Time"] / 1000.0,
                    "t1": None,
                    "tasks": 0,
                    "task_s": 0.0,
                    "gc_s": 0.0,
                    "shuffle_bytes": 0,
                }
                jobs[j["id"]] = j
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = j["id"]
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                j = jobs.get(stage_job.get(ev["Stage ID"], -1))
                m = ev.get("Task Metrics") or {}
                if j is None:
                    continue
                j["tasks"] += 1
                j["task_s"] += m.get("Executor Run Time", 0) / 1000.0
                j["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                j["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            elif kind.endswith("StreamingQueryListener$QueryProgressEvent"):
                progress.append(ev["progress"])
    for j in jobs.values():
        if j["t1"] is None:
            j["t1"] = j["t0"]
    return EventLog(sorted(jobs.values(), key=lambda j: j["t0"]), progress)


def attribute_jobs(roots: list[Span], jobs: list[dict]) -> list[dict]:
    """Attach each job to the innermost span holding its submission;
    returns the jobs no span holds."""
    loose = []
    for j in jobs:
        level, owner = roots, None
        while True:
            hit = next((s for s in level if s.t0 <= j["t0"] <= s.t1), None)
            if hit is None:
                break
            owner, level = hit, hit.children
        if owner is None:
            loose.append(j)
        else:
            owner.jobs.append(j)
    return loose


def subtree_jobs(s: Span) -> list[dict]:
    return [j for x in walk([s]) for j in x.jobs]


def job_union_s(jobs: list[dict]) -> float:
    return union([(j["t0"], j["t1"]) for j in jobs])
