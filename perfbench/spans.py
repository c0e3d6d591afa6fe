"""Span tracer for the traced benchmark run.

Spans are opened from the benchmark's own code, around calls into the
engine's layers: explicitly (``with tracer.span(name):``) or by
replacing a module or class attribute with a wrapper
(``tracer.wrap``), which also catches calls the engine makes between
its own modules. Nothing in the engine is edited.

Each span sets a Spark job group, so every job it launches is
attributed to exactly one (innermost) span; job ids come from the
status tracker when the span closes. Spans stay in memory. At the end
of the run ``Tracer.resolve`` reads the UI REST ``/jobs`` and
``/stages`` endpoints once and attaches to each span its jobs, tasks,
executor CPU seconds, shuffle bytes written, and driver gap: span wall
time minus the union of its jobs' run intervals.

An untraced run uses ``Tracer(spark, enabled=False)``: ``span`` is a
no-op and ``wrap`` installs nothing.
"""

from __future__ import annotations

import functools
import json
import sys
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone

# Spark UI retention high enough that the end-of-run REST read still
# holds every job and stage of a traced run.
TRACE_CONF = {
    "spark.ui.retainedJobs": "1000000",
    "spark.ui.retainedStages": "1000000",
}


@dataclass
class Span:
    name: str
    parent: Span | None
    cycle: int
    start: float
    end: float = 0.0
    group: str = ""
    job_ids: list[int] = field(default_factory=list)
    children: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)
    # filled by Tracer.resolve, inclusive of child spans
    jobs: int = 0
    tasks: int = 0
    executor_cpu_s: float = 0.0
    shuffle_bytes: int = 0
    driver_gap_s: float = 0.0

    @property
    def wall_s(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.wall_s - sum(c.wall_s for c in self.children)

    def subtree(self):
        yield self
        for c in self.children:
            yield from c.subtree()


@contextmanager
def _nothing():
    yield


def _rest_time(s: str) -> float:
    # "2026-10-16T23:22:34.123GMT"
    return datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc
    ).timestamp()


def _union_within(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return covered


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.cycle = -1  # -1 = set-up / warm-up; measured cycles count from 0
        self.roots: list[Span] = []
        self._stack: list[Span] = []
        self._seq = 0
        self._patches: list[tuple[object, str, object]] = []
        self._paused = False

    # -- recording -------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        self._seq += 1
        sp = Span(name, parent, self.cycle, 0.0, group=f"perfbench-{self._seq}")
        (parent.children if parent else self.roots).append(sp)
        self._stack.append(sp)
        sc.setJobGroup(sp.group, name)
        sp.start = time.time()
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            sp.job_ids = list(sc.statusTracker().getJobIdsForGroup(sp.group))
            self._restore_group()

    def _in_layer(self, prefix: str) -> bool:
        return bool(self._stack) and self._stack[-1].name.startswith(prefix)

    @contextmanager
    def paused(self):
        """Calls made here open no span: the benchmark's own checks."""
        self._paused, was = True, self._paused
        try:
            with self._untraced() if self.enabled else _nothing():
                yield
        finally:
            self._paused = was

    @contextmanager
    def _untraced(self):
        """Jobs run here belong to no span (trace bookkeeping)."""
        sc = self.spark.sparkContext
        sc.setJobGroup("perfbench-untraced", "trace bookkeeping")
        try:
            yield
        finally:
            self._restore_group()

    def _restore_group(self) -> None:
        sc = self.spark.sparkContext
        top = self._stack[-1] if self._stack else None
        if top is not None:
            sc.setJobGroup(top.group, top.name)
        else:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def wrap(self, owner, attr: str, name: str, after=None, inside: str | None = None):
        """Replace ``owner.attr`` with a wrapper that runs it inside a
        span called ``name``. A module-level function is also replaced
        in every loaded engine module that imported it by name.
        ``after(span, args, kwargs, result)`` records counts on the
        span; it runs after the span has closed, and any job it starts
        is charged to no span. A call made while the innermost span's
        name starts with ``inside`` runs unwrapped (a store read issued
        by a store merge stays part of the merge)."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if self._paused or (inside is not None and self._in_layer(inside)):
                return orig(*args, **kwargs)
            with self.span(name) as sp:
                result = orig(*args, **kwargs)
            if after is not None:
                with self._untraced():
                    after(sp, args, kwargs, result)
            return result

        targets = [owner]
        if not isinstance(owner, type):
            targets += [
                m for k, m in list(sys.modules.items())
                if k.startswith("fabric_claims_spark") and m is not owner
                and getattr(m, attr, None) is orig
            ]
        for t in targets:
            self._patches.append((t, attr, orig))
            setattr(t, attr, wrapper)

    def unwrap(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- resolution ------------------------------------------------------
    def _rest(self, path: str):
        sc = self.spark.sparkContext
        url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
        with urllib.request.urlopen(url, timeout=60) as r:
            return json.loads(r.read())

    def resolve(self) -> None:
        """Attach job, task, CPU, shuffle and driver-gap figures to
        every recorded span (one REST read of all jobs and stages)."""
        if not self.enabled or not self.roots:
            return
        jobs = {j["jobId"]: j for j in self._rest("jobs")}
        stages = {}
        for s in self._rest("stages"):
            if s.get("status") == "COMPLETE":
                stages.setdefault(s["stageId"], s)
        # a stage reused by a later job shows there as skipped: charge
        # it to the first job that ran it
        owner: dict[int, int] = {}
        for jid in sorted(jobs):
            for sid in jobs[jid].get("stageIds", []):
                if sid in stages:
                    owner.setdefault(sid, jid)
        per_job: dict[int, tuple[int, float, int]] = {}
        for sid, jid in owner.items():
            s = stages[sid]
            t, c, b = per_job.get(jid, (0, 0.0, 0))
            per_job[jid] = (
                t + int(s.get("numCompleteTasks", 0)),
                c + s.get("executorCpuTime", 0) / 1e9,
                b + int(s.get("shuffleWriteBytes", 0)),
            )
        for root in self.roots:
            for sp in root.subtree():
                ids = [j for d in sp.subtree() for j in d.job_ids]
                sp.jobs = len(ids)
                intervals = []
                for j in ids:
                    t, c, b = per_job.get(j, (0, 0.0, 0))
                    sp.tasks += t
                    sp.executor_cpu_s += c
                    sp.shuffle_bytes += b
                    info = jobs.get(j)
                    if info and info.get("submissionTime") and info.get("completionTime"):
                        intervals.append(
                            (_rest_time(info["submissionTime"]), _rest_time(info["completionTime"]))
                        )
                sp.driver_gap_s = sp.wall_s - _union_within(intervals, sp.start, sp.end)

    def measured(self):
        """Every span of a measured cycle, depth-first."""
        for root in self.roots:
            for sp in root.subtree():
                if sp.cycle >= 0:
                    yield sp

    def summary(self) -> dict[str, dict[str, float]]:
        """Per span name, over the measured cycles: calls and the
        summed wall, self time (wall minus child spans), jobs, tasks,
        executor CPU, shuffle bytes and driver gap. Inclusive figures
        of nested spans overlap; self time does not."""
        out: dict[str, dict[str, float]] = {}
        for sp in self.measured():
            row = out.setdefault(sp.name, dict.fromkeys(
                ("calls", "wall_s", "self_s", "jobs", "tasks", "executor_cpu_s",
                 "shuffle_bytes", "driver_gap_s"), 0.0))
            row["calls"] += 1
            for k in ("wall_s", "self_s", "jobs", "tasks", "executor_cpu_s",
                      "shuffle_bytes", "driver_gap_s"):
                row[k] += getattr(sp, k)
        return out

    def coverage(self, lo: float, hi: float) -> float:
        """Share of [lo, hi] covered by top-level spans."""
        top = [(r.start, r.end) for r in self.roots]
        return _union_within(top, lo, hi) / (hi - lo) if hi > lo else 0.0
