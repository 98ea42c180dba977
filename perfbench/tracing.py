"""In-memory spans and Spark job counts for the traced benchmark run.

Spans are recorded only around calls the benchmark makes into the engine's
public functions (or wraps for the duration of a traced pass); no engine
code is edited.  Each span has a name, start, end and parent; a layer's
self time is its spans' durations minus the time their child spans cover.
"""

from __future__ import annotations

import contextlib
import functools
import json
import sys
import time
from collections import defaultdict


class Tracer:
    """Collects spans and counters once ``enabled`` is set; a disabled
    tracer records nothing and its ``span`` costs one attribute test."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list = []  # [name, start, end, parent index]
        self.counts: dict = defaultdict(float)
        self._stack: list = []

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else -1
        rec = [name, time.perf_counter(), None, parent]
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, value: float = 1) -> None:
        if self.enabled:
            self.counts[name] += value

    def self_seconds(self) -> dict:
        """``{span name: summed self time in seconds}``."""
        child = [0.0] * len(self.spans)
        for name, start, end, parent in self.spans:
            if parent >= 0:
                child[parent] += end - start
        out: dict = defaultdict(float)
        for i, (name, start, end, _) in enumerate(self.spans):
            out[name] += (end - start) - child[i]
        return out

    def total_seconds(self, name: str) -> float:
        return sum(e - s for n, s, e, _ in self.spans if n == name)

    def write(self, path: str, extra: dict) -> None:
        t0 = self.spans[0][1] if self.spans else 0.0
        doc = dict(extra)
        doc["spans"] = [
            {"name": n, "start_s": s - t0, "end_s": e - t0, "parent": p}
            for n, s, e, p in self.spans
        ]
        doc["self_s"] = self.self_seconds()
        doc["counts"] = dict(self.counts)
        with open(path, "w") as f:
            json.dump(doc, f)


_MISSING = object()


def _timed(tracer: Tracer, name: str, fn):
    depth = [0]

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        # only the outermost call is a span: recursive or re-entrant calls
        # into the same function are part of the outer call's time
        if depth[0]:
            return fn(*args, **kwargs)
        depth[0] += 1
        try:
            with tracer.span(name):
                return fn(*args, **kwargs)
        finally:
            depth[0] -= 1

    return wrapper


@contextlib.contextmanager
def traced_calls(tracer: Tracer, targets: list):
    """Wrap each ``(owner, attribute, span name)`` in a span while the
    block runs, then restore it.  A module's function is also rebound in
    every loaded module that imported it by name, so call sites inside
    the engine reach the wrapper.  Does nothing when tracing is off."""
    if not tracer.enabled:
        yield
        return
    undo = []
    for owner, attr, name in targets:
        fn = getattr(owner, attr)
        wrapped = _timed(tracer, name, fn)
        holders = [owner]
        if isinstance(owner, type(sys)):
            holders += [
                m for m in list(sys.modules.values())
                if m is not None and m is not owner
                and vars(m).get(attr) is fn
            ]
        for h in holders:
            undo.append((h, attr, vars(h).get(attr, _MISSING)))
            setattr(h, attr, wrapped)
    try:
        yield
    finally:
        for h, attr, old in reversed(undo):
            if old is _MISSING:
                delattr(h, attr)
            else:
                setattr(h, attr, old)


class SparkJobs:
    """Counts the Spark jobs, stages and tasks started inside a block by
    tagging the block with its own job group and reading them back from
    ``statusTracker()``.  Jobs started on other threads (stream
    micro-batches) are not in the group."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._n = 0

    @contextlib.contextmanager
    def group(self, tracer: Tracer, prefix: str):
        if not tracer.enabled:
            yield
            return
        self._n += 1
        gid = f"perfbench-{self._n}"
        self.sc.setJobGroup(gid, prefix)
        try:
            yield
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            jobs, stages, tasks = self._count(gid)
            tracer.count(f"{prefix}_jobs", jobs)
            tracer.count(f"{prefix}_stages", stages)
            tracer.count(f"{prefix}_tasks", tasks)

    def _count(self, gid: str):
        job_ids = self.tracker.getJobIdsForGroup(gid)
        stage_ids = set()
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        stages = tasks = 0
        for s in stage_ids:
            info = self.tracker.getStageInfo(s)
            # skipped stages (shuffle output reused) complete no tasks
            if info is not None and info.numCompletedTasks > 0:
                stages += 1
                tasks += info.numCompletedTasks
        return len(job_ids), stages, tasks
