"""Tracing for the traced run: spans at layer boundaries, recorded from
the benchmark's own files by wrapping public engine entry points, plus
Spark task metrics per op read from the application status store.

A span is ``{name, start, end, parent, op}``; a layer is the part of the
name before the first dot. Spans live in memory and are written out
once, at exit. Nothing here is installed in an untraced run.
"""
from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from typing import Any, Callable

from py4j.protocol import Py4JJavaError


class Tracer:
    """Span recorder; ``enabled`` switches recording per pass."""

    def __init__(self) -> None:
        self.enabled = False
        self.op: str | None = None
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patches: list[tuple[Any, str, Any]] = []

    @contextmanager
    def span(self, name: str):
        """Record ``name`` around the block; yields the span's counts dict."""
        if not self.enabled:
            yield {}
            return
        rec = {
            "name": name,
            "op": self.op,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
            "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec["counts"]
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner: Any, attr: str, name: str,
             counts: Callable[[dict, Any, tuple], None] | None = None) -> None:
        """Replace ``owner.attr`` by a version that records a span ``name``
        (and, through ``counts(span_counts, result, args)``, counts)."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return orig(*args, **kwargs)
            with tracer.span(name) as c:
                out = orig(*args, **kwargs)
                if counts is not None:
                    counts(c, out, args)
                return out

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def wrap_context(self, owner: Any, attr: str, name: str) -> None:
        """Like ``wrap`` for a method returning a context manager: the span
        covers the whole ``with`` block, not just the call."""
        orig = getattr(owner, attr)
        tracer = self

        @contextmanager
        def timed(cm):
            with tracer.span(name):
                with cm as value:
                    yield value

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            cm = orig(*args, **kwargs)
            return timed(cm) if tracer.enabled else cm

        setattr(owner, attr, traced)
        self._patches.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the part its direct children cover
    (children of one span never overlap: the client is one thread)."""
    own = [s["end"] - s["start"] for s in spans]
    for s in spans:
        if s["parent"] is not None:
            own[s["parent"]] -= s["end"] - s["start"]
    return own


# Spark counters per op, summed over the stages of the op's job group.
SPARK_FIELDS = (
    "spark.jobs", "spark.stages", "spark.tasks", "spark.task_cpu_s", "spark.task_run_s",
    "spark.gc_s", "spark.input_mb", "spark.shuffle_read_mb", "spark.shuffle_write_mb",
    "spark.spill_mb",
)
_MB = 1024.0 * 1024.0


class SparkGroups:
    """Gives every op a fresh job group and reads the op's jobs, stages,
    tasks and task metrics back from ``sc._jsc.sc().statusStore()``."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._n = 0

    def start(self, label: str) -> str:
        self._n += 1
        group = f"perfbench-{self._n}-{label}"
        self.sc.setJobGroup(group, label)
        return group

    def read(self, group: str) -> dict[str, float]:
        # task metrics reach the store through the listener bus: drain it
        self._jsc.listenerBus().waitUntilEmpty(10_000)
        tracker = self.sc.statusTracker()
        jobs = tracker.getJobIdsForGroup(group)
        stage_ids: set[int] = set()
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = dict.fromkeys(SPARK_FIELDS, 0.0)
        out["spark.jobs"] = float(len(jobs))
        store = self._jsc.statusStore()
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # stage evicted from the store, or never submitted
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["spark.stages"] += 1
            out["spark.tasks"] += st.numCompleteTasks() + st.numFailedTasks()
            out["spark.task_cpu_s"] += st.executorCpuTime() / 1e9
            out["spark.task_run_s"] += st.executorRunTime() / 1e3
            out["spark.gc_s"] += st.jvmGcTime() / 1e3
            out["spark.input_mb"] += st.inputBytes() / _MB
            out["spark.shuffle_read_mb"] += st.shuffleReadBytes() / _MB
            out["spark.shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
            out["spark.spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / _MB
        return out
