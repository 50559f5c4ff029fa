"""Span recorder for the traced run.

Wrappers are installed only in a traced run, around the public calls
into each engine layer (see ``TARGETS``), and removed when the run
ends.  Each call records one span — name, start, end and the id of the
span that was open when it began — and keeps it in memory.  A layer's
self time is its span's duration minus the durations of its direct
children.

The recorder also times its own bookkeeping, which is reported as the
tracing overhead.
"""

from __future__ import annotations

import contextlib
import functools
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql.classic.dataframe import DataFrame

from spark_streaming_clustering_spark.streaming import gstream_model, train

# (owner, attribute, span name).  ``train`` imports the E-step and the
# snapshot writer by name, so they are wrapped where the trainer looks
# them up.  The trainer's probe of Spark input is its one
# ``toPandas`` call, so pyspark's (classic, non-Connect)
# ``DataFrame.toPandas`` stands for it.
TARGETS = (
    (train.GStreamTrainer, "step", "train.step"),
    (DataFrame, "toPandas", "train.probe"),
    (train, "estep_local", "estep.local"),
    (train, "compute_point_stats", "estep.dist"),
    (gstream_model.GStreamModel, "update", "mstep.update"),
    (gstream_model.GStreamModel, "update_rule", "mstep.update_rule"),
    (gstream_model.GStreamModel, "remove_old_edges", "mstep.remove_old_edges"),
    (gstream_model.GStreamModel, "remove_isolated_nodes", "mstep.remove_isolated_nodes"),
    (gstream_model.GStreamModel, "fading", "mstep.fading"),
    (gstream_model.GStreamModel, "add_new_nodes", "mstep.add_new_nodes"),
    (train, "write_snapshot", "snapshot"),
)


@dataclass
class Span:
    name: str
    parent: int | None
    start: float = 0.0
    end: float = 0.0
    attrs: dict[str, Any] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


# Hook signature: (span, args, kwargs) before the call, and
# (span, args, kwargs, result) after it.
Before = Callable[[Span, tuple, dict], None]
After = Callable[[Span, tuple, dict, Any], None]


class Recorder:
    """In-memory spans with parent ids; one open-span stack per thread."""

    def __init__(self):
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def wrap(self, name: str, fn: Callable, before: Before | None = None,
             after: After | None = None) -> Callable:
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            t_in = time.perf_counter()
            stack = self._stack()
            span = Span(name, stack[-1] if stack else None)
            with self._lock:
                sid = len(self.spans)
                self.spans.append(span)
            stack.append(sid)
            if before is not None:
                before(span, args, kwargs)
            span.start = time.perf_counter()
            self.overhead_s += span.start - t_in
            try:
                result = fn(*args, **kwargs)
            finally:
                span.end = time.perf_counter()
                stack.pop()
            if after is not None:
                after(span, args, kwargs, result)
            self.overhead_s += time.perf_counter() - span.end
            return result

        return traced

    def self_times(self) -> list[float]:
        """Self time of every span, indexed like ``spans``."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.duration
        return [s.duration - c for s, c in zip(self.spans, child)]

    def self_time_by_name(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for s, t in zip(self.spans, self.self_times()):
            out[s.name] += t
        return out

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def to_records(self) -> list[dict]:
        return [
            {"id": i, "name": s.name, "parent": s.parent, "start": s.start,
             "end": s.end, **s.attrs}
            for i, s in enumerate(self.spans)
        ]


@contextlib.contextmanager
def installed(recorder: Recorder, hooks: dict[str, tuple[Before | None, After | None]]):
    """Install a wrapper on every ``TARGETS`` entry; restore on exit.

    ``hooks`` maps a span name to its (before, after) callbacks."""
    saved = []
    try:
        for owner, attr, name in TARGETS:
            original = getattr(owner, attr)
            saved.append((owner, attr, original))
            before, after = hooks.get(name, (None, None))
            setattr(owner, attr, recorder.wrap(name, original, before, after))
        yield recorder
    finally:
        for owner, attr, original in reversed(saved):
            setattr(owner, attr, original)


def originals_in_place() -> bool:
    """True when no ``TARGETS`` entry carries a wrapper."""
    return not any(hasattr(getattr(owner, attr), "__wrapped__") for owner, attr, _ in TARGETS)


class SparkCounter:
    """Spark jobs, stages and tasks run inside one call, via job groups.

    A call that runs under an existing job group (the streaming query
    sets one on its execution thread) is counted within that group;
    otherwise the calling thread is put in the group ``perfbench``."""

    GROUP = "perfbench"

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def before(self, span: Span, args, kwargs) -> None:
        group = self.sc.getLocalProperty("spark.jobGroup.id")
        if group is None:
            self.sc.setJobGroup(self.GROUP, "perfbench traced step")
            group = self.GROUP
        span.attrs["_group"] = group
        span.attrs["_jobs_before"] = set(self.tracker.getJobIdsForGroup(group))

    def after(self, span: Span, args, kwargs, result) -> None:
        group = span.attrs.pop("_group")
        before = span.attrs.pop("_jobs_before")
        jobs = sorted(set(self.tracker.getJobIdsForGroup(group)) - before)
        stages = tasks = 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                stage = self.tracker.getStageInfo(s)
                if stage is not None:
                    stages += 1
                    tasks += stage.numTasks
        span.attrs.update(jobs=len(jobs), stages=stages, tasks=tasks)
