"""Outside-in span recorder.

A span wraps one benchmark call into a module's public function. Untraced,
a span only reads the clock. Traced, the call also runs under a job group
of its own, and as soon as it returns the recorder reads the stages of that
group's jobs from Spark's live status store. Group names are never reused:
a reused group would report the jobs of every earlier span with that name.
The store keeps only the most recent stages (``spark.ui.retainedStages``,
1000 by default), so the stages are read at span end, not at run end.
Spans stay in memory until the run writes them out.
"""

from __future__ import annotations

import itertools
import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from py4j.protocol import Py4JJavaError

from credigraph_spark.checkpoint import CheckpointStore

STAGE_COUNTERS = ("jobs", "stages", "tasks", "failed_tasks", "task_s", "gc_s",
                  "shuffle_read_mb", "shuffle_write_mb")


@dataclass
class Span:
    name: str
    parent: str | None
    rep: int
    start: float = 0.0
    end: float = 0.0
    # Spark counters of this span's jobs plus those of its child spans;
    # zero when untraced.
    counters: dict = field(default_factory=lambda: dict.fromkeys(STAGE_COUNTERS, 0))
    attrs: dict = field(default_factory=dict)

    @property
    def s(self) -> float:
        return self.end - self.start


class Recorder:
    """Times benchmark calls as spans; with ``traced`` also collects each
    span's Spark jobs, stages and task metrics."""

    def __init__(self, spark, traced: bool):
        self.sc = spark.sparkContext
        self.traced = traced
        self.rep = 0
        self.spans: list[Span] = []
        self.overhead_s = 0.0  # wall time spent in the recorder's own Spark calls
        self._stack: list[tuple[Span, str | None]] = []
        self._ids = itertools.count()
        self._counted_stages: set[int] = set()

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, parent[0].name if parent else None, self.rep, attrs=dict(attrs))
        group = None
        if self.traced:
            t = time.perf_counter()
            group = f"perfbench-{next(self._ids)}-{name}"
            self.sc.setJobGroup(group, name)
            self.overhead_s += time.perf_counter() - t
        self._stack.append((sp, group))
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self.traced:
                t = time.perf_counter()
                own = self._read_group(group)
                for k in STAGE_COUNTERS:
                    sp.counters[k] += own[k]
                if parent is not None:
                    self.sc.setJobGroup(parent[1], parent[0].name)
                    for k in STAGE_COUNTERS:
                        parent[0].counters[k] += sp.counters[k]
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.overhead_s += time.perf_counter() - t
            self.spans.append(sp)

    def _read_group(self, group: str) -> dict:
        jsc = self.sc._jsc.sc()
        # stage completions reach the status store through the listener bus
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        c = dict.fromkeys(STAGE_COUNTERS, 0)
        for job_id in tracker.getJobIdsForGroup(group):
            c["jobs"] += 1
            info = tracker.getJobInfo(job_id)
            for sid in (info.stageIds if info else ()):
                # a stage reused by a later job was counted where it ran
                if sid in self._counted_stages:
                    continue
                try:
                    sd = store.lastStageAttempt(sid)
                except Py4JJavaError:  # evicted from the store
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                self._counted_stages.add(sid)
                c["stages"] += 1
                c["tasks"] += sd.numCompleteTasks()
                c["failed_tasks"] += sd.numFailedTasks()
                c["task_s"] += sd.executorRunTime() / 1e3
                c["gc_s"] += sd.jvmGcTime() / 1e3
                c["shuffle_read_mb"] += sd.shuffleReadBytes() / 1e6
                c["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
        return c

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps({**asdict(sp), "s": sp.s}) + "\n")


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class TimedCheckpointStore(CheckpointStore):
    """A CheckpointStore whose state writes and reads are ``checkpoint``
    spans; everything else is the parent class."""

    def __init__(self, root: str, run_id: str, recorder: Recorder):
        super().__init__(root, run_id)
        self.recorder = recorder

    def write_state(self, df, iteration, name="state"):
        with self.recorder.span("checkpoint", op="write") as sp:
            out = super().write_state(df, iteration, name)
        sp.attrs["bytes"] = dir_bytes(self._iter_dir(name, iteration))
        return out

    def read_state(self, spark, iteration, name="state"):
        with self.recorder.span("checkpoint", op="read"):
            return super().read_state(spark, iteration, name)
