"""Spans around the benchmark's calls into the engine's layers.

A span records name, start, end, parent and run id, and, through a
Spark job group per span, the jobs, stages and tasks the call ran. A
probe span marks work a traced run adds to split a layer out of a
call (Spark is lazy, so a layer's work otherwise runs inside whichever
later call triggers it); probes are left out of per-operation sums.
Spans stay in memory until the run ends; ``report`` then gives each
span name its self time (duration minus the time its child spans
cover) and its Spark counts. A disabled tracer only times the call.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    span_id: int
    parent: int | None
    run_id: str
    name: str
    start: float
    end: float
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    child_s: float = 0.0
    probe: bool = False

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.child_s


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool) -> None:
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_id = 0  # never reused: ids name the Spark job groups

    @contextmanager
    def span(self, name: str, probe: bool = False):
        """Time the enclosed call; when enabled, also record it as a span
        and count the Spark work it ran."""
        if not self.enabled:
            yield
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            self._new_id(), parent.span_id if parent else None, self.run_id, name, 0.0, 0.0, probe=probe
        )
        group = f"{self.run_id}-{sp.span_id}"
        sc.setJobGroup(group, name)
        self._stack.append(sp)
        sp.start = time.perf_counter()
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(f"{self.run_id}-{parent.span_id}", parent.name)
                parent.child_s += sp.end - sp.start
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self._count(sp, group)
            self.spans.append(sp)

    def _count(self, sp: Span, group: str) -> None:
        """Jobs, stages that ran and tasks that finished in the span's job
        group. Waits for the listener bus first so no job is missed."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        seen: set[int] = set()
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is None:
                continue
            sp.jobs += 1
            for stage_id in info.stageIds:
                if stage_id in seen:
                    continue
                seen.add(stage_id)
                stage = tracker.getStageInfo(stage_id)
                if stage is not None and stage.numCompletedTasks:
                    sp.stages += 1
                    sp.tasks += stage.numCompletedTasks

    def _new_id(self) -> int:
        self._next_id += 1
        return self._next_id

    def spans_of(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def report(self) -> dict[str, dict]:
        """Per span name: calls, busy (self) seconds, total seconds and
        Spark counts, summed over the run."""
        out: dict[str, dict] = {}
        for s in self.spans:
            r = out.setdefault(
                s.name, {"calls": 0, "busy_s": 0.0, "total_s": 0.0, "jobs": 0, "stages": 0, "tasks": 0}
            )
            r["calls"] += 1
            r["busy_s"] += s.self_s
            r["total_s"] += s.end - s.start
            r["jobs"] += s.jobs
            r["stages"] += s.stages
            r["tasks"] += s.tasks
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**asdict(s), "self_s": s.self_s}) + "\n")
