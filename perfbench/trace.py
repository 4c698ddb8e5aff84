"""Span recorder and Spark job accounting for the benchmark.

A span is one call into a layer of the package, timed from the
benchmark's side of the boundary. It carries a name, start and end
(``time.perf_counter`` seconds), the id of the span that was open when
it started (its parent), and the run id. Spans stay in memory and are
written as JSON when the run ends.

With job counting on, every span also records the Spark jobs and
stages launched while it was open. Jobs submitted from the calling
thread are found by a job group the recorder sets for the span. Jobs
submitted from threads the package starts itself (concurrent publish
waves, the store-seed pool) do not inherit that group, so they are
found by job-id delta instead: any ungrouped job with an id above the
highest id seen before the span opened. That is exact because the
benchmark makes one call at a time. A parent span's jobs include its
children's.

A recorder without a SparkContext still times spans (the workloads
read latencies from them) but sets no job group and queries no status
tracker, so an untraced run pays two ``perf_counter`` calls per span.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_IDLE_GROUP = "perfbench-idle"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    job_ids: set = field(default_factory=set)
    stages: int = 0
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def jobs(self) -> int:
        return len(self.job_ids)


class SparkJobs:
    """Job ids and stage counts per span, from the public
    ``SparkContext.statusTracker()``."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.high = -1  # highest job id seen so far
        self._set_group(_IDLE_GROUP)

    def _set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def _ids(self, group: str | None) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(group))

    def open(self, group: str, outer: str) -> int:
        # jobs launched outside this span (checks, input staging, the
        # enclosing span's own calls) must not be charged to it: raise
        # the watermark past every job visible now
        ids = self._ids(outer) + self._ids(None)
        self.high = max([self.high, *ids])
        self._set_group(group)
        return self.high

    def close(self, group: str, base: int, outer: str) -> set[int]:
        ids = set(self._ids(group))
        ids.update(j for j in self._ids(None) if j > base)
        self._set_group(outer)
        if ids:
            self.high = max(self.high, *ids)
        return ids

    def stages(self, ids: set[int]) -> int:
        n = 0
        for j in ids:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                n += len(info.stageIds)
        return n


class Recorder:
    def __init__(self, run_id: str, spark_context=None):
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[tuple[Span, str]] = []
        self.jobs = SparkJobs(spark_context) if spark_context is not None else None

    @property
    def enabled(self) -> bool:
        return self.jobs is not None

    @contextmanager
    def span(self, name: str, **attrs):
        parent, outer = self._stack[-1] if self._stack else (None, _IDLE_GROUP)
        s = Span(len(self.spans), name, 0.0, run_id=self.run_id, attrs=dict(attrs),
                 parent=parent.id if parent is not None else None)
        self.spans.append(s)
        group = f"perfbench-{self.run_id}-{s.id}"
        base = self.jobs.open(group, outer) if self.jobs else 0
        self._stack.append((s, group))
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.jobs:
                s.job_ids |= self.jobs.close(group, base, outer)
                s.stages = self.jobs.stages(s.job_ids)
                if parent is not None:
                    parent.job_ids |= s.job_ids

    def self_seconds(self, s: Span) -> float:
        """Span duration minus the part of it that child spans cover
        (children of one span never overlap: calls are sequential)."""
        return s.seconds - sum(c.seconds for c in self.spans if c.parent == s.id)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def dump(self, path: str) -> None:
        rows = [
            {
                "id": s.id,
                "name": s.name,
                "start": s.start,
                "end": s.end,
                "parent": s.parent,
                "run_id": s.run_id,
                "self_seconds": self.self_seconds(s),
                "jobs": s.jobs,
                "stages": s.stages,
                "attrs": s.attrs,
            }
            for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": rows}, f)
