"""Spans around layer calls, and Spark's stage counters attributed to them.

Each span sets its own Spark job group while it is open, so every job the
layer call starts carries the span's group. After a measured window,
``StageCounters`` reads Spark's status store once (it works with
``spark.ui.enabled=false``) and sums each group's stage metrics. Spans are
kept in memory and written out by ``Tracer.dump``.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    span_id: int
    parent: int | None
    run_id: str
    start: float  # epoch seconds, comparable with Spark's stage timestamps
    end: float = 0.0
    counts: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"{self.run_id}:{self.span_id}"

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; ``enabled=False`` records only root spans, which the
    benchmark always needs to attribute counters to one operation."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark, self.run_id, self.enabled = spark, run_id, enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, root: bool = False):
        if not (self.enabled or root):
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, len(self.spans), parent.span_id if parent else None, self.run_id, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self.spark.sparkContext
        sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.group, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def children(self, sp: Span) -> list[Span]:
        return [s for s in self.spans if s.parent == sp.span_id]

    def self_time(self, sp: Span) -> float:
        """Span wall time minus the time its child spans cover."""
        return sp.wall - sum(c.wall for c in self.children(sp))

    def dump(self, path: str, extra: dict) -> None:
        rows = [
            {
                "name": s.name,
                "span_id": s.span_id,
                "parent": s.parent,
                "run_id": s.run_id,
                "start": s.start,
                "end": s.end,
                "self_s": self.self_time(s),
                "counts": s.counts,
            }
            for s in self.spans
        ]
        with open(path, "w", encoding="utf-8") as fh:
            json.dump({"spans": rows, **extra}, fh, indent=1)


@dataclass
class StageSums:
    run_ms: float = 0.0  # executor run time
    cpu_ms: float = 0.0  # executor CPU time
    gc_ms: float = 0.0
    input_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    jobs: int = 0

    def add(self, other: "StageSums") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))


class StageCounters:
    """One read of Spark's status store, grouped by job group."""

    def __init__(self, spark):
        jvm = spark._jvm
        store = spark.sparkContext._jsc.sc().statusStore()
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_module, "MODULE$"))
        no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        stages = json.loads(
            mapper.writeValueAsString(store.stageList(None, False, False, no_quantiles, None))
        )
        owner: dict[int, str] = {}  # stage -> group of the first job listing it
        self.jobs_by_group: dict[str, int] = {}
        for job in sorted(jobs, key=lambda j: j["jobId"]):
            group = job.get("jobGroup")
            self.jobs_by_group[group] = self.jobs_by_group.get(group, 0) + 1
            for sid in job["stageIds"]:
                owner.setdefault(sid, group)
        self.by_group: dict[str, StageSums] = {}
        self.intervals: list[tuple[float, float]] = []  # (start, end) epoch s
        for st in stages:
            if st.get("status") not in ("COMPLETE", "FAILED"):
                continue
            sums = self.by_group.setdefault(owner.get(st["stageId"]), StageSums())
            sums.add(
                StageSums(
                    run_ms=st["executorRunTime"],
                    cpu_ms=st["executorCpuTime"] / 1e6,
                    gc_ms=st["jvmGcTime"],
                    input_bytes=st["inputBytes"],
                    shuffle_write_bytes=st["shuffleWriteBytes"],
                    spill_bytes=st["diskBytesSpilled"],
                    tasks=st["numTasks"],
                    failed_tasks=st["numFailedTasks"],
                )
            )
            if st.get("submissionTime") and st.get("completionTime"):
                self.intervals.append((st["submissionTime"] / 1e3, st["completionTime"] / 1e3))
        self.intervals.sort()

    def sums(self, *groups: str) -> StageSums:
        out = StageSums()
        for g in groups:
            if g in self.by_group:
                out.add(self.by_group[g])
            out.jobs += self.jobs_by_group.get(g, 0)
        return out

    def idle(self, start: float, end: float) -> float:
        """Seconds of [start, end] during which no stage was running: the
        driver's planning, scheduling and result-collection time."""
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in self.intervals:
            s, e = max(s, start), min(e, end)
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
        return max(0.0, (end - start) - covered)
