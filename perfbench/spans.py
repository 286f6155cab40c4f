"""Spans around the engine's public calls, and per-layer numbers from
the Spark event log.

A span records (name, start, end, parent, run id) in memory. With a
SparkContext attached (the traced run), entering a span also tags every
Spark job the call launches with the span's name as its job group, so
each task in the event log can be charged to the layer that caused it.
"""

from __future__ import annotations

import json
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

# Layers reported per job; ``setup`` and ``bench`` groups (session warm-up,
# stream preload, the benchmark's own bookkeeping) are attributed but not
# reported as layers.
LAYERS = ("extract", "pagerank", "lpa", "components", "triangles", "stream_driver", "sink")
ROOT_GROUP = "bench"


@dataclass
class Span:
    name: str
    start: float  # epoch seconds, comparable with the event log's task times
    end: float
    parent: str | None
    run_id: str

    @property
    def wall(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    run_id: str
    sc: object | None = None  # SparkContext when job groups are on
    spans: list[Span] = field(default_factory=list)
    _stack: list[str] = field(default_factory=list)

    def _set_group(self, name: str) -> None:
        if self.sc is not None:
            self.sc.setJobGroup(name, f"{self.run_id}:{name}")

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self._set_group(name)
        start = time.time()
        try:
            yield
        finally:
            end = time.time()
            self._stack.pop()
            self._set_group(parent or ROOT_GROUP)
            self.spans.append(Span(name, start, end, parent, self.run_id))

    def walls(self, name: str) -> list[float]:
        return [s.wall for s in self.spans if s.name == name]

    def dump(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent, "run_id": s.run_id}
            for s in self.spans
        ]


@dataclass
class TaskRec:
    stage: int
    launch: float  # epoch seconds
    finish: float
    failed: bool
    run_s: float
    cpu_s: float
    gc_s: float
    shuffle_write_b: int
    shuffle_read_b: int
    spill_b: int


@dataclass
class EventLog:
    stage_group: dict[int, str]
    job_group: dict[int, str]
    tasks: list[TaskRec]

    def group_of(self, t: TaskRec) -> str:
        return self.stage_group.get(t.stage, "unassigned")


def _group(props: dict | None) -> str:
    return (props or {}).get("spark.jobGroup.id") or "unassigned"


def parse_event_log(path: str) -> EventLog:
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    tasks: list[TaskRec] = []
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                g = _group(ev.get("Properties"))
                job_group[ev["Job ID"]] = g
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, g)
            elif kind == "SparkListenerStageSubmitted":
                g = _group(ev.get("Properties"))
                if g != "unassigned":
                    stage_group[ev["Stage Info"]["Stage ID"]] = g
            elif kind == "SparkListenerTaskEnd":
                info = ev["Task Info"]
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append(
                    TaskRec(
                        stage=ev["Stage ID"],
                        launch=info["Launch Time"] / 1000.0,
                        finish=info["Finish Time"] / 1000.0,
                        failed=bool(info.get("Failed") or info.get("Killed")),
                        run_s=m.get("Executor Run Time", 0) / 1000.0,
                        cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                        gc_s=m.get("JVM GC Time", 0) / 1000.0,
                        shuffle_write_b=sw.get("Shuffle Bytes Written", 0),
                        shuffle_read_b=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                        spill_b=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    )
                )
    return EventLog(stage_group, job_group, tasks)


def tasks_by_group(log: EventLog) -> dict[str, int]:
    counts: dict[str, int] = defaultdict(int)
    for t in log.tasks:
        counts[log.group_of(t)] += 1
    return dict(counts)


def _union_length(intervals: list[tuple[float, float]]) -> float:
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


def layer_metrics(log: EventLog, spans: list[Span], layer: str, per: int) -> dict[str, float]:
    """The per-layer numbers for ``layer``, each divided by ``per`` (jobs
    or micro-batches traced) except ``skew``."""
    mine = [t for t in log.tasks if log.group_of(t) == layer]
    layer_spans = [s for s in spans if s.name == layer]
    wall = sum(s.wall for s in layer_spans)
    busy = sum(
        _union_length(
            [(max(t.launch, s.start), min(t.finish, s.end)) for t in mine if t.finish > s.start and t.launch < s.end]
        )
        for s in layer_spans
    )
    by_stage: dict[int, list[TaskRec]] = defaultdict(list)
    for t in mine:
        by_stage[t.stage].append(t)
    skew = 0.0
    if by_stage:
        heaviest = max(by_stage.values(), key=lambda ts: sum(t.run_s for t in ts))
        med = statistics.median(t.run_s for t in heaviest)
        skew = max(t.run_s for t in heaviest) / med if med > 0 else 1.0
    mb = 1024.0 * 1024.0
    per = max(per, 1)
    return {
        "wall_s": wall / per,
        "jobs": sum(1 for g in log.job_group.values() if g == layer) / per,
        "tasks": len(mine) / per,
        "tasks_failed": sum(t.failed for t in mine) / per,
        "task_cpu_s": sum(t.cpu_s for t in mine) / per,
        "task_run_s": sum(t.run_s for t in mine) / per,
        "driver_idle_s": max(0.0, wall - busy) / per,
        "gc_s": sum(t.gc_s for t in mine) / per,
        "shuffle_write_mb": sum(t.shuffle_write_b for t in mine) / mb / per,
        "shuffle_read_mb": sum(t.shuffle_read_b for t in mine) / mb / per,
        "spill_mb": sum(t.spill_b for t in mine) / mb / per,
        "skew": skew,
    }


LAYER_UNITS = {
    "wall_s": "s",
    "jobs": "count",
    "tasks": "count",
    "tasks_failed": "count",
    "task_cpu_s": "s",
    "task_run_s": "s",
    "driver_idle_s": "s",
    "gc_s": "s",
    "shuffle_write_mb": "MB",
    "shuffle_read_mb": "MB",
    "spill_mb": "MB",
    "skew": "ratio",
}
