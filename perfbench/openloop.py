"""Open-loop arrival schedule and micro-batch loop for the stream workload.

Conversation ``i`` is due at ``start + i / rate``: the schedule is a pure
function of wall time, so it never slows down when the engine does. Each
micro-batch absorbs every conversation that is due when it starts; a
conversation's freshness is the return time of the batch that absorbed it
minus its due time, so a stall is charged to every conversation that
waited behind it.
"""

from __future__ import annotations

import math
import time
from collections.abc import Callable
from dataclasses import dataclass, field


@dataclass(frozen=True)
class ArrivalSchedule:
    rate: float  # conversations per second
    total: int  # conversations offered over the run

    def due(self, i: int) -> float:
        """Offset in seconds of conversation ``i`` from the start of the run."""
        return i / self.rate

    def arrived_by(self, offset: float) -> int:
        """Number of conversations due at or before ``offset``."""
        if offset < 0:
            return 0
        return min(self.total, math.floor(offset * self.rate) + 1)


@dataclass
class BatchRecord:
    lo: int  # first conversation absorbed
    hi: int  # one past the last
    start: float  # offsets from the run start, seconds
    end: float
    backlog: int  # conversations due but not absorbed when the batch started
    error: str | None = None


@dataclass
class OpenLoopResult:
    batches: list[BatchRecord] = field(default_factory=list)
    freshness: list[float] = field(default_factory=list)  # one per absorbed conversation
    failed: int = 0  # conversations whose batch raised
    generator_lag_s: float = 0.0  # worst oversleep past a due time while idle
    wall_s: float = 0.0


def run_open_loop(
    schedule: ArrivalSchedule,
    process: Callable[[int, int, int], None],
    clock: Callable[[], float] = time.perf_counter,
    sleep: Callable[[float], None] = time.sleep,
) -> OpenLoopResult:
    """Absorb ``schedule.total`` conversations with ``process(batch, lo, hi)``.

    A batch that raises counts its conversations as failed (no freshness
    sample) and the loop goes on with the next due conversations."""
    out = OpenLoopResult()
    t0 = clock()
    absorbed = 0
    while absorbed < schedule.total:
        now = clock() - t0
        due = schedule.arrived_by(now)
        if due == absorbed:
            wake = schedule.due(absorbed)
            sleep(max(0.0, wake - now))
            now = clock() - t0
            out.generator_lag_s = max(out.generator_lag_s, now - wake)
            due = schedule.arrived_by(now)
        rec = BatchRecord(lo=absorbed, hi=due, start=now, end=now, backlog=due - absorbed)
        try:
            process(len(out.batches), absorbed, due)
        except Exception as exc:  # a failed batch is a failed operation, not a crash
            rec.error = f"{type(exc).__name__}: {exc}"
        rec.end = clock() - t0
        if rec.error is None:
            out.freshness.extend(rec.end - schedule.due(i) for i in range(absorbed, due))
        else:
            out.failed += due - absorbed
        out.batches.append(rec)
        absorbed = due
    out.wall_s = clock() - t0
    return out
