"""Pure metric helpers: percentiles, slot idleness, op-failure counting.

Nothing here touches Spark or the engine, so the unit tests in
``perfbench/tests`` exercise these helpers directly.
"""

from __future__ import annotations

import math
import sys
import traceback
from dataclasses import dataclass
from typing import Callable, Sequence, TypeVar

T = TypeVar("T")

# Percentiles the tail metric may report, highest first.
_TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
_MIN_BEYOND = 10


def nearest_rank(samples: Sequence[float], pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``pct``
    percent of the samples at or below it."""
    if not samples:
        raise ValueError("no samples")
    ordered = sorted(samples)
    idx = max(math.ceil(pct / 100.0 * len(ordered)) - 1, 0)
    return ordered[idx]


@dataclass(frozen=True)
class Tail:
    pct: float  # the percentile reported (100.0 means the maximum)
    value: float
    n: int  # sample count the percentile was taken over


def tail_percentile(samples: Sequence[float]) -> Tail:
    """The highest percentile of the ladder that has at least ten samples
    beyond it. With fewer than twenty samples no percentile qualifies, and
    the maximum is returned, marked as percentile 100."""
    n = len(samples)
    if n == 0:
        raise ValueError("no samples")
    for pct in _TAIL_LADDER:
        if n * (1.0 - pct / 100.0) >= _MIN_BEYOND:
            return Tail(pct, nearest_rank(samples, pct), n)
    return Tail(100.0, max(samples), n)


def slot_idle_frac(task_s: float, wall_s: float, slots: int) -> float:
    """1 - busy slot-seconds / available slot-seconds, clamped to [0, 1].
    0 when no wall time was spent (the layer did not run)."""
    if wall_s <= 0.0:
        return 0.0
    return min(max(1.0 - task_s / (wall_s * slots), 0.0), 1.0)


class OpCounter:
    """Counts operations attempted and failed. An exception or a wrong
    result both count as a failure; the traceback or mismatch goes to
    ``log`` (stderr by default) so a failed run explains itself."""

    def __init__(self, log: Callable[[str], None] | None = None):
        self.attempted = 0
        self.failed = 0
        self._log = log or (lambda msg: print(msg, file=sys.stderr, flush=True))

    def run(self, name: str, fn: Callable[[], T]) -> T | None:
        """Call ``fn``; return its result, or None after counting a failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception:  # a benchmark op must not stop the run
            self.failed += 1
            self._log(f"op {name} raised:\n{traceback.format_exc()}")
            return None

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        """Count one correctness comparison."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self._log(f"check {name} failed {detail}".rstrip())
        return ok
