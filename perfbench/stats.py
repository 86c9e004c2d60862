"""Pure measurement logic of the benchmark: percentiles with their sample
counts, freshness from a first-seen log, the exactly-once checker and the
result-line schema. No Spark, no sockets: tested in ``perfbench/tests``."""

from __future__ import annotations

import math
import re
from dataclasses import dataclass, field

import numpy as np

METRIC_NAME = re.compile(r"[A-Za-z0-9_.-]+")
# Tail percentiles are reported only when this many samples lie beyond them.
MIN_BEYOND = 10


def validate_metric_name(name: str) -> str:
    """Return ``name`` if it is a legal metric name (letters, digits, ``_``,
    ``.``, ``-``; at most 64 characters, starting with a letter or digit)."""
    if not (0 < len(name) <= 64 and METRIC_NAME.fullmatch(name) and name[0].isalnum()):
        raise ValueError(f"illegal metric name {name!r}")
    return name


@dataclass(frozen=True)
class Percentile:
    q: float  # 0..100
    value: float
    count: int  # samples the percentile was taken over

    @property
    def beyond(self) -> int:
        """Samples strictly above the percentile's rank."""
        return self.count - math.ceil(self.count * self.q / 100)

    @property
    def supported(self) -> bool:
        return self.q <= 50 or self.beyond >= MIN_BEYOND


def percentile(samples, q: float) -> Percentile:
    """Nearest-rank percentile (an observed value, never interpolated)."""
    arr = np.sort(np.asarray(samples, dtype=np.float64))
    if arr.size == 0:
        return Percentile(q, float("nan"), 0)
    rank = max(math.ceil(arr.size * q / 100), 1)
    return Percentile(q, float(arr[rank - 1]), int(arr.size))


def freshness(first_seen: list[tuple[float, np.ndarray]], since: float) -> np.ndarray:
    """Freshness samples from a first-seen log.

    ``first_seen`` holds one ``(t_seen, produced_at)`` entry per read: the
    wall time the read returned and the producer timestamps of the rows
    that read was the first to return. Rows produced before ``since`` (set-up
    traffic) are left out. Returns seconds from production to first sight."""
    parts = [t_seen - produced[produced >= since] for t_seen, produced in first_seen]
    return np.concatenate(parts) if parts else np.empty(0)


@dataclass
class ExactlyOnceChecker:
    """Checks that every read shows each ``(partition, offset)`` at most once
    and shows each partition as one gap-free range, and that ranges only move
    forward between reads (drop-oldest eviction may advance the start, never
    move it back; the end never moves back), never skipping offsets no read
    showed.

    ``observe`` returns the rows of the read that no earlier read showed, as a
    boolean mask, so the caller can log first sightings."""

    failures: list[str] = field(default_factory=list)
    _lo: dict[int, int] = field(default_factory=dict)
    _hi: dict[int, int] = field(default_factory=dict)  # last offset seen

    def observe(self, partitions: np.ndarray, offsets: np.ndarray) -> np.ndarray:
        partitions = np.asarray(partitions, dtype=np.int64)
        offsets = np.asarray(offsets, dtype=np.int64)
        fresh = np.zeros(offsets.size, dtype=bool)
        for p in np.unique(partitions).tolist():
            mask = partitions == p
            offs = offsets[mask]
            lo, hi, n = int(offs.min()), int(offs.max()), offs.size
            if np.unique(offs).size != n:
                self.failures.append(f"partition {p}: duplicate offsets in one read")
            elif hi - lo + 1 != n:
                self.failures.append(f"partition {p}: gap in [{lo}, {hi}] ({n} rows)")
            if p in self._lo and (lo < self._lo[p] or hi < self._hi[p]):
                self.failures.append(
                    f"partition {p}: range [{lo}, {hi}] moved back from "
                    f"[{self._lo[p]}, {self._hi[p]}]"
                )
            if p in self._hi and lo > self._hi[p] + 1:
                # the window skipped past offsets no read ever showed
                self.failures.append(
                    f"partition {p}: offsets {self._hi[p] + 1}..{lo - 1} never visible"
                )
            fresh[mask] = offs > self._hi.get(p, -1)
            self._lo[p] = lo
            self._hi[p] = max(hi, self._hi.get(p, -1))
        return fresh

    def unseen(self, ends: dict[int, int]) -> int:
        """Offsets below each partition's log end ``ends[p]`` that lie past
        the last offset any read showed: produced, but not visible yet."""
        return sum(max(end - 1 - self._hi.get(p, -1), 0) for p, end in ends.items())


def result_line(correct: bool, attempted: int, failed: int, metrics: dict[str, tuple[float, str]]) -> dict:
    """The last stdout line: exactly correct/attempted/failed/metrics. A
    metric without a finite value (no samples) fails the run instead."""
    missing = [k for k, (v, _) in metrics.items() if not math.isfinite(v)]
    if missing:
        raise ValueError(f"no measured value for {missing}")
    return {
        "correct": bool(correct),
        "attempted": max(int(attempted), 1),
        "failed": int(failed),
        "metrics": {
            validate_metric_name(k): {"value": float(v), "unit": u} for k, (v, u) in metrics.items()
        },
    }
