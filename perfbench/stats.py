"""Latency statistics and failure accounting for the closed loop."""

from __future__ import annotations

import math
import statistics
from dataclasses import dataclass, field

#: a tail percentile must leave at least this many samples beyond it
TAIL_BEYOND = 10

#: stands in for a latency figure that failed ops made unmeasurable, so
#: the printed result stays valid JSON
UNMEASURED_MS = 1e9


def tail(samples: list[float]) -> "tuple[float, float, int] | None":
    """The highest nearest-rank percentile with at least ``TAIL_BEYOND``
    samples above it: ``(value, percentile, n)``, or None when there are too
    few samples to have one."""
    n = len(samples)
    rank = n - TAIL_BEYOND  # 1-based nearest rank
    if rank < 1:
        return None
    return sorted(samples)[rank - 1], 100.0 * rank / n, n


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def finite_ms(v: float) -> float:
    return v if math.isfinite(v) else UNMEASURED_MS


@dataclass
class OpLog:
    """Every timed op of one run: kind, latency, outcome, work items.

    A failed op (it raised, or its output failed an oracle check) counts
    as attempted and failed, and its latency as infinite, so it misses
    every latency figure instead of vanishing from them."""

    kinds: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    items: float = 0.0
    busy_s: float = 0.0
    failures: list[str] = field(default_factory=list)

    def record(self, kind: str, seconds: float, ok: bool, items: float = 1.0,
               why: str = "") -> None:
        self.attempted += 1
        self.busy_s += seconds
        if ok:
            self.items += items
            self.kinds.setdefault(kind, []).append(seconds * 1e3)
        else:
            self.failed += 1
            self.kinds.setdefault(kind, []).append(math.inf)
            self.failures.append(f"{kind}: {why}"[:300])

    def p50_ms(self, kind: str) -> float:
        return statistics.median(self.kinds[kind])

    def op_p50_ms(self) -> float:
        """Geometric mean over op kinds of each kind's median latency, so
        every kind weighs the same whatever its share of the loop."""
        return finite_ms(geomean([self.p50_ms(k) for k in sorted(self.kinds)]))

    def throughput(self) -> float:
        """Work items completed per second of timed op wall time."""
        return self.items / self.busy_s

    def summary(self) -> dict:
        out = {}
        for k in sorted(self.kinds):
            s = self.kinds[k]
            t = tail(s)
            out[k] = {
                "n": len(s),
                "samples_ms": [round(finite_ms(v), 3) for v in s],
                "p50_ms": finite_ms(self.p50_ms(k)),
                "tail_ms": None if t is None else finite_ms(t[0]),
                "tail_pct": None if t is None else round(t[1], 2),
            }
        return out
