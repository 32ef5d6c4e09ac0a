"""Pure helpers shared by the benchmark: medians, percentile support,
order-insensitive fingerprints, span self-time and failure accounting.

Nothing here touches Spark, so ``perfbench/tests`` can pin every rule the
reported numbers depend on.
"""

from __future__ import annotations

import hashlib
import statistics
from dataclasses import dataclass
from typing import Iterable

_MASK64 = (1 << 64) - 1


def median(values: Iterable[float]) -> float:
    vals = list(values)
    if not vals:
        raise ValueError("median of no samples")
    return float(statistics.median(vals))


def supported_percentile(n: int, candidates=(50.0, 90.0, 99.0, 99.9)) -> float | None:
    """Highest candidate percentile with at least ten of ``n`` samples
    beyond it, or None when even the median lacks that support."""
    best = None
    for p in candidates:
        if n * (100.0 - p) >= 1000.0 - 1e-6:  # n·(1 − p/100) ≥ 10, float-safe
            best = p
    return best


def fingerprint(keys: Iterable[tuple]) -> tuple[int, str]:
    """(count, order-insensitive digest) of a multiset of row keys: the
    per-row 64-bit BLAKE2b values are summed modulo 2**64, so row order and
    partitioning never change the result while any added, dropped or
    altered row does."""
    n = 0
    acc = 0
    for key in keys:
        raw = "\x1f".join(str(k) for k in key).encode("utf-8")
        acc = (acc + int.from_bytes(hashlib.blake2b(raw, digest_size=8).digest(), "big")) & _MASK64
        n += 1
    return n, f"{acc:016x}"


def self_times(spans: dict[str, float], parents: dict[str, str | None]) -> dict[str, float]:
    """Self time of each cumulative-prefix span: its duration minus the
    span of the prefix it extends (``parents[name]``, None for a root).
    Not clamped: a layer that costs less than the timing noise reads near
    zero, on either side, rather than exactly zero."""
    out = {}
    for name, dur in spans.items():
        parent = parents.get(name)
        out[name] = dur - (spans[parent] if parent else 0.0)
    return out


@dataclass
class Tally:
    """Attempted/failed operation accounting. An operation fails when it
    raises or when its output does not match the reference."""

    attempted: int = 0
    failed: int = 0

    def record(self, ok: bool) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1

    @property
    def ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0

    @property
    def correct(self) -> bool:
        return self.attempted > 0 and self.failed == 0
