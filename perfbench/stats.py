"""Order statistics for the benchmark's timings, and the host CPU counters
that take the time the hypervisor stole out of them."""

from __future__ import annotations

import math
import statistics

# Candidate tail percentiles, highest first.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0)
TAIL_MIN_BEYOND = 10


def percentile(values: list[float], pct: float) -> float:
    """Nearest-rank percentile of a non-empty sample."""
    ordered = sorted(values)
    rank = max(1, math.ceil(pct / 100.0 * len(ordered)))
    return ordered[rank - 1]


def median(values: list[float]) -> float:
    return statistics.median(values)


def tail(values: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest ladder percentile that leaves at
    least ``TAIL_MIN_BEYOND`` samples above its rank, or None when the
    sample is too small for any of them."""
    n = len(values)
    for pct in TAIL_LADDER:
        rank = max(1, math.ceil(pct / 100.0 * n))
        if n - rank >= TAIL_MIN_BEYOND:
            return pct, percentile(values, pct)
    return None


def summary(values: list[float]) -> dict:
    """Median, tail and sample count, as the report prints them."""
    if not values:
        return {"n": 0, "p50": None, "tail_pct": None, "tail": None}
    t = tail(values)
    return {
        "n": len(values),
        "p50": median(values),
        "tail_pct": t[0] if t else None,
        "tail": t[1] if t else None,
    }


def cpu_jiffies() -> tuple[int, int]:
    """(busy, stolen) clock ticks of all CPUs so far, from ``/proc/stat``.
    Steal is time a virtual CPU had work but the hypervisor ran something
    else."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7]


def unstolen(seconds: float, busy: int, steal: int) -> float:
    """``seconds`` of wall time less the share the hypervisor stole: of the
    CPU time the machine's work asked for in that interval, ``busy`` ticks
    ran and ``steal`` ticks waited for another tenant of the host."""
    return seconds * busy / (busy + steal) if busy + steal else seconds
