"""Summary statistics and name rules of the service benchmark.

Pure Python, no Spark: `test_perfbench.py` checks them on their own.
"""

from __future__ import annotations

import math
import re
import statistics

NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT_RE = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
# a tail percentile is reported only when this many samples lie beyond it
MIN_BEYOND = 10


def valid_name(name: str) -> bool:
    """Metric and workload names: a letter or digit, then at most 63
    letters, digits, `_`, `.` or `-`."""
    return NAME_RE.fullmatch(name) is not None


def valid_unit(unit: str) -> bool:
    return UNIT_RE.fullmatch(unit) is not None


def nearest_rank(values: list[float], q: float) -> tuple[float, int]:
    """The q-th percentile (0 < q <= 100) by nearest rank, and the number
    of samples that lie beyond it."""
    if not values:
        raise ValueError("no samples")
    if not 0 < q <= 100:
        raise ValueError(f"percentile {q} outside (0, 100]")
    ordered = sorted(values)
    rank = max(1, math.ceil(q / 100 * len(ordered)))
    return ordered[rank - 1], len(ordered) - rank


def tail(values: list[float], q: float = 90) -> float | None:
    """The q-th percentile, or None when fewer than MIN_BEYOND samples
    lie beyond it (too few to say anything about that tail)."""
    if not values:
        return None
    value, beyond = nearest_rank(values, q)
    return value if beyond >= MIN_BEYOND else None


def median(values: list[float]) -> float:
    return statistics.median(values)


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median: the run-to-run spread a bound has to cover."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
