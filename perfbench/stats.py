"""Pure helpers of the benchmark: percentiles, span self time, metric
names and the seeded input generators' shared primitives.

Nothing here touches Spark, so the unit tests in ``test_perfbench.py``
run without a session.
"""

from __future__ import annotations

import math
import re
import statistics
from collections.abc import Iterable, Sequence

# Percentile ladder for tail latency. A tail is reported at the highest
# rung that still has at least TAIL_BEYOND samples above it, so a short
# run never reports a percentile its sample count cannot support.
TAIL_LADDER = (50.0, 75.0, 90.0, 95.0, 99.0, 99.9)
TAIL_BEYOND = 10

_NAME_RE = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")


def valid_metric_name(name: str) -> bool:
    """Metric names: a letter or digit, then at most 63 more of
    ``[A-Za-z0-9_.-]``."""
    return bool(_NAME_RE.fullmatch(name))


def _rank(q: float, n: int) -> int:
    """Nearest rank of percentile ``q`` among ``n`` samples; rounding
    first keeps 99.9% of 10,000 at rank 9,990, not 9,991."""
    return max(1, math.ceil(round(q / 100.0 * n, 9)))


def percentile(values: Sequence[float], q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty sample.

    Nearest rank returns an observed value, so a bimodal latency mix
    (plain vs dead-lettering publishes) never reports a latency that
    lies between the two modes."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    return s[_rank(q, len(s)) - 1]


def tail_level(n: int, beyond: int = TAIL_BEYOND) -> float | None:
    """Highest ladder percentile with at least ``beyond`` of ``n``
    samples above it, or None when even the median lacks them."""
    best = None
    for q in TAIL_LADDER:
        if n - _rank(q, n) >= beyond:
            best = q
    return best


def median(values: Iterable[float]) -> float:
    vals = list(values)
    if not vals:
        raise ValueError("median of an empty sample")
    return statistics.median(vals)


def self_time(span: tuple[float, float], children: Iterable[tuple[float, float]]) -> float:
    """Span duration minus the part of it its children cover.

    Children may overlap each other or stick out of the parent; only
    the union of their intervals clipped to the parent is subtracted."""
    start, end = span
    clipped = sorted(
        (max(start, a), min(end, b)) for a, b in children if b > start and a < end
    )
    covered = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return (end - start) - covered


def seeded_positions(rng, n: int, counts: dict[str, int]) -> list[str]:
    """A shuffled list of ``n`` kinds with exactly ``counts[k]`` of each
    named kind (the rest ``"default"``). Fixed counts per round keep
    the latency mix, and so its percentiles, the same across seeds;
    the seed only moves which positions get which kind."""
    fixed = sum(counts.values())
    if fixed > n:
        raise ValueError(f"kind counts {counts} exceed {n} positions")
    kinds = ["default"] * (n - fixed)
    for k, c in counts.items():
        kinds += [k] * c
    rng.shuffle(kinds)
    return kinds
