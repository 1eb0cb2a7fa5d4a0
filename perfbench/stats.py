"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics

#: op_tail_s is the highest order statistic with this many samples beyond it
TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def op_gmean(samples: list[dict]) -> float:
    """Typical latency of an op: each op's median over its samples (dicts
    with ``op`` and ``s``), then the geometric mean over ops, as TPC-H's
    power metric summarises its queries. Every op weighs the same, and
    the noise of single ops averages out, where a median over ops or
    over the pooled samples is whichever op happens to sit in the
    middle, and jumps between ops."""
    by_op: dict[str, list[float]] = {}
    for s in samples:
        by_op.setdefault(s["op"], []).append(s["s"])
    if not by_op:
        raise ValueError("no samples")
    return math.exp(statistics.fmean(math.log(median(v)) for v in by_op.values()))


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile of ``values`` that still has ``TAIL_BEYOND``
    samples above it, as ``(value, percentile)``.

    With ``n`` samples sorted ascending that is the sample at index
    ``n - TAIL_BEYOND - 1``; ``percentile`` is the share of samples at or
    below it, in percent. Fewer than ``TAIL_BEYOND + 1`` samples have no
    such percentile and raise."""
    n = len(values)
    if n <= TAIL_BEYOND:
        raise ValueError(f"{n} samples: a tail needs more than {TAIL_BEYOND}")
    ordered = sorted(values)
    return float(ordered[n - TAIL_BEYOND - 1]), 100.0 * (n - TAIL_BEYOND) / n


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median (``statistics.quantiles(values, n=4)``)."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2
