"""Summary statistics the benchmark reports.

Timings are reported as a median plus every higher percentile that has
at least `MIN_TAIL` samples beyond it, so a p90 needs 100 samples and a
p99 needs 1000. Run-to-run spread is the interquartile range as a share
of the median, computed with `statistics.quantiles(values, n=4)`.
"""

from __future__ import annotations

import statistics

MIN_TAIL = 10
TAIL_PERCENTILES = (90, 99, 99.9)


def median(values: list[float]) -> float | None:
    return statistics.median(values) if values else None


def reportable_percentiles(n: int) -> list[float]:
    """Percentiles a sample of `n` timings may report: the median, plus
    each tail percentile with at least MIN_TAIL samples beyond it."""
    if n < 1:
        return []
    out: list[float] = [50]
    for p in TAIL_PERCENTILES:
        # samples strictly beyond the p-th percentile: n * (1 - p/100)
        if n * (100 - p) >= MIN_TAIL * 100 - 1e-9:
            out.append(p)
    return out


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile (p in (0, 100]) — a value that was
    actually measured, never an interpolation."""
    if not values:
        raise ValueError("percentile of an empty sample")
    s = sorted(values)
    rank = -(-p * len(s) // 100)  # ceil(p * n / 100)
    return s[max(int(rank), 1) - 1]


def timing_summary(values: list[float]) -> dict:
    """{'n': count, 'p50': median, 'p90': ... only where reportable}."""
    out: dict = {"n": len(values)}
    for p in reportable_percentiles(len(values)):
        key = f"p{p:g}".replace(".", "_")
        out[key] = median(values) if p == 50 else percentile(values, p)
    return out


def iqr_share(values: list[float]) -> float | None:
    """(Q3 - Q1) / median, quartiles as statistics.quantiles(n=4) gives
    them; None when fewer than two values or a zero median."""
    if len(values) < 2:
        return None
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    if med == 0:
        return None
    return (q3 - q1) / abs(med)


def interval_union(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of [start, end] intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clipped_union(
    intervals: list[tuple[float, float]], lo: float, hi: float
) -> float:
    """Length of [lo, hi] covered by the intervals."""
    return interval_union(
        [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]
    )
