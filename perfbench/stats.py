"""Percentile, tail and ratio arithmetic used by the reports."""

from __future__ import annotations

import math
import statistics


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile, q in [0, 100] (numpy's default
    'linear' method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(n: int, beyond: int = 10) -> float:
    """The highest percentile that still leaves at least ``beyond``
    samples above it in a sample of ``n``, never below the median: with
    n samples, percentile 100 * (n - beyond) / n has exactly ``beyond``
    samples beyond it."""
    if n <= 0:
        raise ValueError("tail percentile of an empty sample")
    return max(50.0, 100.0 * (n - beyond) / n)


def kind_medians(samples) -> dict:
    """{kind: (count, median)} of (kind, value) pairs."""
    by_kind: dict = {}
    for kind, v in samples:
        by_kind.setdefault(kind, []).append(v)
    return {k: (len(v), statistics.median(v)) for k, v in sorted(by_kind.items())}


def geomean(values) -> float:
    xs = list(values)
    if not xs:
        raise ValueError("geometric mean of an empty sample")
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def ratio(num: float, den: float) -> float:
    """num / den, 0.0 for an empty base."""
    return num / den if den else 0.0


def hit_ratio(server_hits: int, urls_needed: int) -> float:
    """1 - (requests that reached the server / URLs the requests
    needed): 0 when every URL was fetched, 1 when all came from cache."""
    return 1.0 - ratio(server_hits, urls_needed) if urls_needed else 0.0


def self_time(start: float, end: float, children) -> float:
    """A span's duration minus the part of it its children cover;
    overlapping children are counted once."""
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in children):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return max(0.0, (end - start) - covered)
