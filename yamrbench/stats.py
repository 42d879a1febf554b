"""Statistics helpers for the benchmark: per-query medians, the tail
rank, quartile spread and span self time. Pure Python, no Spark."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10  # samples that must lie above the reported tail


def pass_seconds(samples: dict[str, list[float]]) -> float:
    """``pass_s``: the sum over queries of each query's median latency
    across the timed passes (not the median of pass totals). A query
    with no samples (it raised in every pass) adds nothing; the run
    counts it as failed."""
    return sum(statistics.median(v) for v in samples.values() if v)


def tail(pool: list[float]) -> tuple[float, float, bool]:
    """The highest percentile of ``pool`` with at least ``TAIL_BEYOND``
    samples above it: ``(value, percentile, fell_back)``.

    With ``n`` samples sorted ascending that is the sample at index
    ``n - TAIL_BEYOND - 1``, the ``100 * (n - TAIL_BEYOND) / n``-th
    percentile. A pool of ``TAIL_BEYOND`` samples or fewer has no such
    rank; the maximum is returned and ``fell_back`` is True."""
    if not pool:
        raise ValueError("empty sample pool")
    s = sorted(pool)
    n = len(s)
    if n <= TAIL_BEYOND:
        return s[-1], 100.0, True
    return s[n - TAIL_BEYOND - 1], 100.0 * (n - TAIL_BEYOND) / n, False


def tail_cluster_position(passes: int) -> int:
    """Where the tail falls inside one query's cluster of samples,
    counted from that cluster's top (1 = its slowest sample).

    Every query contributes one sample per pass. When queries' latencies
    are well apart, the sorted pool is a run of ``passes``-sample
    clusters, and the tail (``TAIL_BEYOND + 1``-th from the top) is at
    this position in one of them."""
    return TAIL_BEYOND % passes + 1


def tail_inside_cluster(passes: int) -> bool:
    """True when the tail is neither the slowest nor the fastest sample
    of its cluster. On a cluster's edge the tail would flip between two
    queries' times from run to run."""
    return 1 < tail_cluster_position(passes) < passes


def tail_above_median(n: int) -> bool:
    """True when a pool of ``n`` samples ranks its tail at or above its
    median (the upper middle sample), so ``query_tail_s`` never reads
    below ``query_p50_s``."""
    return n - TAIL_BEYOND - 1 >= n // 2


def tail_owner(samples: dict[str, list[float]], value: float) -> tuple[str, int, int]:
    """``(query, position from the top, cluster size)`` of the sample
    that is the tail ``value``: the run's own check that the tail sits
    inside one query's cluster."""
    for name, vals in samples.items():
        if value in vals:
            s = sorted(vals, reverse=True)
            return name, s.index(value) + 1, len(s)
    raise ValueError(f"{value!r} is not a sample")


def quartile_spread(values: list[float]) -> float:
    """Distance between the first and third quartile as a share of the
    median, with ``statistics.quantiles(values, n=4)``."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / q2


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
    total = 0.0
    end = float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover
    (children clipped to the span; overlaps counted once)."""
    clipped = [(max(a, start), min(b, end)) for a, b in children if b > start and a < end]
    return (end - start) - union_length(clipped)
