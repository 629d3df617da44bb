"""Summary statistics of one run's timed operations."""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10


def tail(values: list[float]) -> tuple[float, float, int]:
    """The highest percentile with at least ``TAIL_BEYOND`` samples beyond
    it, by nearest rank: (value, percentile, samples beyond it).  With
    ``n`` samples that is the ``TAIL_BEYOND + 1``-th largest, the
    ``100 * (n - 10) / n``-th percentile; with too few samples, the
    smallest."""
    n = len(values)
    k = max(1, n - TAIL_BEYOND)
    return sorted(values)[k - 1], 100.0 * k / n, n - k


def drift(values: list[float]) -> float:
    """Median of the second half of the timed ops relative to the first
    half's; near 0 when the window sits on a plateau."""
    h = len(values) // 2
    first = statistics.median(values[:h])
    return statistics.median(values[h:]) / first - 1.0


def summarize(latencies_ms: list[float], work: list[int],
              cpu_ms: list[float]) -> dict:
    value, pct, beyond = tail(latencies_ms)
    return {
        "latency_p50_ms": statistics.median(latencies_ms),
        "cpu_ms_per_op": statistics.median(cpu_ms),
        "latency_tail_ms": value,
        "tail_percentile": pct,
        "tail_beyond": beyond,
        "samples": len(latencies_ms),
        "throughput_per_s": sum(work) / (sum(latencies_ms) / 1000.0),
        "drift": drift(latencies_ms),
    }
