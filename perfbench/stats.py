"""Arithmetic behind the benchmark's metrics, kept apart so it can be tested.

All functions are pure: they take the raw samples the JVM side recorded and
return numbers.
"""
import math
import statistics

import numpy as np

TAIL_BEYOND = 10
HD_GRID = 20000


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_percentile(n, beyond=TAIL_BEYOND):
    """The highest percentile of n samples with at least `beyond` samples
    strictly above it, as (percentile, 0-based rank in sorted order).

    The sample at rank r has n - 1 - r samples above it, so the highest
    qualifying rank is n - 1 - beyond. With n <= beyond no rank qualifies
    and the maximum is used instead (percentile 100, no samples beyond)."""
    if n <= 0:
        raise ValueError("no samples")
    rank = n - 1 - beyond
    if rank < 0:
        return 100.0, n - 1
    return 100.0 * (rank + 1) / n, rank


def hd_quantile(xs, p):
    """Harrell-Davis estimate of the p-quantile of xs: the order statistics
    averaged with Beta((n+1)p, (n+1)(1-p)) weights. Unlike the sample
    quantile it moves smoothly when neighbouring samples trade places,
    which matters when ops of different kinds sit around the quantile (the
    olap entries). Of two samples it is their mean."""
    s = sorted(xs)
    n = len(s)
    if n == 1:
        return float(s[0])
    a, b = (n + 1) * p, (n + 1) * (1 - p)
    if a < 1 or b < 1:
        raise ValueError("quantile too close to 0 or 1 for the sample count")
    x = np.linspace(0.0, 1.0, HD_GRID + 1)
    pdf = np.zeros_like(x)
    pdf[1:-1] = np.exp((a - 1) * np.log(x[1:-1]) + (b - 1) * np.log1p(-x[1:-1]))
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    w = np.diff(np.interp(np.arange(n + 1) / n, x, cdf / cdf[-1]))
    return float(np.dot(w, s))


def p50(xs):
    return hd_quantile(xs, 0.5)


def tail(xs, beyond=TAIL_BEYOND):
    """(value, percentile, n) of the tail latency of xs: the Harrell-Davis
    estimate at the highest percentile with `beyond` samples above it, or
    the maximum when there are too few samples for one."""
    p, rank = tail_percentile(len(xs), beyond)
    v = max(xs) if p == 100.0 else hd_quantile(xs, p / 100.0)
    return v, p, len(xs)


def cycle_costs(latencies, cycle):
    """Sum of op latencies per whole cycle, in order; a trailing partial
    cycle is dropped."""
    n = len(latencies) // cycle
    return [sum(latencies[k * cycle:(k + 1) * cycle]) for k in range(n)]


def quarter_split(xs):
    """(first quarter, last quarter) of xs, each ceil(len/4) long but never
    overlapping; a single sample is both."""
    if not xs:
        raise ValueError("no samples")
    if len(xs) == 1:
        return xs, xs
    q = math.ceil(len(xs) / 4)
    q = min(q, len(xs) // 2)
    return xs[:q], xs[-q:]


def growth(latencies, cycle=1):
    """Median cost over the last quarter of whole cycles divided by the
    median over the first quarter. With cycle 1 a cycle is one op. A
    workload whose ops differ by kind compares whole cycles, so the ratio
    does not depend on which kinds fall into which quarter."""
    costs = cycle_costs(latencies, cycle)
    first, last = quarter_split(costs)
    return median(last) / median(first)


def union_length(intervals):
    """Total length covered by a set of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
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


def driver_time(span_start, span_end, task_intervals):
    """The part of [span_start, span_end) during which none of the span's
    tasks is running: the span's wall time minus the union of its task
    intervals clipped to the span."""
    clipped = [(max(s, span_start), min(e, span_end)) for s, e in task_intervals]
    return (span_end - span_start) - union_length(clipped)


def spread(values):
    """Inter-quartile distance as a share of the median."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)
