"""Sample summaries and failure accounting for the benchmark.

Pure Python, no Spark: the unit tests import this module on its own.
"""

from __future__ import annotations

import math
import sys
import time
import traceback
from collections import defaultdict

#: percentiles a latency summary may report, lowest first
PERCENTILES = (90.0, 95.0, 99.0, 99.9)


def median(xs):
    """Median of a non-empty sequence (mean of the middle two when even)."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        raise ValueError("median of no samples")
    mid = n // 2
    return s[mid] if n % 2 else (s[mid - 1] + s[mid]) / 2


def percentile(xs, q):
    """Nearest-rank percentile ``q`` (0 < q <= 100) of a non-empty sequence."""
    s = sorted(xs)
    if not s:
        raise ValueError("percentile of no samples")
    rank = max(1, math.ceil(q / 100.0 * len(s)))
    return s[rank - 1]


def supported_percentile(n, min_beyond=10):
    """Highest percentile in PERCENTILES with at least ``min_beyond`` of
    ``n`` samples above it, or None when the sample is too small for any."""
    best = None
    for q in PERCENTILES:
        if n * (1 - q / 100.0) >= min_beyond - 1e-9:
            best = q
    return best


def summarize(xs):
    """{"p50", "n"} plus the highest percentile the sample supports."""
    out = {"p50": median(xs), "n": len(xs)}
    q = supported_percentile(len(xs))
    if q is not None:
        out[f"p{q:g}"] = percentile(xs, q)
    return out


def settled(xs, window=2, tol=0.1):
    """True when latencies ``xs`` have stopped falling: the median of the
    last ``window`` samples is at least (1 - ``tol``) times the median of
    the ``window`` before them. JVM warm-up shows as a downward drift over
    the first operations; a noisy but level series counts as settled."""
    if len(xs) < 2 * window:
        return False
    return median(xs[-window:]) >= (1 - tol) * median(xs[-2 * window:-window])


def host_adjusted(seconds, probe_s, ref_s):
    """Scale each duration in ``seconds`` by ``ref_s`` over the host-speed
    probe read right after it (``probe_s``, same order): the duration the
    host would have taken at the speed it ran the probe in ``ref_s``."""
    if len(seconds) != len(probe_s):
        raise ValueError(f"{len(seconds)} durations, {len(probe_s)} probes")
    return [t * ref_s / p for t, p in zip(seconds, probe_s)]


class OpLog:
    """Runs timed operations and records latency or failure per kind.

    A failed operation is counted against its kind and the loop goes on;
    its traceback goes to stderr so a run's output still parses.
    """

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.latencies = defaultdict(list)
        self.attempted = defaultdict(int)
        self.failed = defaultdict(int)

    def run(self, kind, fn, *args, **kwargs):
        """Time ``fn``; return (ok, result). Exceptions count as failures."""
        self.attempted[kind] += 1
        t0 = self.clock()
        try:
            result = fn(*args, **kwargs)
        except Exception:
            self.failed[kind] += 1
            print(f"operation {kind} failed:", file=sys.stderr)
            traceback.print_exc()
            return False, None
        self.latencies[kind].append(self.clock() - t0)
        return True, result

    @property
    def total_attempted(self):
        return sum(self.attempted.values())

    @property
    def total_failed(self):
        return sum(self.failed.values())

    def failed_ratio(self):
        n = self.total_attempted
        return self.total_failed / n if n else 0.0

    def busy_seconds(self):
        """Summed duration of the operations that completed."""
        return sum(sum(v) for v in self.latencies.values())

    def completed(self):
        return sum(len(v) for v in self.latencies.values())
