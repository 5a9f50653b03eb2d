import itertools

import pytest

from stats import (OpLog, host_adjusted, median, percentile, settled,
                   summarize, supported_percentile)


def test_median_odd_even_and_empty():
    assert median([3, 1, 2]) == 2
    assert median([4, 1, 3, 2]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_percentile_is_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(xs, 99.9) == 100
    assert percentile([7], 99) == 7


@pytest.mark.parametrize("n, q", [(1, None), (99, None), (100, 90.0),
                                  (199, 90.0), (200, 95.0), (1000, 99.0),
                                  (10000, 99.9)])
def test_supported_percentile_needs_ten_samples_beyond(n, q):
    assert supported_percentile(n) == q


def test_summarize_reports_count_and_supported_percentile():
    assert summarize([1.0, 2.0, 3.0]) == {"p50": 2.0, "n": 3}
    s = summarize([float(i) for i in range(200)])
    assert s["n"] == 200 and s["p50"] == 99.5 and s["p95"] == 189.0


def test_settled_waits_for_the_drift_to_end():
    falling = [4.1, 2.6, 2.2, 1.9]
    assert not settled(falling[:3])             # too few samples to judge
    assert not settled(falling)                 # 2.05 < 0.9 * 3.35
    assert settled(falling + [2.0, 2.1])        # 2.05 >= 0.9 * 2.05
    assert settled([1.0, 1.3, 0.9, 1.2, 0.95, 1.1], window=3)  # noisy, level


def test_oplog_counts_failures_and_keeps_going():
    ticks = itertools.count()
    log = OpLog(clock=lambda: float(next(ticks)))

    def boom():
        raise RuntimeError("injected")

    assert log.run("w", lambda: 5) == (True, 5)
    assert log.run("w", boom) == (False, None)
    assert log.run("r", lambda: None)[0]
    assert log.total_attempted == 3 and log.total_failed == 1
    assert log.failed_ratio() == pytest.approx(1 / 3)
    assert log.completed() == 2
    assert log.latencies["w"] == [1.0]          # only the success is timed
    assert log.busy_seconds() == 2.0


def test_oplog_does_not_swallow_interrupts():
    log = OpLog()

    def stop():
        raise KeyboardInterrupt

    with pytest.raises(KeyboardInterrupt):
        log.run("w", stop)



def test_host_adjusted_scales_by_the_probe_read_after_each_sample():
    # a probe twice the reference halves the duration
    assert host_adjusted([2.0, 3.0], [0.4, 0.2], 0.2) == pytest.approx([1.0, 3.0])
    with pytest.raises(ValueError):
        host_adjusted([1.0], [], 0.2)
