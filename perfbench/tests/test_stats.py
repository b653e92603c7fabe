"""Percentiles with sample counts, warm-up and the /proc sampler."""

import os
import statistics
import time

import pytest

from perfbench import stats


def test_percentile_matches_statistics_quantiles():
    xs = [5.0, 1.0, 4.0, 2.0, 3.0, 9.0, 7.0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    assert stats.percentile(xs, 25) == pytest.approx(q1)
    assert stats.percentile(xs, 50) == pytest.approx(q2)
    assert stats.percentile(xs, 75) == pytest.approx(q3)
    assert stats.percentile(xs, 0) == 1.0
    assert stats.percentile(xs, 100) == 9.0
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize(
    "n, want",
    [(10, None), (39, None), (40, 75.0), (99, 75.0), (100, 90.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_percentile_needs_ten_samples_beyond_it(n, want):
    assert stats.tail_percentile(n) == want


def test_summarize_reports_median_tail_and_count():
    small = stats.summarize([3.0, 1.0, 2.0])
    assert small == {"n": 3, "p50": 2.0, "tail_p": None, "tail": None}
    big = stats.summarize([float(i) for i in range(1, 101)])
    assert big["n"] == 100 and big["p50"] == pytest.approx(50.5)
    assert big["tail_p"] == 90.0 and big["tail"] == pytest.approx(90.1)


def test_warm_until_steady_stops_on_agreement_or_cap():
    seq = iter([10.0, 6.0, 5.0, 4.9, 4.8])
    assert stats.warm_until_steady(lambda: next(seq), 0.1, 10, 1e9) == [10.0, 6.0, 5.0, 4.9]
    seq = iter([10.0, 6.0, 3.0, 1.0])
    assert stats.warm_until_steady(lambda: next(seq), 0.1, 2, 1e9) == [10.0, 6.0]
    seq = iter([10.0, 6.0, 3.0, 1.0])
    assert stats.warm_until_steady(lambda: next(seq), 0.1, 10, 0.0) == [10.0]
    seq = iter([10.0, 6.0, 3.0, 1.0])
    assert stats.warm_until_steady(lambda: next(seq), 0.1, 10, 0.0, min_passes=2) == [10.0, 6.0]


def test_tree_rss_covers_this_process():
    assert stats.tree_rss_bytes(os.getpid()) > 1 << 20
    with stats.RssSampler(os.getpid(), interval_s=0.01) as sampler:
        sampler.sample()
    assert sampler.peak_bytes > 1 << 20


def test_tree_rss_counts_a_just_forked_child_once():
    alone = stats.tree_rss_bytes(os.getpid())
    r, w = os.pipe()
    pid = os.fork()
    if pid == 0:  # the child only signals and waits, allocating nothing
        os.write(w, b"x")
        time.sleep(30)
        os._exit(0)
    try:
        os.read(r, 1)
        with_child = stats.tree_rss_bytes(os.getpid())
    finally:
        os.kill(pid, 9)
        os.waitpid(pid, 0)
        os.close(r)
        os.close(w)
    assert with_child < 1.5 * alone
