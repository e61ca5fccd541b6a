"""Order statistics and span self time."""

from __future__ import annotations

import pytest

from perfbench import stats
from perfbench.tracer import Span, covered, self_time


@pytest.mark.parametrize("min_above", [1, 10])
@pytest.mark.parametrize("n", [11, 12, 20, 29, 57, 100, 101, 1000])
def test_tail_percentile_leaves_min_above_samples_above(n, min_above):
    p = stats.tail_percentile(n, min_above)
    values = list(range(n))
    above = sum(1 for v in values if v > stats.percentile(values, p))
    assert above >= min_above
    if p < 99:  # the next percentile up would leave fewer above
        assert sum(1 for v in values if v > stats.percentile(values, p + 1)) < min_above


def test_tail_percentile_known_values():
    assert stats.tail_percentile(100, 10) == 90
    assert stats.tail_percentile(1000, 10) == 99
    assert stats.tail_percentile(20, 10) == 50
    assert stats.tail_percentile(10, 1) == 90  # olap_mix: the 2nd slowest of 10
    assert stats.tail_percentile(22, 1) == 95  # serve_mixed: the 2nd slowest of 22


@pytest.mark.parametrize("n,min_above", [(0, 1), (1, 1), (10, 10)])
def test_tail_percentile_needs_more_samples_than_min_above(n, min_above):
    with pytest.raises(ValueError):
        stats.tail_percentile(n, min_above)


def test_percentile_is_nearest_rank():
    v = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.percentile(v, 50) == 3.0
    assert stats.percentile(v, 90) == 5.0
    assert stats.percentile(v, 20) == 1.0


def test_quartile_spread_matches_statistics_quantiles():
    import statistics

    v = [1.0, 2.0, 2.5, 3.0, 10.0, 4.0]
    q1, _, q3 = statistics.quantiles(v, n=4)
    assert stats.quartile_spread(v) == pytest.approx((q3 - q1) / statistics.median(v))


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == pytest.approx(4.0)
    assert covered([(-5, 1), (9, 20)], 0, 10) == pytest.approx(2.0)
    assert covered([], 0, 10) == 0.0


def test_self_time_counts_overlapping_children_once():
    parent = Span("op", start=0.0, end=10.0)
    kids = [Span("a", start=1.0, end=4.0), Span("b", start=3.0, end=6.0),
            Span("c", start=8.0, end=12.0)]  # c runs past its parent
    # children cover [1, 6] and [8, 10]: 7 s of the parent's 10
    assert self_time(parent, kids) == pytest.approx(3.0)


def test_self_time_without_children_is_duration():
    assert self_time(Span("x", start=2.0, end=5.5), []) == pytest.approx(3.5)
