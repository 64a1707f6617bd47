import statistics

import pytest
from stats import iqr_share, percentile, ratio, union_length


def test_percentile_interpolates_between_ranks():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert percentile(xs, 0) == 1.0
    assert percentile(xs, 100) == 4.0
    assert percentile(xs, 50) == 2.5
    assert percentile(xs, 90) == pytest.approx(3.7)


def test_percentile_single_value_and_empty():
    assert percentile([7.0], 90) == 7.0
    with pytest.raises(ValueError):
        percentile([], 50)


def test_ratio_guards_zero_denominator():
    assert ratio(3, 4) == 0.75
    assert ratio(5, 0) == 0.0


def test_iqr_share_matches_statistics_quantiles():
    vals = [10.0, 11.0, 9.5, 10.4, 12.0, 10.1, 9.9, 10.7, 11.2, 10.0]
    q1, med, q3 = statistics.quantiles(vals, n=4)
    assert iqr_share(vals) == pytest.approx((q3 - q1) / med)


def test_union_length_merges_overlaps_and_clips():
    spans = [(0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (9.0, 12.0)]
    assert union_length(spans, 0.0, 10.0) == pytest.approx(3.0 + 1.0 + 1.0)
    assert union_length(spans, 2.5, 5.5) == pytest.approx(0.5 + 0.5)
    assert union_length([], 0.0, 1.0) == 0.0
