import agg
import pytest


def test_pass_total_sums_per_query_medians():
    per_q = {"a": [1.0, 3.0, 2.0], "b": [10.0, 0.5, 0.7]}
    assert agg.pass_total(per_q) == pytest.approx(2.0 + 0.7)


def test_pass_total_ignores_one_slow_pass():
    assert agg.pass_total({"a": [1.0, 1.0, 9.0]}) == 1.0


def test_spread_is_iqr_over_median():
    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0]
    import statistics

    q1, q2, q3 = statistics.quantiles(vals, n=4)
    assert agg.spread(vals) == pytest.approx((q3 - q1) / q2)
    assert agg.spread([2.0] * 10) == 0.0


def test_worse_by_respects_direction():
    assert agg.worse_by(10.0, 11.0, "lower") == pytest.approx(0.1)
    assert agg.worse_by(10.0, 11.0, "higher") == pytest.approx(-0.1)
    assert agg.worse_by(10.0, 9.0, "higher") == pytest.approx(0.1)
