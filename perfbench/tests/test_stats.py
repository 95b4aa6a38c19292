import math

import pytest
import stats


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    values = [float(v) for v in range(1, 101)]
    pct, value = stats.tail(list(reversed(values)))
    assert (pct, value) == (90.0, 90.0)
    assert sum(v > value for v in values) == 10


def test_tail_needs_enough_samples_to_sit_above_the_median():
    assert stats.tail([1.0] * 20) is None
    pct, value = stats.tail([float(v) for v in range(21)])
    assert value == 10.0 and pct == pytest.approx(100 * 11 / 21)


def test_geomean():
    assert stats.geomean([2.0, 8.0]) == pytest.approx(4.0)
    assert stats.geomean([3.0]) == pytest.approx(3.0)
    with pytest.raises(ValueError):
        stats.geomean([1.0, 0.0])


def test_geomean_of_kind_medians_does_not_pool_unlike_kinds():
    from report import OpResult, op_p50

    ops = [OpResult("a", s) for s in (1.0, 1.0, 9.0)] + [OpResult("b", s) for s in (4.0, 4.0)]
    # a pooled median would be 4.0; per-kind medians are 1.0 and 4.0
    assert op_p50(ops) == pytest.approx(math.sqrt(1.0 * 4.0))


def test_error_counting():
    from report import OpResult, summary

    warm = [OpResult("q", 1.0)]
    timed = [OpResult("q", 1.0), OpResult("q", 1.0, error="mismatch"), OpResult("q", 2.0)]
    assert summary(warm, timed) == {"correct": False, "attempted": 3, "failed": 1}
    assert summary(warm, timed[:1]) == {"correct": True, "attempted": 1, "failed": 0}
    bad_warm = [OpResult("q", 1.0, error="differs from its DuckDB oracle")]
    assert summary(bad_warm, timed[:1])["correct"] is False
    assert stats.error_rate(4, 1) == 0.25
    with pytest.raises(ValueError):
        stats.error_rate(0, 0)
