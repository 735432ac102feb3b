"""The tail-percentile rule and the self-time arithmetic."""

import pytest

from perfbench import metrics


def test_tail_has_ten_samples_beyond():
    pct, value, beyond = metrics.tail(list(range(1, 21)))
    assert (pct, value, beyond) == (50.0, 10, 10)
    pct, value, beyond = metrics.tail(list(range(100, 0, -1)))
    assert (pct, value, beyond) == (90.0, 90, 10)


def test_tail_without_enough_samples_is_the_maximum():
    assert metrics.tail([3.0, 1.0, 2.0]) == (100.0, 3.0, 0)
    assert metrics.tail([float(i) for i in range(10)]) == (100.0, 9.0, 0)
    pct, value, beyond = metrics.tail([float(i) for i in range(11)])
    assert (pct, beyond) == (100.0 / 11, 10) and value == 0.0


def test_tail_rejects_no_samples():
    with pytest.raises(ValueError):
        metrics.tail([])


def test_median_pass_rate_is_the_median_over_passes():
    # pass 2 was slowed; per pass: 4/2, 4/8, 4/1.6 items per second
    ops = [(1, 2, 1.0), (1, 2, 1.0), (2, 2, 4.0), (2, 2, 4.0), (3, 4, 1.6)]
    assert metrics.median_pass_rate(ops) == pytest.approx(2.0)
    assert metrics.median_pass_rate([(5, 30, 3.0)]) == pytest.approx(10.0)
    with pytest.raises(ValueError):
        metrics.median_pass_rate([])


def _span(sid, parent, start, end):
    return {"id": sid, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_children():
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 1.0, 3.0), _span(2, 0, 5.0, 6.0),
             _span(3, 1, 1.5, 2.0)]
    st = metrics.self_times(spans)
    assert st == {0: 7.0, 1: 1.5, 2: 1.0, 3: 0.5}


def test_self_time_counts_overlapping_children_once():
    # two children on other threads overlap each other
    spans = [_span(0, None, 0.0, 10.0), _span(1, 0, 2.0, 6.0), _span(2, 0, 4.0, 8.0)]
    assert metrics.self_times(spans)[0] == pytest.approx(4.0)


def test_self_time_clips_children_to_the_parent():
    spans = [_span(0, None, 0.0, 4.0), _span(1, 0, 3.0, 9.0)]
    assert metrics.self_times(spans)[0] == pytest.approx(3.0)
