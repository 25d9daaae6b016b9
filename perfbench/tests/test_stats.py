"""The tail rule: the highest ladder percentile with at least ten samples
beyond it, else the median."""

import pytest

from perfbench.harness import median, nearest_rank, tail


def test_nearest_rank_counts_samples_beyond():
    s = list(range(1, 101))
    assert nearest_rank(s, 90.0) == (90, 10)
    assert nearest_rank(s, 50.0) == (50, 50)
    assert nearest_rank([7], 99.0) == (7, 0)


@pytest.mark.parametrize(
    "n, pct, beyond",
    [
        (200, 95.0, 10),  # p99 would leave 2
        (199, 90.0, 19),  # p95 would leave 9
        (100, 90.0, 10),
        (99, 75.0, 24),  # p90 would leave 9
        (40, 75.0, 10),
    ],
)
def test_tail_picks_highest_percentile_with_ten_beyond(n, pct, beyond):
    values = [float(v) for v in range(1, n + 1)]
    t = tail(values)
    assert (t.pct, t.beyond, t.samples) == (pct, beyond, n)
    assert sum(v > t.value for v in values) == t.beyond


def test_tail_is_order_insensitive():
    values = [float(v) for v in range(100, 0, -1)]
    assert tail(values).value == 90.0


def test_tail_falls_back_to_median_below_forty_samples():
    values = [float(v) for v in range(1, 40)]
    t = tail(values)
    assert (t.pct, t.value, t.beyond) == (50.0, median(values), 19)


def test_tail_reports_how_thin_a_small_sample_is():
    t = tail([float(v) for v in range(1, 16)])
    assert (t.pct, t.beyond, t.samples) == (50.0, 7, 15)


def test_tail_never_below_median():
    for n in range(1, 120):
        values = [float((v * 37) % 101) for v in range(n)]
        assert tail(values).value >= median(values)


def test_tail_of_nothing_is_an_error():
    with pytest.raises(ValueError):
        tail([])
