import pytest

from perfbench.stats import beyond, percentile, summarize, tail, union_length


@pytest.mark.parametrize(
    "n, top_pct",
    [
        (0, None),
        (19, None),
        (20, 50.0),
        (39, 50.0),
        (40, 75.0),
        (99, 75.0),
        (100, 90.0),
        (199, 90.0),
        (200, 95.0),
        (999, 95.0),
        (1000, 99.0),
        (9999, 99.0),
        (10000, 99.9),
    ],
)
def test_top_percentile_needs_ten_samples_beyond(n, top_pct):
    s = summarize(range(1, n + 1))
    assert s["n"] == n
    assert s["top_pct"] == top_pct
    if top_pct is not None:
        assert beyond(n, s["top_pct"]) >= 10
        assert sum(1 for v in range(1, n + 1) if v > s["top"]) >= 10


@pytest.mark.parametrize(
    "n, pct", [(5, 50.0), (19, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0), (5000, 90.0)]
)
def test_tail_is_capped_at_p90_and_falls_back_to_p50(n, pct):
    xs = list(range(1, n + 1))
    assert tail(xs) == (pct, percentile(xs, pct))


def test_nearest_rank_values():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 90) == 90
    assert percentile(xs, "99.9") == 100
    assert percentile([7], 50) == 7
    assert summarize(range(1, 21))["p50"] == 10


def test_union_length():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0
