import pytest

from xspbench.stats import nearest_rank, tail


@pytest.mark.parametrize("n,label", [
    (1, "max"), (19, "max"), (20, "p50"), (39, "p50"), (40, "p75"),
    (99, "p75"), (100, "p90"), (199, "p90"), (200, "p95"), (999, "p95"),
    (1000, "p99"), (10_000, "p99.9"),
])
def test_tail_is_highest_percentile_with_ten_beyond(n, label):
    values = list(range(1, n + 1))
    got, value = tail(values)
    assert got == label
    if label == "max":
        assert value == n
    else:
        # exactly the samples above the reported value are "beyond" it
        assert sum(v > value for v in values) >= 10


def test_tail_counts_beyond_by_rank_not_by_value():
    # ties: 30 equal samples and 10 larger ones -> p75 still has 10 beyond
    values = [5.0] * 30 + [9.0] * 10
    assert tail(values) == ("p75", 5.0)


def test_tail_rejects_empty():
    with pytest.raises(ValueError):
        tail([])


def test_nearest_rank():
    xs = [4, 1, 3, 2]
    assert nearest_rank(xs, 500) == 2
    assert nearest_rank(xs, 750) == 3
    assert nearest_rank(xs, 1000) == 4
    assert nearest_rank(xs, 10) == 1
