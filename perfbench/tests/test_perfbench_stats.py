import pytest

from perfbench.stats import percentile, summarize, tail_percentile


@pytest.mark.parametrize(
    "n,want",
    [(1, None), (10, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0),
     (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert tail_percentile(n) == want


def test_tail_percentile_rule_holds_by_count():
    for n in range(1, 400):
        p = tail_percentile(n)
        if p is None:
            continue
        xs = list(range(n))
        assert sum(1 for x in xs if x > percentile(xs, p)) >= 10


def test_percentile_nearest_rank():
    xs = [5, 1, 4, 2, 3]
    assert percentile(xs, 50) == 3
    assert percentile(xs, 100) == 5
    assert percentile(xs, 1) == 1


def test_summarize_reports_n_median_and_tail():
    s = summarize([float(i) for i in range(1, 41)])
    assert s["n"] == 40 and s["median"] == 20.5
    assert s["tail"] == {"p": 75.0, "value": 30.0}
    assert summarize([1.0, 2.0])["tail"] is None
