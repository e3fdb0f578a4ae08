"""The tail rule: a percentile is reported only with ten samples beyond it."""

from perfbench.stats import tail


def test_p90_needs_one_hundred_samples():
    assert tail(list(range(100))) == (90.0, 89)
    pct, value = tail(list(range(99)))
    assert pct < 90
    assert sum(v > value for v in range(99)) >= 10


def test_small_samples_fall_back_to_a_supported_percentile():
    for n in (11, 20, 50, 75):
        pct, value = tail([float(i) for i in range(n)])
        assert sum(v > value for v in range(n)) >= 10
        # the next rank up would leave fewer than ten beyond it
        assert sum(v > value + 1 for v in range(n)) < 10


def test_ten_or_fewer_samples_have_no_tail():
    assert tail([1.0] * 10) is None
    assert tail([]) is None
