import pytest

import summary


@pytest.mark.parametrize(
    "n, p, beyond",
    [
        (10_000, 99.9, 10),
        (1_000, 99.0, 10),
        (200, 95.0, 10),
        (100, 90.0, 10),
    ],
)
def test_tail_is_highest_percentile_with_ten_beyond(n, p, beyond):
    assert summary.tail_percentile(n) == p
    assert summary.beyond(n, p) == beyond
    higher = [q for q in summary.TAIL_LADDER if q > p]
    assert all(summary.beyond(n, q) < 10 for q in higher)


@pytest.mark.parametrize("n", [99, 50, 20, 15, 3, 1])
def test_tail_stays_at_the_floor_below_a_hundred_samples(n):
    assert summary.tail_percentile(n) == 90.0
    assert summary.tail(list(range(n)))["beyond"] < summary.TAIL_MIN_BEYOND


def test_tail_record_states_percentile_and_count():
    t = summary.tail([float(i) for i in range(1, 101)])
    assert t == {"value": pytest.approx(90.1), "percentile": 90.0, "samples": 100, "beyond": 10}


def test_percentile_interpolates_between_ranks():
    xs = [4.0, 1.0, 3.0, 2.0]
    assert summary.percentile(xs, 0) == 1.0
    assert summary.percentile(xs, 50) == 2.5
    assert summary.percentile(xs, 100) == 4.0
    assert summary.percentile([7.0], 99) == 7.0

