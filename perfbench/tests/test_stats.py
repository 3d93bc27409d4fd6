import harness


def test_tail_has_ten_samples_beyond_it():
    value, pct, n = harness.tail(range(1, 101))
    assert (value, pct, n) == (90, 90.0, 100)
    assert sum(x > value for x in range(1, 101)) == 10


def test_tail_of_twenty_samples_is_the_median_rank():
    samples = [5.0, 1.0, 4.0, 2.0, 3.0] * 4
    value, pct, n = harness.tail(samples)
    assert n == 20 and pct == 50.0
    assert value == sorted(samples)[9]


def test_tail_needs_eleven_samples():
    assert harness.tail([1.0] * 10) is None
    assert harness.tail(list(range(11)))[:2] == (0, 100.0 / 11)
