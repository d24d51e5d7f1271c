"""The percentile rule every timing is reported by."""

from __future__ import annotations

import numpy as np
import pytest

from perfbench.harness import describe, percentile, tail_level


@pytest.mark.parametrize("n", [2, 7, 20, 33, 100, 257])
def test_percentile_matches_numpy_linear(n):
    xs = list(np.random.default_rng(n).normal(size=n))
    for q in (0, 10, 50, 87.5, 90, 99, 100):
        assert percentile(xs, q) == pytest.approx(float(np.percentile(xs, q)))


def test_tail_level_is_the_highest_with_ten_beyond():
    for n in range(11, 3000):
        xs = list(range(n))
        level = tail_level(n)
        if level is None:
            # not even the median has ten samples beyond it
            assert sum(1 for x in xs if x > percentile(xs, 50)) < 10
            continue
        assert 50 <= level <= 99
        assert sum(1 for x in xs if x > percentile(xs, level)) >= 10
        if level < 99:
            assert sum(1 for x in xs if x > percentile(xs, level + 1)) < 10


def test_tail_level_known_values():
    assert tail_level(10) is None
    assert tail_level(19) is None
    assert tail_level(20) == 52
    assert tail_level(100) == 90
    assert tail_level(1000) == 99
    assert tail_level(100_000) == 99


def test_describe_states_median_tail_and_count():
    assert describe([]) == "n=0"
    assert describe([1.0, 2.0, 3.0]) == "p50=2 n=3"
    assert describe([float(i) for i in range(100)]) == "p50=49.5 p90=89.1 n=100"
