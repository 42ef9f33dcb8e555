"""The benchmark's own arithmetic."""

import math

import pytest

import stats
from spans import layer_self_times


def test_percentile_interpolates_like_numpy():
    xs = list(range(1, 11))
    assert stats.percentile(xs, 50) == 5.5
    assert math.isclose(stats.percentile(xs, 90), 9.1)
    assert stats.percentile([3.0], 90) == 3.0
    assert stats.percentile([5, 1, 3], 0) == 1
    with pytest.raises(ValueError):
        stats.percentile([], 50)


@pytest.mark.parametrize("n,p,beyond", [(100, 90, 10), (99, 90, 10), (1000, 99, 10),
                                         (20, 50, 10), (19, 50, 9), (10, 50, 5)])
def test_samples_beyond(n, p, beyond):
    assert stats.samples_beyond(n, p) == beyond


@pytest.mark.parametrize("n,want", [(1000, 99.0), (200, 95.0), (100, 90.0),
                                     (92, 90.0), (91, 75.0), (38, 75.0),
                                     (37, 50.0), (20, 50.0), (19, None), (0, None)])
def test_supported_percentile_needs_ten_samples_beyond(n, want):
    assert stats.supported_percentile(n) == want


def test_failure_share():
    assert stats.failure_share(10, 0) == 0.0
    assert stats.failure_share(8, 2) == 0.25
    with pytest.raises(ValueError):
        stats.failure_share(0, 0)
    with pytest.raises(ValueError):
        stats.failure_share(3, 4)


def test_covered_merges_overlaps():
    assert stats.covered([]) == 0.0
    assert stats.covered([(0, 2), (1, 3), (5, 6)]) == 4.0
    assert stats.covered([(0, 10), (2, 3)]) == 10.0


def _span(i, parent, start, end, name="x.y"):
    return {"id": i, "parent": parent, "start": start, "end": end, "name": name}


def test_self_time_subtracts_covered_children():
    spans = [_span(0, None, 0, 10, "op"), _span(1, 0, 1, 4), _span(2, 0, 3, 6),
             _span(3, 1, 2, 3)]
    st = stats.self_times(spans)
    assert st == {0: 5.0, 1: 2.0, 2: 3.0, 3: 1.0}


def test_layer_self_times_add_up_to_op_wall():
    spans = [_span(0, None, 0.0, 10.0, "op"),
             _span(1, 0, 0.5, 6.0, "plans.builder"),
             _span(2, 1, 1.0, 3.0, "sources.store_build"),
             _span(3, 2, 1.5, 2.5, "io.parquet_write"),
             _span(4, 0, 6.0, 9.5, "exec.run")]
    layers, remainder, wall = layer_self_times(spans)
    assert layers == {"plans": 3.5, "sources": 1.0, "io": 1.0, "exec": 3.5}
    assert remainder == 1.0
    assert math.isclose(sum(layers.values()) + remainder, wall)
