"""The flagship store soak's flatness gate compares two disjoint windows
of per-batch wall times at every run length: a window compared with
itself (or one overlapping it) passes whatever the store does."""

from __future__ import annotations

import pytest

from tools.flagship_store_soak import flatness_windows


@pytest.mark.parametrize(
    "batches, warm, tail",
    [
        (200, range(100, 150), range(150, 200)),
        (250, range(100, 175), range(175, 250)),
        (1000, range(100, 200), range(900, 1000)),
    ],
)
def test_flatness_windows_are_disjoint(batches, warm, tail):
    got_warm, got_tail = flatness_windows(batches)
    assert (got_warm, got_tail) == (warm, tail)
    assert got_warm.stop <= got_tail.start
    assert len(got_warm) == len(got_tail) > 0
    assert got_tail.stop == batches


@pytest.mark.parametrize("batches", [2, 3, 50, 101, 102, 199, 299, 300, 301])
def test_short_and_odd_runs_stay_disjoint(batches):
    warm, tail = flatness_windows(batches)
    assert 0 < len(warm) == len(tail) <= 100
    assert warm.stop <= tail.start and tail.stop == batches
