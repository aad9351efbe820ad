"""Unit tests for bench.py's committed-number methodology (VERDICT r11 #2
+ ADVICE r11: pass-order bias, trimmed central samples, adaptive
re-sampling trigger)."""

from __future__ import annotations

import bench


def test_central_keeps_all_of_three():
    assert bench._central([3.0, 1.0, 2.0]) == [1.0, 2.0, 3.0]
    assert bench._central([1.0, 2.0, 3.0, 4.0]) == [1.0, 2.0, 3.0, 4.0]


def test_central_trims_symmetrically_once_resampled():
    # n=5 -> drop 1 each end; n=7 -> drop 2 each end (one wild session
    # cannot own the committed median)
    assert bench._central([17.97, 4.57, 10.05, 5.55, 4.06]) == [
        4.57,
        5.55,
        10.05,
    ]
    assert bench._central([0, 1, 2, 3, 4, 5, 6]) == [2, 3, 4]


def test_spread_map_uses_central_samples():
    s = {"q": [4.0, 5.0, 6.0, 100.0, 3.0]}  # central = [4, 5, 6]
    out = bench._spread_map(s)
    assert out["q"] == round((6.0 - 4.0) / 5.0, 3)


def test_pass_orders_spread_positions():
    """Every pass >= 1 is a seeded shuffle: no query should sit at the
    same position in passes 0..3 (the ADVICE r11 mid-alphabet bias)."""
    names = [f"q{i:03d}" for i in range(100)]
    orders = [bench._pass_order(names, p) for p in range(4)]
    assert orders[0] == sorted(names)
    assert len({tuple(o) for o in orders}) == 4  # all distinct orders
    # positional bias check: no name keeps one position across all passes
    stuck = [
        n
        for n in names
        if len({o.index(n) for o in orders}) == 1
    ]
    assert not stuck
    # deterministic: same pass number -> same order
    assert bench._pass_order(names, 2) == orders[2]


def test_detail_file_keeps_the_committed_round_file_at_its_sf():
    """A run at another SF than the committed round file's, or over a
    query subset, writes the git-ignored subset file; a run at the same
    SF, or the round's first run, writes the round file."""
    r = "BENCH_LOCAL_r14.json"
    assert bench._detail_file(r, 0.001, False, {"sf": 0.1}) == "BENCH_SUBSET.json"
    assert bench._detail_file(r, 0.1, False, {"sf": 0.1}) == r
    assert bench._detail_file(r, 0.001, False, None) == r
    assert bench._detail_file(r, 0.1, True, {"sf": 0.1}) == "BENCH_SUBSET.json"
    assert bench._detail_file(r, 0.1, True, None) == "BENCH_SUBSET.json"
