"""Tests of the benchmark's own logic (no Spark):

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import stats  # noqa: E402
from datagen import make_tables  # noqa: E402


def test_nearest_rank_matches_definition():
    values = [5.0, 1.0, 4.0, 2.0, 3.0]
    assert stats.nearest_rank(values, 0.5) == 3.0
    assert stats.nearest_rank(values, 0.2) == 1.0
    assert stats.nearest_rank(values, 0.21) == 2.0
    assert stats.nearest_rank(values, 1.0) == 5.0
    with pytest.raises(ValueError):
        stats.nearest_rank([], 0.5)


def test_p90_needs_ten_samples_beyond_it():
    assert stats.samples_beyond(100, 0.90) == 10
    assert stats.samples_beyond(99, 0.90) == 9
    q, v = stats.tail_percentile([float(i) for i in range(100)])
    assert (q, v) == (0.90, 89.0)


def test_tail_falls_back_to_highest_percentile_with_ten_beyond():
    values = [float(i) for i in range(40)]
    q, v = stats.tail_percentile(values)
    assert q == 0.75
    assert stats.samples_beyond(40, q) == 10
    assert stats.samples_beyond(40, q + 0.01) < 10
    assert v == stats.nearest_rank(values, q)


def test_tail_of_few_samples_is_the_median():
    values = [3.0, 1.0, 2.0, 9.0]
    assert stats.tail_percentile(values) == (0.5, 2.0)


def test_pass_order_is_seeded_and_a_permutation():
    ops = [f"op{i}" for i in range(16)]
    a = stats.pass_order(ops, seed=7, pass_no=0)
    assert a == stats.pass_order(ops, seed=7, pass_no=0)
    assert sorted(a) == sorted(ops)
    assert a != stats.pass_order(ops, seed=8, pass_no=0)
    assert a != stats.pass_order(ops, seed=7, pass_no=1)


def test_check_sample_is_seeded_and_covers_all_over_seeds():
    names = [f"q{i}" for i in range(13)]
    assert stats.check_sample(names, 3, 3) == stats.check_sample(names, 3, 3)
    assert len(stats.check_sample(names, 3, 3)) == 3
    covered = {n for s in range(30) for n in stats.check_sample(names, s, 3)}
    assert covered == set(names)
    assert stats.check_sample(names[:2], 1, 3) == names[:2]


def test_cycle_slices_are_seeded_disjoint_and_fresh():
    a = stats.cycle_slices(5, 0, 5000, 2000, 250, 100)
    assert a == stats.cycle_slices(5, 0, 5000, 2000, 250, 100)
    assert a != stats.cycle_slices(6, 0, 5000, 2000, 250, 100)
    b = stats.cycle_slices(5, 1, 5000, 2000, 250, 100)
    assert a["key"] != b["key"] and a["id_offset"] != b["id_offset"]
    assert len(a["doc_src"]) == 250 and len(a["vec_src"]) == 100
    assert not set(a["doc_del"]) & set(a["doc_src"])
    assert not set(a["vec_del"]) & set(a["vec_src"])
    # Deleted docs come from the signature store's base.
    assert all(i % 10 >= 2 for i in a["doc_del"])
    # Shifted ids never collide with the corpus or another cycle.
    assert a["id_offset"] > 5000 and b["id_offset"] - a["id_offset"] > 5000


def test_space_amp_arithmetic(tmp_path):
    (tmp_path / "a").mkdir()
    (tmp_path / "a" / "x.parquet").write_bytes(b"0" * 300)
    (tmp_path / "y.json").write_bytes(b"0" * 100)
    assert stats.tree_bytes(str(tmp_path)) == 400
    assert stats.tree_bytes(str(tmp_path / "missing")) == 0
    assert stats.space_amp(400, 200) == 2.0
    with pytest.raises(ValueError):
        stats.space_amp(400, 0)


def test_slope_is_growth_per_pass():
    assert stats.slope([3.0]) == 0.0
    assert stats.slope([10.0, 10.0, 10.0]) == 0.0
    assert stats.slope([1.0, 3.0, 5.0, 7.0]) == pytest.approx(2.0)


def test_generated_tables_are_seed_determined():
    a, b = make_tables(0.001, 42), make_tables(0.001, 42)
    assert all(a[t].equals(b[t]) for t in a)
    c = make_tables(0.001, 43)
    assert not c["lineitem"].equals(a["lineitem"])
    assert a["lineitem"].num_rows == 6000 and a["documents"].num_rows == 50
    texts = a["documents"]["text"].to_pylist()
    assert sum(t.endswith(" dup") for t in texts) == 50 // 20


def test_interleave_keeps_the_chain_in_order():
    others = ["a", "b", "c"]
    out = stats.interleave(5, others, seed=3, pass_no=0)
    assert out == stats.interleave(5, others, seed=3, pass_no=0)
    assert [i for i in out if isinstance(i, int)] == [0, 1, 2, 3, 4]
    assert sorted(i for i in out if isinstance(i, str)) == others
    orders = {tuple(stats.interleave(5, others, seed=s, pass_no=0)) for s in range(20)}
    assert len(orders) > 1
