"""Misc-op properties: seeded sampling determinism + bounds, plus a
hypothesis fuzz of the CAIM core against the paper-literal reference."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from pycaim_spark.operators.caim.core import caim_greedy, histogram_from_arrays
from pycaim_spark.operators.caim.reference import naive_caim_fit
from pycaim_spark.registry import REGISTRY, _ensure_loaded

_ensure_loaded()


def test_sample_seeded_is_deterministic_and_bounded(spark, sf_dir):
    a = REGISTRY["sample_seeded"].fn(spark, sf_dir).collect()
    b = REGISTRY["sample_seeded"].fn(spark, sf_dir).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    from pycaim_spark.catalog import load_table

    total = load_table(spark, sf_dir, "lineitem").count()
    # Bernoulli(0.1): 3σ bound on the sample size.
    sigma = (total * 0.1 * 0.9) ** 0.5
    assert abs(len(a) - total * 0.1) < 4 * sigma


@settings(max_examples=40, deadline=None)
@given(
    data=st.lists(
        st.tuples(
            st.integers(min_value=0, max_value=12),  # value on a coarse grid
            st.integers(min_value=0, max_value=2),   # class label
        ),
        min_size=2,
        max_size=60,
    )
)
def test_caim_core_matches_reference_fuzzed(data):
    """Fuzzed equivalence: the vectorized greedy must equal the naive
    paper implementation on arbitrary coarse-grid datasets (duplicates and
    exact score ties included)."""
    x = np.array([v for v, _ in data], dtype=float) * 0.5
    y = np.array([c for _, c in data])
    expected = naive_caim_fit(x, y)
    values, counts, _ = histogram_from_arrays(x, y)
    got = caim_greedy(values, counts)
    assert np.array_equal(got, expected), f"{got} vs {expected} on {data}"


def test_hll_sketch_within_5pct_of_exact(spark, sf_dir):
    """agg_hll_sketch rows-only gate (SURVEY §5.2): every per-group HLL
    estimate and the merged-union estimate within ±5% of exact."""
    import pyspark.sql.functions as F

    from pycaim_spark.catalog import load_table

    got = {r.l_returnflag: r.est for r in
           REGISTRY["agg_hll_sketch"].fn(spark, sf_dir).collect()}
    li = load_table(spark, sf_dir, "lineitem")
    exact = {r.l_returnflag: r.d for r in
             li.groupBy("l_returnflag")
               .agg(F.countDistinct("l_partkey").alias("d")).collect()}
    exact["__all__"] = li.select("l_partkey").distinct().count()
    assert set(got) == set(exact)
    for k, est in got.items():
        assert abs(est - exact[k]) <= 0.05 * exact[k], (k, est, exact[k])


def test_approx_percentile_close_to_exact(spark, sf_dir):
    """agg_approx_percentile rows-only gate: with accuracy 10000 the GK
    summary is exact on fixture sizes — compare against exact percentile."""
    import pyspark.sql.functions as F

    from pycaim_spark.catalog import load_table

    got = {r.o_orderstatus: (r.p50, r.p90, r.p99) for r in
           REGISTRY["agg_approx_percentile"].fn(spark, sf_dir).collect()}
    o = load_table(spark, sf_dir, "orders")
    exact = {r.o_orderstatus: r.qs for r in
             o.groupBy("o_orderstatus")
              .agg(F.expr("percentile(o_totalprice, array(0.5, 0.9, 0.99))")
                   .alias("qs")).collect()}
    for k, (p50, p90, p99) in got.items():
        for est, ex in zip((p50, p90, p99), exact[k]):
            # GK guarantees rank error ≤ n/accuracy; on these sizes the
            # estimate must land within 1% of the exact value.
            assert abs(est - ex) <= 0.01 * abs(ex) + 1e-9, (k, est, ex)


def test_missing_sf_dir_raises_clean_path_error(spark):
    """A wrong data dir must fail with Spark's PATH_NOT_FOUND analysis
    error at plan-build time, not a worker-side stack bomb mid-query."""
    import pytest
    from pyspark.errors import AnalysisException

    from pycaim_spark.catalog import load_table

    with pytest.raises(AnalysisException, match="PATH_NOT_FOUND|Path does not exist"):
        load_table(spark, "/root/testdata/sf_nope", "events").count()


def test_engine_env_surface_is_pinned():
    """Every ``PYCAIM_*`` name the engine reads or documents. Each
    operator ships one plan shape (ROADMAP aim 2): a decided A/B arm is
    deleted, not kept behind an env switch, so a new name here has to be
    added to this list on purpose."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[1] / "pycaim_spark"
    names = {
        m
        for path in root.rglob("*.py")
        for m in re.findall(r"PYCAIM_[A-Z0-9_]+", path.read_text())
    }
    assert names == {
        "PYCAIM_" + n
        for n in (
            "ALLPAIRS_MAX_ROWS", "DRIVER_MEM", "EXTRA_CONFS",
            "LAYOUT_GC_GRACE", "LSH_MAX_BUCKET", "MAX_PARTITION_BYTES",
            "SCRATCH", "SIM_LSH_TABLES", "STORE_GC_GRACE", "STORE_GC_KEEP",
            "STREAM_STATE_PARTITIONS",
        )
    }


def test_store_protocol_lives_only_in_snapshot_kernel():
    """One snapshot-store kernel (operators/snapshot.py): the flock, the
    durable writer and the tombstone names appear nowhere else in the
    engine, so a store or layout cannot grow a second lock class,
    writer or tombstone spelling."""
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[1] / "pycaim_spark"
    pattern = re.compile(r"fcntl|os\.fsync|[\"']_?superseded\.json[\"']")
    hits = {
        str(path.relative_to(root))
        for path in root.rglob("*.py")
        if pattern.search(path.read_text())
    }
    assert hits == {"operators/snapshot.py"}
