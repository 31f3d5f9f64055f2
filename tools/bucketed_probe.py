"""Stage decomposition of the bucketed TPC-H composites (VERDICT r12
#1/#2: scope the q3/q5/q10 residuals the way agg_hash's floor proof did —
bucketed-scan floor → +SMJ → +aggregate → full). Stages run over the
persisted orderkey-bucketed layout, warm + median-of-3, noop sink. One
process: numbers are stage-RELATIVE decomposition evidence; arm DECISIONS
(semi/bloom vs shipped) go through the order-alternating fresh-JVM paired
series (tools/ab_series.py), per CLAUDE.md measurement rules.

q10 extra arms:
  semi  — broadcast left-semi of the quarter-filtered orderkeys into the
          lineitem side BEFORE the co-located SMJ (the untried selective-
          side filter: the orders filter keeps ~3-4%, so ~96% of the 'R'
          lineitem rows entering the SMJ never match).
  bloom — Spark's runtime bloom filter
          (spark.sql.optimizer.runtime.bloomFilter.*) on the full query;
          records whether the optimizer actually injected one (it requires
          a shuffle on the application side, which the zero-exchange
          bucketed plan doesn't have — measured, not assumed).

Usage: python tools/bucketed_probe.py SF_DIR {q3|q5|q10} [out.json] [key]
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")

import pyspark.sql.functions as F  # noqa: E402

SF = sys.argv[1]
QUERY = sys.argv[2]
OUT = sys.argv[3] if len(sys.argv) > 3 else "/root/repo/ISOLATE_r13.json"
KEY = sys.argv[4] if len(sys.argv) > 4 else f"{QUERY}_bucketed_decomposition"


def _stages(spark, lib, ob, sf_dir):
    from pycaim_spark.catalog import load_table
    from pycaim_spark.functions.exact import cents, fsum
    from pycaim_spark.registry import REGISTRY

    disc_price = cents("l_extendedprice") * (
        F.lit(100).cast("long") - cents("l_discount")
    )
    if QUERY == "q10":
        li = lib.filter(F.col("l_returnflag") == "R").select(
            "l_orderkey", "l_extendedprice", "l_discount"
        )
        o = ob.filter(
            (F.col("o_orderdate")
             >= F.lit("1996-10-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("o_orderdate")
               < F.lit("1997-01-01 00:00:00").cast("timestamp_ntz"))
        ).select("o_orderkey", "o_custkey")
        smj = li.join(o.hint("MERGE"), li.l_orderkey == o.o_orderkey)
        # shj arm: co-located ShuffledHashJoin — both sides bucketed, so
        # no Exchange either way; builds a per-bucket hash map of the
        # filtered orders instead of merging sorted runs.
        shj = li.join(o.hint("SHUFFLE_HASH"), li.l_orderkey == o.o_orderkey)
        agg = smj.groupBy("o_custkey").agg(fsum(disc_price, 4, "revenue"))
        agg_shj = shj.groupBy("o_custkey").agg(fsum(disc_price, 4, "revenue"))

        # semi arm: broadcast the ~3-4% surviving orderkeys into the
        # lineitem side as a left-semi BEFORE the merge (broadcast joins
        # preserve the probe side's bucketing + sort, so the SMJ stays
        # co-located).
        keys = o.select(F.col("o_orderkey").alias("k_orderkey"))
        li_semi = li.join(
            F.broadcast(keys),
            li.l_orderkey == F.col("k_orderkey"),
            "left_semi",
        )
        smj_semi = li_semi.join(o.hint("MERGE"), li_semi.l_orderkey == o.o_orderkey)
        agg_semi = smj_semi.groupBy("o_custkey").agg(
            fsum(disc_price, 4, "revenue"))
        c = load_table(spark, sf_dir, "customer")
        n = load_table(spark, sf_dir, "nation")
        full_semi = (
            agg_semi.join(c, agg_semi.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
            .orderBy(F.desc("revenue"), "c_custkey")
            .limit(20)
        )
        # r14 (VERDICT r13 #3): the two probes between agg_custkey and
        # full that r13 left unattributed — +customer/nation join, then
        # +the top-20 ordering — so the residual is stage-accounted the
        # way q3/q5's was.
        agg_cust_join = (
            agg.join(c, agg.o_custkey == c.c_custkey)
            .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
            .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        )
        agg_cust_top20 = agg_cust_join.orderBy(
            F.desc("revenue"), "c_custkey"
        ).limit(20)
        return {
            "scan_li": li,
            "scan_o": o,
            "smj": smj,
            "shj": shj,
            "agg_custkey": agg,
            "agg_custkey_shj": agg_shj,
            "agg_cust_join": agg_cust_join,
            "agg_cust_top20": agg_cust_top20,
            "full": REGISTRY["tpch_q10_bucketed"].fn(spark, sf_dir),
            "semi_smj": smj_semi,
            "semi_full": full_semi,
        }
    if QUERY == "q3":
        c = load_table(spark, sf_dir, "customer").filter(
            F.col("c_mktsegment") == "BUILDING"
        ).select("c_custkey")
        o = ob.filter(
            F.col("o_orderdate")
            < F.lit("1998-03-15 00:00:00").cast("timestamp_ntz")
        ).join(F.broadcast(c), F.col("o_custkey") == c.c_custkey).select(
            "o_orderkey", "o_orderdate"
        )
        li = lib.filter(
            F.col("l_shipdate")
            > F.lit("1998-03-15 00:00:00").cast("timestamp_ntz")
        ).select("l_orderkey", "l_extendedprice", "l_discount")
        smj = li.join(o.hint("MERGE"), li.l_orderkey == o.o_orderkey)
        shj = li.join(o.hint("SHUFFLE_HASH"), li.l_orderkey == o.o_orderkey)
        from pycaim_spark.registry import REGISTRY as R
        return {
            "scan_li": li,
            "scan_o": o,
            "smj": smj,
            "shj": shj,
            "full": R["tpch_q3_bucketed"].fn(spark, sf_dir),
        }
    if QUERY == "q5":
        r = load_table(spark, sf_dir, "region").filter(
            F.col("r_name") == "ASIA")
        n = load_table(spark, sf_dir, "nation")
        c = load_table(spark, sf_dir, "customer")
        dims = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
            "n_nationkey", "n_name")
        cust = c.join(
            F.broadcast(dims), c.c_nationkey == F.col("n_nationkey")
        ).select("c_custkey", "n_name")
        o = ob.filter(
            (F.col("o_orderdate")
             >= F.lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
            & (F.col("o_orderdate")
               < F.lit("1998-01-01 00:00:00").cast("timestamp_ntz"))
        ).select("o_orderkey", "o_custkey")
        o_enriched = o.join(
            F.broadcast(cust), o.o_custkey == cust.c_custkey
        ).select("o_orderkey", "n_name")
        li = lib.select("l_orderkey", "l_extendedprice", "l_discount")
        smj = li.join(
            o_enriched.hint("MERGE"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        shj = li.join(
            o_enriched.hint("SHUFFLE_HASH"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        from pycaim_spark.registry import REGISTRY as R
        return {
            "scan_li": li,
            "scan_o": o_enriched,
            "smj": smj,
            "shj": shj,
            "full": R["tpch_q5_bucketed"].fn(spark, sf_dir),
        }
    if QUERY == "q21":
        o = ob.filter(F.col("o_orderstatus") == "F").select(
            "o_orderkey", "o_orderdate"
        )
        j = (
            lib.select("l_orderkey", "l_suppkey", "l_shipdate")
            .join(o.hint("MERGE"), F.col("l_orderkey") == o.o_orderkey)
            .withColumn(
                "late",
                F.col("l_shipdate") > F.expr("o_orderdate + INTERVAL 60 DAY"),
            )
        )
        per_supp = j.groupBy("l_orderkey", "l_suppkey").agg(
            F.max("late").alias("supp_late"),
            F.sum(F.when(F.col("late"), 1).otherwise(0)).alias("n_late_rows"),
        )
        per_order = per_supp.groupBy("l_orderkey").agg(
            F.count(F.lit(1)).alias("n_supp"),
            F.sum(F.when(F.col("supp_late"), 1).otherwise(0)).alias("n_late"),
        )
        # window form: the shipped two-aggregate shape recomputes the
        # per_supp subtree TWICE (per_order and qualifying both hang off
        # it with no exchange below -> no ReusedExchange). Computing the
        # per-order facts as window aggregates over per_supp is one pass:
        # partitionBy(l_orderkey) is satisfied by the bucketed scan's
        # hash distribution (local sort only, zero new exchanges).
        from pyspark.sql import Window

        w = Window.partitionBy("l_orderkey")
        qualifying_w = (
            per_supp.withColumn("n_supp", F.count(F.lit(1)).over(w))
            .withColumn(
                "n_late",
                F.sum(F.when(F.col("supp_late"), 1).otherwise(0)).over(w),
            )
            .filter(
                F.col("supp_late")
                & (F.col("n_supp") >= 2) & (F.col("n_late") == 1)
            )
        )
        s = load_table(spark, sf_dir, "supplier")
        window_full = (
            qualifying_w.join(
                F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
            .groupBy("s_name")
            .agg(F.sum("n_late_rows").alias("numwait"))
            .orderBy(F.desc("numwait"), "s_name")
        )
        # r14: the registry default flipped to the window form, so "full"
        # IS window_full (kept as a sanity pair).
        from pycaim_spark.registry import REGISTRY as R
        return {
            "scan_li": lib.select("l_orderkey", "l_suppkey", "l_shipdate"),
            "scan_o": o,
            "smj": j,
            "per_supp": per_supp,
            "per_order": per_order,
            "full": R["tpch_q21_bucketed"].fn(spark, sf_dir),
            "window_full": window_full,
        }
    raise SystemExit(f"unknown query {QUERY}")


def settle(limit: float = 0.5, max_wait: int = 900) -> list[float]:
    """Wait for the 1-min load to drop below ``limit`` (ADVICE r13: the
    r13 q10/q21 decompositions probed seconds after their own in-process
    layout build at load 13-22 and produced structurally impossible
    stage orderings — build first, settle, THEN probe). Proceeds after
    ``max_wait`` regardless (flagged by the recorded load)."""
    import time as _t

    waited = 0
    while os.getloadavg()[0] > limit and waited < max_wait:
        _t.sleep(30)
        waited += 30
    load = [round(x, 3) for x in os.getloadavg()]
    print("load after settle:", load, flush=True)
    return load


def main():
    from pycaim_spark.catalog import load_table
    from pycaim_spark.queries.advanced import _bucketed_orderkey_layout
    from pycaim_spark.registry import _ensure_loaded

    _ensure_loaded()
    from pycaim_spark.session import get_spark

    if os.path.getsize(os.path.join(SF, "lineitem.parquet")) > (1 << 30):
        os.environ.setdefault("PYCAIM_DRIVER_MEM", "16g")
    spark = get_spark(app_name="bucketed-probe")
    total = sum(os.path.getsize(os.path.join(SF, f))
                for f in os.listdir(SF) if f.endswith(".parquet"))
    spark.conf.set("spark.sql.files.maxPartitionBytes",
                   str(max(4 << 20, min(128 << 20, total // 8))))
    # Flag when this process cold-builds the layout (ADVICE r13): a probe
    # taken right after an in-process multi-minute build measures the
    # build's machine-state wake, not the stages. Detected precisely by
    # re-deriving the slug and testing _SUCCESS before the call.
    import hashlib

    from pycaim_spark.queries.advanced import _layout_fingerprint
    from pycaim_spark.queries.relational import _SCRATCH
    cold_built = False
    for table in ("lineitem", "orders"):
        src = os.path.join(SF, f"{table}.parquet")
        slug = hashlib.md5(
            f"{os.path.abspath(SF)}:32:{_layout_fingerprint(src)}".encode()
        ).hexdigest()[:8]
        if not os.path.exists(os.path.join(
                _SCRATCH, "bucketed_tpch", slug, table, "_SUCCESS")):
            cold_built = True
    lib, ob = _bucketed_orderkey_layout(spark, SF)
    # Match the bench isolate regime: dimension sources cached, the
    # bucketed external facts parquet-resident (they bypass the cache).
    for t in ("customer", "nation", "region"):
        load_table(spark, SF, t).cache().count()
    load_start = settle()

    stages = _stages(spark, lib, ob, SF)
    out, plans = {}, {}
    for name, df in stages.items():
        def run(d=df):
            t0 = time.perf_counter()
            d.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0
        run()  # warm
        out[name] = round(sorted(run() for _ in range(3))[1], 4)
        print(name, out[name], flush=True)

    if QUERY == "q10":
        # bloom arm: enable the runtime bloom filter and record whether
        # the optimizer injects one into the zero-exchange bucketed plan.
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold", "0")
        from pycaim_spark.registry import REGISTRY
        df = REGISTRY["tpch_q10_bucketed"].fn(spark, SF)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "simple")
        plans["bloom_injected"] = "bloom" in plan.lower()

        def run_bloom():
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0
        run_bloom()
        out["bloom_full"] = round(sorted(run_bloom() for _ in range(3))[1], 4)
        print("bloom_full", out["bloom_full"], "injected:",
              plans["bloom_injected"], flush=True)

    merged = {}
    if os.path.exists(OUT):
        with open(OUT) as f:
            merged = json.load(f)
    merged[KEY] = {
        "note": ("Single-process stage decomposition over the persisted "
                 "orderkey-bucketed layout (warm + median-of-3, noop "
                 "sink): stage-relative evidence, not an A/B decision "
                 "series. load_start is recorded AFTER the settle guard "
                 "and BEFORE the first probe (ADVICE r13); cold_built "
                 "flags a layout built in this same process."),
        "sf_dir": SF,
        "load_start": load_start,
        "load_end": [round(x, 3) for x in os.getloadavg()],
        "cold_built_in_process": cold_built,
        "stages": out,
        **plans,
    }
    with open(OUT, "w") as f:
        json.dump(merged, f, indent=2)
    print("wrote", OUT)
    spark.stop()


if __name__ == "__main__":
    main()
