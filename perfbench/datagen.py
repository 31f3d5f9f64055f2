"""Seeded generator for the benchmark's input tables.

Writes the ten tables ``pycaim_spark.catalog.TABLES`` names, one parquet
file each, with the schemas and value distributions of the engine's
fixture data (FIXTURES.md): a TPC-H-like star schema, an ``events``
stream table, a ``documents`` corpus in which 5% of the documents are
near-duplicates (another document's text plus `` dup``), and unit-norm
64-d ``embeddings``. Row counts scale linearly with the scale factor
(sf0.1: 600k lineitem rows, 5k documents, 2k embeddings).

Usage: python3 perfbench/datagen.py OUT_DIR [--sf 0.1] [--seed 42]
"""

from __future__ import annotations

import argparse
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["red", "blue", "green", "small", "big", "hot", "new", "old"]
PART_NOUN = ["bolt", "gear", "ring", "widget", "anvil", "nut", "screw", "spring"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
EMB_DIM = 64

_DAY_US = 86_400_000_000


def _days_us(start: str, n_days: int, size: int, rng) -> np.ndarray:
    base = np.datetime64(start, "us").astype(np.int64)
    return base + rng.integers(0, n_days + 1, size) * _DAY_US


def _pick(choices: list[str], idx: np.ndarray) -> pa.Array:
    return pa.array(choices).take(pa.array(idx))


def _money(rng, lo: float, hi: float, size: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, size), 2)


def _names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def make_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten tables at scale factor ``sf``; same ``(sf, seed)``, same
    tables."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), max(1, int(15_000 * sf))
    n_docs, n_emb = int(50_000 * sf), int(20_000 * sf)
    i32, ts = pa.int32(), pa.timestamp("us")

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(SEGMENTS, rng.integers(0, 5, n_cust)),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": pa.array([
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(PART_TYPES, rng.integers(0, 6, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(["F", "O", "P"], rng.integers(0, 3, n_ord)),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": pa.array(_days_us("1995-01-01", 2404, n_ord, rng), ts),
        "o_orderpriority": _pick(PRIORITIES, rng.integers(0, 5, n_ord)),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(["A", "N", "R"], rng.integers(0, 3, n_line)),
        "l_linestatus": _pick(["F", "O"], rng.integers(0, 2, n_line)),
        "l_shipdate": pa.array(_days_us("1995-01-02", 2498, n_line, rng), ts),
    })
    ev_ts = np.sort(
        np.datetime64("2024-01-01", "us").astype(np.int64)
        + rng.integers(0, 30 * _DAY_US, n_ev)
    )
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ev_ts, ts),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": _pick(EVENT_TYPES, rng.integers(0, 5, n_ev)),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    texts = [
        " ".join(WORDS[w] for w in rng.integers(0, len(WORDS), n))
        for n in rng.integers(10, 101, n_docs)
    ]
    dups = rng.choice(n_docs, n_docs // 20, replace=False)
    for d, src in zip(dups, rng.integers(0, n_docs, len(dups))):
        texts[d] = texts[src] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": pa.array(texts),
        "lang": _pick(LANGS, rng.choice(len(LANGS), n_docs, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    vec = rng.standard_normal((n_emb, EMB_DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vec.ravel()), EMB_DIM
        ).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    })
    return t


def write_tables(out_dir: str, sf: float, seed: int = 42) -> None:
    """Write the tables under ``out_dir`` atomically: a partial write
    never leaves a directory that looks complete."""
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in make_tables(sf, seed).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)


if __name__ == "__main__":
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("out_dir")
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--seed", type=int, default=42)
    a = ap.parse_args()
    write_tables(a.out_dir, a.sf, a.seed)
