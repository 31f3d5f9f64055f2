"""Pure helpers of the benchmark: percentiles with their sample counts,
seeded plans and byte arithmetic. No Spark here, so
``test_perfbench.py`` checks them in milliseconds."""

from __future__ import annotations

import math
import os
import random

#: A percentile is reported only with at least this many samples above it.
MIN_TAIL_SAMPLES = 10


def nearest_rank(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least a share
    ``q`` of all samples at or below it."""
    if not values:
        raise ValueError("no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(q * len(ordered)))
    return ordered[rank - 1]


def samples_beyond(n: int, q: float) -> int:
    """Samples strictly above the nearest-rank ``q`` percentile of ``n``."""
    return n - max(1, math.ceil(q * n))


def tail_percentile(values: list[float], want: float = 0.90) -> tuple[float, float]:
    """``(q, value)``: the ``want`` percentile if at least
    ``MIN_TAIL_SAMPLES`` samples lie beyond it, else the highest whole
    percentile that has them, but never one below the median."""
    pct = round(want * 100)
    while pct > 50 and samples_beyond(len(values), pct / 100) < MIN_TAIL_SAMPLES:
        pct -= 1
    return pct / 100, nearest_rank(values, pct / 100)


def pass_order(ops: list[str], seed: int, pass_no: int) -> list[str]:
    """The order of ``ops`` in pass ``pass_no`` of a run with ``seed``."""
    order = list(ops)
    random.Random(f"{seed}:{pass_no}").shuffle(order)
    return order


def interleave(n_chain: int, others: list[str], seed: int, pass_no: int) -> list:
    """Positions ``0..n_chain-1`` of a dependent chain, in order, merged
    with a seeded shuffle of ``others`` at seeded places."""
    rng = random.Random(f"{seed}:{pass_no}:interleave")
    rest = list(others)
    rng.shuffle(rest)
    total = n_chain + len(rest)
    slots = set(rng.sample(range(total), len(rest)))
    chain, shuffled = iter(range(n_chain)), iter(rest)
    return [next(shuffled) if i in slots else next(chain) for i in range(total)]


def check_sample(names: list[str], seed: int, k: int) -> list[str]:
    """The ``k`` of ``names`` checked in the run with ``seed``."""
    return sorted(random.Random(f"{seed}:check").sample(names, min(k, len(names))))


def cycle_slices(seed: int, cycle: int, n_docs: int, n_vecs: int,
                 doc_slice: int, vec_slice: int) -> dict:
    """The ingest slices of one cycle: which source rows are re-ingested
    under fresh ids, which base rows are deleted, and the id offset that
    keeps every cycle's ids disjoint from the corpus and from each other.
    Deleted rows come from the base (``doc_id % 10 >= 2``) and never
    overlap the probed slice."""
    rng = random.Random(f"{seed}:cycle:{cycle}")
    docs = sorted(rng.sample(range(n_docs), doc_slice))
    base = [i for i in range(n_docs) if i % 10 >= 2 and i not in set(docs)]
    doc_del = sorted(rng.sample(base, doc_slice // 4))
    vecs = sorted(rng.sample(range(n_vecs), vec_slice))
    vec_pool = [i for i in range(n_vecs) if i not in set(vecs)]
    vec_del = sorted(rng.sample(vec_pool, vec_slice // 4))
    return {
        "doc_src": docs,
        "doc_del": doc_del,
        "vec_src": vecs,
        "vec_del": vec_del,
        "id_offset": (cycle + 1) * 10 ** 9,
        "key": f"s{seed}c{cycle}",
    }


def tree_bytes(path: str) -> int:
    """Bytes of every regular file under ``path`` (0 if it is missing)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            if os.path.isfile(full) and not os.path.islink(full):
                total += os.path.getsize(full)
    return total


def space_amp(store_bytes: int, live_bytes: int) -> float:
    """Bytes a store occupies on disk per byte of a fresh build of the
    live rows it holds."""
    if live_bytes <= 0:
        raise ValueError("a store holding live rows occupies bytes")
    return store_bytes / live_bytes


def slope(values: list[float]) -> float:
    """Least-squares growth per step of ``values`` (0 for one value)."""
    n = len(values)
    if n < 2:
        return 0.0
    mx = (n - 1) / 2
    my = sum(values) / n
    num = sum((i - mx) * (v - my) for i, v in enumerate(values))
    den = sum((i - mx) ** 2 for i in range(n))
    return num / den
