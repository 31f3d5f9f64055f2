"""The snapshot-store kernel (operators/snapshot.py) on hand-made dir
trees — no Spark: a "parquet dir" here is any dir with a ``_SUCCESS``
marker, which is all the kernel ever looks at."""

from __future__ import annotations

import json
import os
import time

import pytest

from pycaim_spark.operators import snapshot

STORE = snapshot.Store(
    "current.json",
    ("sets", "buckets"),
    (
        snapshot.Layers("append", "bands", "folded", always=True),
        snapshot.Layers("deletes", "ids", "del_folded"),
    ),
)


def _parquet_dir(path, complete=True):
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "part-0.parquet"), "w") as f:
        f.write(path)
    if complete:
        open(os.path.join(path, "_SUCCESS"), "w").close()


def _version(d, v):
    for base in STORE.bases:
        _parquet_dir(STORE.version_dir(d, base, v))


def _layer(d, root, key, complete=True):
    marker = STORE.family(root).marker
    _parquet_dir(os.path.join(d, root, key, marker), complete)
    return os.path.join(d, root, key)


def _aged_tombstone(path, name=snapshot.TOMBSTONE, age=10_000.0):
    with open(os.path.join(path, name), "w") as f:
        json.dump({"ts": time.time() - age}, f)


def test_reconcile_deletes_uncommitted_and_tombstones_displaced(tmp_path):
    d = str(tmp_path / "store")
    for v in (0, 1, 2):
        _version(d, v)
    STORE.write_pointer(d, 1, {})
    STORE.reconcile(d)
    assert not os.path.exists(STORE.version_dir(d, "sets", 2))
    assert not os.path.exists(STORE.version_dir(d, "buckets", 2))
    for base in STORE.bases:
        v0, v1 = (STORE.version_dir(d, base, v) for v in (0, 1))
        assert snapshot.tombstoned(v0, snapshot.VERSION_TOMBSTONE)
        assert os.path.exists(os.path.join(v0, "part-0.parquet"))
        assert not snapshot.tombstoned(v1, snapshot.VERSION_TOMBSTONE)


def test_reconcile_without_pointer_deletes_every_version(tmp_path):
    d = str(tmp_path / "store")
    _version(d, 0)
    _parquet_dir(STORE.version_dir(d, "sets", 1), complete=False)
    live = _layer(d, "append", "day1")
    STORE.reconcile(d)
    assert STORE.version_dirs(d) == []
    assert STORE.live_layers(d, "append") == [live]


def test_reconcile_relays_lost_layer_tombstones(tmp_path):
    d = str(tmp_path / "store")
    _version(d, 0)
    STORE.write_pointer(d, 0, {"append": ["day1"], "deletes": ["gdpr1"]})
    folded = _layer(d, "append", "day1")
    folded_del = _layer(d, "deletes", "gdpr1")
    old = _layer(d, "append", "day2.old-123")
    live = _layer(d, "append", "day2")
    live_del = _layer(d, "deletes", "gdpr2")
    STORE.reconcile(d)
    for p in (folded, folded_del, old):
        assert snapshot.tombstoned(p), p
    assert STORE.live_layers(d, "append") == [live]
    assert STORE.live_layers(d, "deletes") == [live_del]


def test_reconcile_heals_write_aside_swaps(tmp_path):
    d = str(tmp_path / "store")
    _version(d, 0)
    STORE.write_pointer(d, 0, {})
    orphan = _layer(d, "append", "day1.next")           # renames crashed
    _layer(d, "append", "day2.next", complete=False)     # write crashed
    _layer(d, "append", "day3")
    _layer(d, "append", "day3.next")                     # swap not begun
    STORE.reconcile(d)
    top = os.path.join(d, "append")
    assert sorted(os.listdir(top)) == ["day1", "day3"]
    assert not os.path.exists(orphan)
    with open(os.path.join(top, "day1", "bands", "part-0.parquet")) as f:
        assert f.read() == os.path.join(orphan, "bands")
    with open(os.path.join(top, "day3", "bands", "part-0.parquet")) as f:
        assert f.read() == os.path.join(top, "day3", "bands")


def test_tombstones_collect_only_past_grace(tmp_path, monkeypatch):
    d = str(tmp_path / "store")
    for v in (0, 1):
        _version(d, v)
    STORE.write_pointer(d, 1, {})
    fresh = _layer(d, "append", "fresh")
    aged = _layer(d, "append", "aged")
    torn = _layer(d, "append", "torn")
    only = _layer(d, "deletes", "gone")
    snapshot.tombstone(fresh)
    _aged_tombstone(aged)
    with open(os.path.join(torn, snapshot.TOMBSTONE), "w") as f:
        f.write('{"ts": 1')
    _aged_tombstone(only)
    monkeypatch.setenv("PYCAIM_STORE_GC_GRACE", "900")
    STORE.reconcile(d)  # v0 gets a fresh tombstone: inside grace
    assert os.path.exists(STORE.version_dir(d, "sets", 0))
    assert os.path.exists(fresh) and os.path.exists(torn)
    assert not os.path.exists(aged)
    assert not os.path.exists(os.path.join(d, "deletes")), \
        "an emptied layer root goes with its last layer"
    monkeypatch.setenv("PYCAIM_STORE_GC_GRACE", "0")
    time.sleep(0.01)
    STORE.reconcile(d)
    assert not os.path.exists(STORE.version_dir(d, "sets", 0))
    assert not os.path.exists(fresh)
    assert os.path.exists(torn), "an unreadable tombstone is never guessed at"
    assert os.path.exists(STORE.version_dir(d, "sets", 1))


def test_try_lock_fails_while_held(tmp_path):
    d = str(tmp_path / "store")
    with snapshot.write_lock(d) as held:
        assert held.acquired
        assert os.path.exists(str(tmp_path / ".lock_store"))
        assert not os.path.exists(d), "the lock file lives beside the dir"
        with snapshot.write_lock(d, blocking=False) as other:
            assert not other.acquired
    with snapshot.write_lock(d, blocking=False) as again:
        assert again.acquired


def test_waiter_on_removed_lock_file_retries_fresh(tmp_path):
    """GC removes a collected dir's lock file while holding it. A waiter
    blocked on the unlinked inode must not own it once released while a
    newcomer holds the fresh file: it re-checks the inode and waits on
    the fresh lock instead."""
    import threading

    d = str(tmp_path / "slug")
    got = threading.Event()

    def waiter():
        with snapshot.write_lock(d) as lk:
            assert lk.acquired
            got.set()

    with snapshot.write_lock(d):
        t = threading.Thread(target=waiter)
        t.start()
        time.sleep(0.2)  # the waiter is now blocked on the old inode
        snapshot.remove_lock_file(d)
        newcomer = snapshot.write_lock(d, blocking=False).__enter__()
        assert newcomer.acquired
    time.sleep(0.2)  # old inode released: the waiter must re-check
    assert not got.is_set(), "two owners at once"
    newcomer.__exit__(None, None, None)
    t.join(timeout=10)
    assert got.is_set()


def test_write_aside_redelivery_never_touches_old_layer(tmp_path):
    d = str(tmp_path / "store")

    def writer(text):
        def write(fresh):
            _parquet_dir(os.path.join(fresh, "bands"))
            with open(os.path.join(fresh, "bands", "part-0.parquet"), "w") as f:
                f.write(text)
        return write

    STORE.write_layer(d, "append", "day1", writer("first"))
    part = os.path.join(d, "append", "day1", "bands", "part-0.parquet")
    before = os.stat(part)
    STORE.write_layer(d, "append", "day1", writer("second"))
    olds = [k for k in os.listdir(os.path.join(d, "append")) if ".old-" in k]
    assert len(olds) == 1
    old = os.path.join(d, "append", olds[0])
    old_part = os.path.join(old, "bands", "part-0.parquet")
    after = os.stat(old_part)
    assert (after.st_ino, after.st_mtime_ns) == (before.st_ino, before.st_mtime_ns)
    with open(old_part) as f:
        assert f.read() == "first"
    assert snapshot.tombstoned(old)
    with open(part) as f:
        assert f.read() == "second"
    assert STORE.live_layers(d, "append") == [os.path.join(d, "append", "day1")]


def test_fold_commits_pointer_then_retires(tmp_path):
    d = str(tmp_path / "store")
    _version(d, 0)
    STORE.write_pointer(d, 0, {})
    assert STORE.pointer(d) == {"version": 0, "folded": []}
    day10 = _layer(d, "append", "day10")
    day2 = _layer(d, "append", "day2")
    gdpr = _layer(d, "deletes", "gdpr1")
    os.utime(day2, (1_000_000, 1_000_000))
    os.utime(day10, (2_000_000, 2_000_000))
    _version(d, 1)
    STORE.fold(d, STORE.pointer(d),
               {"append": [day10, day2], "deletes": [gdpr]})
    assert STORE.pointer(d) == {
        "version": 1, "folded": ["day2", "day10"], "del_folded": ["gdpr1"]
    }
    for p in (day2, day10, gdpr):
        assert snapshot.tombstoned(p)
    assert snapshot.tombstoned(
        STORE.version_dir(d, "sets", 0), snapshot.VERSION_TOMBSTONE
    )


def test_rebuild_retires_every_live_layer(tmp_path):
    d = str(tmp_path / "store")
    _version(d, 0)
    STORE.write_pointer(d, 0, {"append": ["day0"]})
    day1 = _layer(d, "append", "day1")
    gdpr = _layer(d, "deletes", "gdpr1")
    _version(d, 1)
    STORE.rebuild(d, 1)
    assert STORE.pointer(d) == {"version": 1, "folded": []}
    assert snapshot.tombstoned(day1) and snapshot.tombstoned(gdpr)
    assert STORE.live_layers(d, "append") == []
    assert STORE.live_layers(d, "deletes") == []


def test_atomic_json_round_trip_and_torn_reads(tmp_path):
    path = str(tmp_path / "doc.json")
    assert snapshot.read_json(path) is None
    snapshot.write_json(path, {"version": 3})
    assert snapshot.read_json(path) == {"version": 3}
    assert os.listdir(tmp_path) == ["doc.json"]
    with open(path, "w") as f:
        f.write('{"version": ')
    assert snapshot.read_json(path) is None
    assert STORE.pointer(str(tmp_path)) is None  # no current.json at all


@pytest.mark.parametrize("doc", [[], {"version": "1"}, {"folded": []}])
def test_pointer_rejects_malformed_docs(tmp_path, doc):
    snapshot.write_json(str(tmp_path / "current.json"), doc)
    assert STORE.pointer(str(tmp_path)) is None
