"""The one versioned-snapshot store kernel.

Every persisted structure in the repo — the MinHash signature store
(operators/dedup.py), the IVF-PQ codes store (operators/similarity.py)
and the bucketed layout (operators/layout.py, queries/advanced.py) —
commits the same way, and this module is the only code that knows how:

- **Write lock** (`write_lock`): one flock per store/slug, held by every
  write path. The lock FILE lives in the PARENT dir (``.lock_<name>``),
  never inside the guarded dir, and acquisition re-checks the inode, so
  an rmtree of the guarded dir (or `remove_lock_file`) can never mint
  two owners. ``blocking=False`` try-locks. Readers take no lock.
- **Atomic writes** (`write_atomic`, `write_json`): temp file, fsync,
  rename, dir fsync — a reader sees the old content or the new, never a
  torn file. `read_json` returns None for an absent or unparseable file.
- **Immutable versions behind one pointer**: a store's base lives in
  ``<base>_v{N}`` dirs; the pointer JSON names N and carries each layer
  family's folded-key manifest, so a new base and its skip set become
  visible together.
- **Keyed layers**: appends and deletes land as ``<root>/<key>/`` dirs,
  written aside to ``<key>.next`` and swapped in; a redelivered key moves
  the old layer to ``<key>.old-<ms>`` (tombstoned) and never touches its
  files. A layer is live when ``<marker>/_SUCCESS`` exists and it carries
  no tombstone.
- **Two-phase GC**: displaced versions (``_superseded.json``, underscore
  so parquet scans of the dir skip it) and retired layers
  (``superseded.json``) are tombstoned in place and deleted by a later
  write pass once the tombstone is older than the grace period — a
  lockless reader keeps every path it resolved for that long.
- **Reconcile** (`Store.reconcile`, first step of every write path): the
  pointer is the only commit point, so crash recovery is a pure function
  of the tree — see its docstring.

flock is host-local; on an object store the pointer write is the
table-format commit and the catalog provides the lock.
"""

from __future__ import annotations

import fcntl
import json
import os
import shutil
import time
from dataclasses import dataclass

#: Tombstone of a retired layer or layout slug.
TOMBSTONE = "superseded.json"
#: Tombstone of a displaced version dir — underscore-prefixed so a stale
#: reader's parquet scan of that very dir never sees it as data.
VERSION_TOMBSTONE = "_superseded.json"


def lock_path(path: str) -> str:
    """The lock file guarding ``path``: ``.lock_<name>`` beside it."""
    path = os.path.abspath(path)
    return os.path.join(
        os.path.dirname(path), f".lock_{os.path.basename(path)}"
    )


class write_lock:
    """Exclusive advisory lock on one store or slug dir. flock is
    per-open-file, so it also serializes threads of one process.

    The lock file sits in the PARENT dir: GC rmtree's a collected dir
    while holding its lock, and deleting a held lock file would let a
    blocked waiter own the orphaned inode while a newcomer owns a fresh
    one. For the same reason acquisition re-verifies that the path
    still names the locked inode and retries on a fresh open if not.
    With ``blocking=False`` ``acquired`` is False when another holder
    has the lock, and the caller must skip the dir."""

    def __init__(self, path: str, blocking: bool = True):
        self._path = lock_path(path)
        os.makedirs(os.path.dirname(self._path), exist_ok=True)
        self._blocking = blocking
        self._f = None
        self.acquired = False

    def __enter__(self):
        flags = fcntl.LOCK_EX | (0 if self._blocking else fcntl.LOCK_NB)
        while True:
            self._f = open(self._path, "a")
            try:
                fcntl.flock(self._f, flags)
            except BlockingIOError:
                self._f.close()
                self._f = None
                return self
            try:
                same = (
                    os.stat(self._path).st_ino
                    == os.fstat(self._f.fileno()).st_ino
                )
            except FileNotFoundError:
                same = False
            if same:
                self.acquired = True
                return self
            # The file was unlinked while we waited: this inode is
            # invisible to new lockers — retry on a fresh open.
            fcntl.flock(self._f, fcntl.LOCK_UN)
            self._f.close()

    def __exit__(self, *exc):
        if self._f is not None:
            fcntl.flock(self._f, fcntl.LOCK_UN)
            self._f.close()
            self._f = None
        self.acquired = False
        return False


def remove_lock_file(path: str) -> None:
    """Delete a COLLECTED dir's lock file (caller holds its lock and has
    removed the dir), so regenerated content leaves no orphan lock
    files. Safe because `write_lock` re-verifies the inode."""
    try:
        os.remove(lock_path(path))
    except OSError:
        pass


def write_atomic(path: str, write, binary: bool = False) -> None:
    """Durably replace ``path`` with what ``write(f)`` writes to an open
    file: temp file, fsync, rename into place, fsync the directory."""
    tmp = path + ".tmp"
    with open(tmp, "wb" if binary else "w") as f:
        write(f)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, path)
    dfd = os.open(os.path.dirname(path) or ".", os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def write_json(path: str, obj) -> None:
    write_atomic(path, lambda f: json.dump(obj, f))


def read_json(path: str):
    """Parse a JSON file; None if it is absent or unparseable (every
    writer is atomic, so unparseable means foreign or torn storage)."""
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def tombstone(path: str, name: str = TOMBSTONE) -> None:
    """Phase 1 of GC: mark ``path`` for collection after grace. An
    existing tombstone is kept, so its grace clock never restarts."""
    tomb = os.path.join(path, name)
    if os.path.isdir(path) and not os.path.exists(tomb):
        write_json(tomb, {"ts": time.time()})


def tombstoned(path: str, name: str = TOMBSTONE) -> bool:
    return os.path.exists(os.path.join(path, name))


def resurrect(path: str, name: str = TOMBSTONE) -> None:
    """Drop ``path``'s tombstone: the dir is live state again."""
    try:
        os.remove(os.path.join(path, name))
    except FileNotFoundError:
        pass


def tombstone_ts(path: str, name: str = TOMBSTONE) -> float | None:
    """When ``path`` was tombstoned; None if it is not, or if the
    tombstone is unreadable (left for a later pass, never guessed at)."""
    doc = read_json(os.path.join(path, name))
    try:
        return float(doc["ts"])
    except (TypeError, KeyError, ValueError):
        return None


def grace(env: str) -> float:
    """The GC grace period in seconds from ``env`` (default 900)."""
    return float(os.environ.get(env, "900"))


def expired(
    path: str, grace_s: float, now: float, name: str = TOMBSTONE
) -> bool:
    ts = tombstone_ts(path, name)
    return ts is not None and now - ts > grace_s


def complete(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


@dataclass(frozen=True)
class Layers:
    """One keyed layer family: ``<root>/<key>/<marker>/`` parquet dirs,
    with the folded-key manifest stored in the pointer under ``field``
    (always written when ``always``, else only when non-empty)."""

    root: str
    marker: str
    field: str
    always: bool = False


@dataclass(frozen=True)
class Store:
    """The on-disk shape of one store kind: the pointer file name, the
    base dirs published per version, and the layer families. Pointer
    fields are written in ``layers`` order. Every method takes the
    store dir; write methods expect the caller to hold `write_lock`."""

    pointer_name: str
    bases: tuple[str, ...]
    layers: tuple[Layers, ...]

    def family(self, root: str) -> Layers:
        return next(f for f in self.layers if f.root == root)

    def pointer(self, d: str) -> dict | None:
        """The committed snapshot: one atomic parse, None if unbuilt."""
        ptr = read_json(os.path.join(d, self.pointer_name))
        if isinstance(ptr, dict) and isinstance(ptr.get("version"), int):
            return ptr
        return None

    def built(self, d: str) -> dict | None:
        """The pointer if every base dir of its version is complete."""
        ptr = self.pointer(d)
        if ptr is not None and all(
            complete(self.version_dir(d, b, ptr["version"]))
            for b in self.bases
        ):
            return ptr
        return None

    def version_dir(self, d: str, base: str, version: int) -> str:
        return os.path.join(d, f"{base}_v{version}")

    def version_dirs(self, d: str) -> list[tuple[str, int, str]]:
        """Every on-disk version dir as (base, version, path)."""
        out = []
        for name in os.listdir(d) if os.path.isdir(d) else ():
            base, _, n = name.rpartition("_v")
            if base in self.bases and n.isdigit():
                out.append((base, int(n), os.path.join(d, name)))
        return out

    def manifest(self, ptr: dict | None, root: str) -> list[str]:
        """Keys of ``root`` folded into the committed base, fold order."""
        return list((ptr or {}).get(self.family(root).field, ()))

    def live_layers(self, d: str, root: str, skip=()) -> list[str]:
        """Live layers of one family, sorted: complete, untombstoned, not
        swap scaffolding (``.next``/``.old-``), key not in ``skip``."""
        fam = self.family(root)
        top = os.path.join(d, root)
        if not os.path.isdir(top):
            return []
        return sorted(
            os.path.join(top, k)
            for k in os.listdir(top)
            if not k.endswith(".next")
            and ".old-" not in k
            and k not in skip
            and complete(os.path.join(top, k, fam.marker))
            and not tombstoned(os.path.join(top, k))
        )

    def deleted_ids(self, spark, d: str, root: str):
        """Distinct union of every live delete layer's ids, or None."""
        out = None
        for layer in self.live_layers(d, root):
            ids = spark.read.parquet(
                os.path.join(layer, self.family(root).marker)
            )
            out = ids if out is None else out.unionByName(ids)
        return None if out is None else out.distinct()

    def write_layer(self, d: str, root: str, key: str, write) -> None:
        """Write layer ``key`` aside and swap it in: ``write(path)``
        fills ``<key>.next``; an existing layer is renamed to
        ``<key>.old-<ms>`` and tombstoned (its files untouched, so a
        reader that resolved it keeps reading); then the fresh dir takes
        the key. A crash anywhere is healed by `reconcile`."""
        layer = os.path.join(d, root, key)
        fresh = layer + ".next"
        shutil.rmtree(fresh, ignore_errors=True)
        write(fresh)
        if os.path.exists(layer):
            old = f"{layer}.old-{int(time.time() * 1000)}"
            os.rename(layer, old)
            tombstone(old)
        os.rename(fresh, layer)

    def write_pointer(self, d: str, version: int, manifests: dict) -> None:
        """Atomically publish ``{"version": N, <field>: [keys], ...}``;
        ``manifests`` maps a family root to its folded keys."""
        doc = {"version": version}
        for fam in self.layers:
            keys = list(manifests.get(fam.root, ()))
            if keys or fam.always:
                doc[fam.field] = keys
        write_json(os.path.join(d, self.pointer_name), doc)

    def commit(self, d: str, version: int, manifests: dict, retired=()) -> None:
        """THE commit: write the pointer, then `retire` the layers whose
        content the new version holds (or discards) and every version
        below it. A crash after the pointer write leaves only missing
        tombstones, which `reconcile` re-lays."""
        self.write_pointer(d, version, manifests)
        self.retire(d, version, retired)

    def retire(self, d: str, version: int, layers) -> None:
        """Phase 1 of GC after a commit of ``version``."""
        for layer in layers:
            tombstone(layer)
        for _base, n, path in self.version_dirs(d):
            if n < version:
                tombstone(path, VERSION_TOMBSTONE)

    def fold(self, d: str, ptr: dict, layers: dict) -> None:
        """Commit version N+1 as the fold of ``layers`` ({root: live
        layer paths}) into version N: each family's manifest gains the
        folded keys in append-time order (layer mtime, name tiebreak —
        key spelling never decides recency: 'day10' < 'day2')."""
        manifests = {}
        for fam in self.layers:
            prior = self.manifest(ptr, fam.root)
            new = [
                os.path.basename(p)
                for p in sorted(
                    layers.get(fam.root, ()),
                    key=lambda p: (os.path.getmtime(p), p),
                )
            ]
            manifests[fam.root] = prior + [k for k in new if k not in prior]
        retired = [p for paths in layers.values() for p in paths]
        self.commit(d, ptr["version"] + 1, manifests, retired)

    def rebuild(self, d: str, version: int) -> None:
        """Commit ``version`` as a base built from scratch: the store is
        exactly the corpus just written, so every live layer of every
        family is retired and the manifests restart empty (a surviving
        append layer would re-enter reads; a surviving delete layer would
        filter rows the new corpus contains)."""
        live = [p for f in self.layers for p in self.live_layers(d, f.root)]
        self.commit(d, version, {}, live)

    def next_version(self, d: str) -> int:
        ptr = self.pointer(d)
        return 0 if ptr is None else ptr["version"] + 1

    def reconcile(self, d: str) -> None:
        """Bring the tree back to its committed state after any crash,
        then collect expired tombstones. Runs under the write lock at the
        top of every write path; readers never mutate the store.

        - Version dirs above the pointer (all of them when there is no
          pointer) were never committed: deleted.
        - Version dirs below the pointer are displaced: tombstoned.
        - A complete orphaned ``<key>.next`` is a swap that crashed
          between its renames: rolled forward. Any other ``.next`` is an
          unfinished write: deleted.
        - ``.old-`` layers and layers the pointer lists as folded get
          their tombstone if a crash lost it.
        - Tombstones older than the grace period are collected, and an
          emptied layer root is removed."""
        if not os.path.isdir(d):
            return
        ptr = self.pointer(d)
        for _base, n, path in self.version_dirs(d):
            if ptr is None or n > ptr["version"]:
                shutil.rmtree(path, ignore_errors=True)
            elif n < ptr["version"]:
                tombstone(path, VERSION_TOMBSTONE)
        for fam in self.layers:
            top = os.path.join(d, fam.root)
            if not os.path.isdir(top):
                continue
            for k in os.listdir(top):
                if not k.endswith(".next"):
                    continue
                nxt = os.path.join(top, k)
                layer = nxt[: -len(".next")]
                if not os.path.exists(layer) and complete(
                    os.path.join(nxt, fam.marker)
                ):
                    os.rename(nxt, layer)
                else:
                    shutil.rmtree(nxt, ignore_errors=True)
            folded = set(self.manifest(ptr, fam.root))
            for k in os.listdir(top):
                if ".old-" in k or k in folded:
                    tombstone(os.path.join(top, k))
        self.collect(d)

    def collect(self, d: str) -> None:
        """Phase 2 of GC: delete version dirs and layers whose tombstone
        is older than ``$PYCAIM_STORE_GC_GRACE`` seconds."""
        grace_s, now = grace("PYCAIM_STORE_GC_GRACE"), time.time()
        for _base, _n, path in self.version_dirs(d):
            if expired(path, grace_s, now, VERSION_TOMBSTONE):
                shutil.rmtree(path, ignore_errors=True)
        for fam in self.layers:
            top = os.path.join(d, fam.root)
            if not os.path.isdir(top):
                continue
            for k in os.listdir(top):
                if expired(os.path.join(top, k), grace_s, now):
                    shutil.rmtree(os.path.join(top, k), ignore_errors=True)
            if not os.listdir(top):
                os.rmdir(top)
