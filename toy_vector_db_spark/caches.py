"""The session memo: every artifact the engine builds once per session
and reuses — trained quantizers, persisted assignment/code frames, HNSW
indexes and their packed serving rows, collected query batches, the
minhash pair graph, written index artifacts, registry scans — lives in
ONE store in this module. A long-lived serving session builds once and
reuses (the reference, too, builds each index once and then searches
it, src/main.rs:41-43).

``memo(kind, build, *parts)`` runs ``build()`` once per key and returns
the stored value. The key is ``kind`` followed by one entry per part,
under one rule:

* a DataFrame keys as (appId, semanticHash, input-file snapshot);
* a SparkSession keys as its appId;
* an ``os.PathLike`` keys as (path, path snapshot);
* any other part keys as itself.

The two snapshots are the store's staleness rules. A frame's snapshot
(``_input_snapshot``) fingerprints the files Spark reads for it (path,
size, mtime), so a file-backed input rewritten in place — same plan,
same semantic hash — misses instead of serving the artifact built from
the old bytes. A path's snapshot (``_path_snapshot``) does the same for
a file or directory named by the caller before any plan exists (a
registry scan, a staged stream's schema).

A DataFrame object's plan never changes, and Spark lists the files of a
path it reads once, when the frame is read. So the py4j half of a
frame's key (appId, semanticHash, input-file list) is derived once per
frame object (``_frame``); only the ``os.stat`` of its files runs on
every lookup. (A catalog table whose partitions change under one frame
object is the exception: its new files are not in the memoized list.)

An entry may be derived from another: ``memo(..., owner=(kind,
*parts))`` declares it, and removing the owner's entry (``evict``,
``drop``, ``restore``) removes the derived entry with it — the
``"assign"`` projection ``similarity.cached_cell_vectors`` seeds over
its persisted frame leaves with that frame, and the exact-scan frame
``similarity._exact_scan`` persists over a session-built cell artifact
leaves with that artifact.

Bench hygiene: ``snapshot`` / ``added_since`` / ``drop`` / ``restore``
let bench.py record the entries a build key's warmup run added and evict
exactly those before each timed sample, so every repeat re-executes the
real build while the artifacts it merely consumes stay warm; eviction
unpersists any Spark frames or broadcasts it drops. ``reset`` drops
everything — pair it with ``spark.catalog.clearCache()``, or the store
keeps serving frames whose storage is gone.
"""

from __future__ import annotations

import os
import weakref
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

_store: dict[tuple, Any] = {}
# derived entry's key -> its owner's key (memo's ``owner``)
_owner: dict[tuple, tuple] = {}
# DataFrame -> (appId, semanticHash, sorted input files)
_frame_parts: "weakref.WeakKeyDictionary[DataFrame, tuple]" = (
    weakref.WeakKeyDictionary()
)


def _frame(df: DataFrame) -> tuple:
    """(appId, semanticHash, sorted input files) of a DataFrame, over
    py4j once per frame object."""
    frame = _frame_parts.get(df)
    if frame is None:
        try:
            files = tuple(sorted(df.inputFiles()))
        except Exception:  # non-file relations / analysis corner cases
            files = ()
        frame = _frame_parts[df] = (
            df.sparkSession.sparkContext.applicationId,
            df.semanticHash(),
            files,
        )
    return frame


def _input_snapshot(df: DataFrame) -> int:
    """Order-insensitive fingerprint of the files backing a DataFrame —
    empty (stable) for non-file-backed plans, where the semantic hash
    alone is the key.

    Each file's size and mtime count, not just its path: an in-place
    rewrite that PRESERVES filenames (compaction, dynamic-partition
    overwrite) must also invalidate. Stat-ing is driver-side metadata
    (no Spark job); files Spark lists but the OS can't stat (a remote
    scheme) degrade to path-only entries rather than erroring."""
    from urllib.parse import unquote, urlparse

    entries = []
    for f in _frame(df)[2]:
        # inputFiles() renders Hadoop Paths as URIs — seen as both
        # file:///p and file:/p, with special characters percent-
        # encoded; urlparse+unquote handles every form
        p = unquote(urlparse(f).path) if f.startswith("file:") else f
        try:
            st = os.stat(p)
            entries.append((f, st.st_size, st.st_mtime_ns))
        except OSError:
            entries.append((f, -1, -1))
    return hash(tuple(entries))


def _path_snapshot(path: str) -> tuple:
    """(size, mtime_ns) of a file, one (name, size, mtime_ns) entry per
    child of a directory, ("missing",) when the path does not exist."""
    try:
        st = os.stat(path)
    except OSError:
        return ("missing",)
    if os.path.isdir(path):
        entries = []
        for de in sorted(os.scandir(path), key=lambda d: d.name):
            try:
                s = de.stat()
                entries.append((de.name, s.st_size, s.st_mtime_ns))
            except OSError:
                entries.append((de.name, -1, -1))
        return tuple(entries)
    return (st.st_size, st.st_mtime_ns)


def _part(p: Any) -> Any:
    if isinstance(p, DataFrame):
        return (*_frame(p)[:2], _input_snapshot(p))
    if isinstance(p, SparkSession):
        return p.sparkContext.applicationId
    if isinstance(p, os.PathLike):
        path = os.fspath(p)
        return (path, _path_snapshot(path))
    return p


def _key(kind: str, parts: tuple) -> tuple:
    return (kind, *map(_part, parts))


def memo(
    kind: str, build: Callable[[], Any], *parts, owner: tuple | None = None
) -> Any:
    """``build()``'s value, built once per (kind, parts) key. ``owner``,
    another entry's (kind, *parts), declares the value built here as
    derived from that entry: removing the owner removes it too."""
    key = _key(kind, parts)
    if key not in _store:
        _store[key] = build()
        if owner is not None:
            _owner[key] = _key(owner[0], owner[1:])
    return _store[key]


def materialized(df: DataFrame) -> DataFrame:
    """``df`` persisted and materialized now (the caller is a build
    step)."""
    df = df.persist()
    df.count()
    return df


def persisted(
    kind: str,
    build: Callable[[], DataFrame],
    *parts,
    owner: tuple | None = None,
) -> DataFrame:
    """``memo`` of ``build()``'s frame, persisted and materialized when
    it is built (``owner`` as in ``memo``)."""
    return memo(kind, lambda: materialized(build()), *parts, owner=owner)


def get(kind: str, *parts) -> Any:
    """The stored value of the key, or None when nothing is stored."""
    return _store.get(_key(kind, parts))


def evict(kind: str, *parts) -> None:
    """Drop the key's entry, if any, releasing what Spark holds for it."""
    _remove(_key(kind, parts))


def _remove(key: tuple) -> int:
    """Drop the key's entry and the entries derived from it, unpersisting
    what they hold; returns entries dropped."""
    if key not in _store:
        return 0
    _unpersist(_store.pop(key))
    _owner.pop(key, None)
    derived = [k for k, o in _owner.items() if o == key]
    return 1 + sum(map(_remove, derived))


def values(kind: str) -> list:
    """Every stored value of ``kind``."""
    return [v for k, v in _store.items() if k[0] == kind]


def snapshot() -> list[tuple[dict, frozenset]]:
    """Key-set snapshot of the store, as (mapping, keys) pairs. Values
    are not copied: restore only ever REMOVES entries added after the
    snapshot, and no entry is mutated once stored."""
    return [(_store, frozenset(_store))]


def _unpersist(value: Any) -> None:
    # values are DataFrames, tuples of DataFrames, broadcast handles,
    # plain lists/ints, collected query batches or path strings;
    # release what Spark is holding storage for
    from pyspark import Broadcast

    if isinstance(value, DataFrame):
        try:
            value.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release
    elif isinstance(value, Broadcast):
        # unpersist, NOT destroy: destroy() invalidates the handle, so a
        # persisted downstream frame that lazily references the
        # broadcast (a cached assignment frame over the SemDeDup kernel)
        # would fail with 'Broadcast destroyed' if it ever recomputed
        # after eviction. unpersist releases the executor copies and
        # keeps the driver copy re-broadcastable.
        try:
            value.unpersist()
        except Exception:
            pass
    elif isinstance(value, (tuple, list)):
        for v in value:
            _unpersist(v)


def added_since(snap: list[tuple[dict, frozenset]]) -> list[tuple[dict, Any]]:
    """(mapping, key) pairs for every entry added after ``snap`` was
    taken. bench.py records each build key's OWNED entries during the
    untimed warmup pass this way, so the timed samples can evict exactly
    those entries (``drop``) and measure a real rebuild while everything
    the key merely CONSUMES — upstream quantizers, fixture scans — stays
    warm."""
    return [(d, k) for d, keys in snap for k in d if k not in keys]


def drop(entries: list[tuple[dict, Any]]) -> int:
    """Evict the given (mapping, key) entries and the entries derived
    from them, unpersisting any Spark frames they held; missing keys are
    skipped (a prior drop in the same timed loop already removed them).
    Returns entries dropped."""
    return sum(_remove(k) for _, k in entries)


def restore(snap: list[tuple[dict, frozenset]]) -> int:
    """Drop every entry added since ``snap`` (unpersisting dropped Spark
    frames); returns the number of entries dropped."""
    return drop(added_since(snap))


def reset() -> int:
    """Drop EVERY entry (unpersisting Spark frames); returns entries
    dropped.

    Pair this with ``spark.catalog.clearCache()`` whenever the Spark
    cache is wiped mid-session: clearCache unpersists the data but the
    store would keep serving the now-unpersisted frames, whose full
    logical plans then inline into consumers — silently degrading plans
    (a codes⋈assign artifact join that was an InMemoryTableScan becomes
    a corpus-scale SortMergeJoin)."""
    return restore([(_store, frozenset())])
