"""Session-cache registry: snapshot/restore for bench hygiene.

Several operators populate module-level session caches (trained
quantizers, persisted assignment/code frames, the HNSW graph, the
minhash pair graph, written index artifacts). That is correct engine
behavior — a long-lived serving session builds once and reuses — but it
breaks bench measurement of the BUILD keys: a second timed run of
``hnsw_build`` measures a dict hit, not a build, so bench.py historically
timed build keys once (n=1), and round 6's record shows exactly what n=1
costs: one noisy 7.48 s sample became the round's official ``hnsw_build``
number (verified 2.29 s in isolation; r7 verdict item 1).

The fix: bench.py snapshots every session cache before a build key's
first run and restores the snapshot between repeats, so each repeat
re-executes the real build; the final run's artifacts are kept so
downstream search keys still reuse them exactly as before. Restore
removes only the entries a run ADDED (pre-existing artifacts from
earlier build keys — e.g. the ivf_train centroids that ivfpq_build
legitimately consumes — stay), and unpersists any Spark-persisted frames
it drops so repeats don't accumulate executor storage.
"""

from __future__ import annotations

from typing import Any


def _cache_dicts() -> list[dict]:
    """Every module-level session cache, by reference. New caches must be
    added here (tests/test_bench_contract.py greps for the _CACHE naming
    convention and fails if a cache dict is missing from this list)."""
    from toy_vector_db_spark import registry
    from toy_vector_db_spark.functions import vector
    from toy_vector_db_spark.operators import dedup, hnsw, knn, similarity
    from toy_vector_db_spark.streaming import ingest
    from toy_vector_db_spark.streaming import windows as stream_windows

    return [
        vector._EXPR_CACHE,
        similarity._SAMPLE_CACHE,
        similarity._TRAINED_CACHE,
        similarity._ASSIGN_CACHE,
        similarity._WRITTEN_INDEX_CACHE,
        similarity._COUNT_CACHE,
        similarity._CELL_VECTORS_CACHE,
        similarity._PQ_BOOKS_CACHE,
        similarity._CODEC_CACHE,
        similarity._LABEL_HIST_CACHE,
        similarity._PROBE_ROUTING_CACHE,
        dedup._PAIRS_CACHE,
        dedup._SEM_BCAST_CACHE,
        hnsw._INDEX_CACHE,
        hnsw._PACKED_EDGE_CACHE,
        knn._QUERY_BATCH_CACHE,
        ingest._INGEST_CACHE,
        stream_windows._STREAM_SCHEMA_CACHE,
        registry._N_CACHE,
        registry._EVAL_CACHE,
        registry._TABLE_CACHE,
    ]


def snapshot() -> list[tuple[dict, frozenset]]:
    """Key-set snapshot of every session cache (values are not copied —
    restore only ever REMOVES entries added after the snapshot; existing
    entries are never mutated by the operators)."""
    return [(d, frozenset(d.keys())) for d in _cache_dicts()]


def _unpersist(value: Any) -> None:
    # cache values are DataFrames, tuples of DataFrames, broadcast
    # handles, plain lists/ints, collected query batches or path
    # strings; release what Spark is holding storage for
    from pyspark import Broadcast
    from pyspark.sql import DataFrame

    if isinstance(value, DataFrame):
        try:
            value.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release
    elif isinstance(value, Broadcast):
        # unpersist, NOT destroy (advice r13): destroy() invalidates the
        # handle, so a persisted downstream frame that lazily references
        # the broadcast (e.g. a cached assignment frame over the
        # SemDeDup kernel) would fail with 'Broadcast destroyed' if it
        # ever lost storage and recomputed after eviction. unpersist
        # releases the executor copies but keeps the driver copy
        # re-broadcastable, so such a recompute transparently re-ships.
        try:
            value.unpersist()
        except Exception:
            pass
    elif isinstance(value, (tuple, list)):
        for v in value:
            _unpersist(v)


def added_since(snap: list[tuple[dict, frozenset]]) -> list[tuple[dict, Any]]:
    """(cache dict, key) pairs for every entry added after ``snap`` was
    taken. bench.py records each build key's OWNED entries during the
    untimed warmup pass this way, so the timed samples can evict exactly
    those entries (``drop``) and measure a real rebuild while everything
    the key merely CONSUMES — upstream quantizers, fixture scans — stays
    warm (verdict r8 item 1: the r8 driver record charged a cold
    quantizer-cache build to a serving key's samples)."""
    return [(d, k) for d, keys in snap for k in d if k not in keys]


def drop(entries: list[tuple[dict, Any]]) -> int:
    """Evict the given (cache dict, key) entries, unpersisting any Spark
    frames they held; missing keys are skipped (a prior drop in the same
    timed loop already removed them). Returns entries dropped."""
    dropped = 0
    for d, k in entries:
        if k in d:
            _unpersist(d.pop(k))
            dropped += 1
    return dropped


def restore(snap: list[tuple[dict, frozenset]]) -> int:
    """Drop every cache entry added since ``snap`` (unpersisting dropped
    Spark frames); returns the number of entries dropped."""
    dropped = 0
    for d, keys in snap:
        for k in [k for k in d if k not in keys]:
            _unpersist(d.pop(k))
            dropped += 1
    return dropped


def reset() -> int:
    """Drop EVERY session-cache entry (unpersisting Spark frames).

    Pair this with ``spark.catalog.clearCache()`` whenever the Spark
    cache is wiped mid-session: clearCache unpersists the data but the
    module caches would keep serving the now-unpersisted frames, whose
    full logical plans then inline into consumers — silently degrading
    plans (a codes⋈assign artifact join that was an InMemoryTableScan
    becomes a corpus-scale SortMergeJoin). Resetting forces every
    artifact to rebuild freshly persisted. Returns entries dropped."""
    # = restore() against an empty snapshot: one copy of the
    # drop/unpersist semantics, two entry points
    return restore([(d, frozenset()) for d in _cache_dicts()])
