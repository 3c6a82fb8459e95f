"""The session memo's one key rule (caches.py): a DataFrame part keys as
(appId, semanticHash, input-file snapshot), so a memo never hands one
frame's artifact to another frame, nor to the same plan read back after
its files were rewritten in place."""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from toy_vector_db_spark import caches
from toy_vector_db_spark.operators import hnsw, similarity
from toy_vector_db_spark.sources.ndjson import split_count


@pytest.fixture
def store():
    """Entries a test adds leave with it."""
    snap = caches.snapshot()
    yield
    caches.restore(snap)


def _vectors(n: int, d: int, seed: int, first_id: int = 0) -> list:
    rng = np.random.default_rng(seed)
    return [(first_id + i, rng.normal(size=d).tolist()) for i in range(n)]


def test_path_part_misses_after_the_path_changes(tmp_path, store):
    f = tmp_path / "t.bin"
    f.write_bytes(b"a")
    assert caches.memo("__test__", lambda: 1, f) == 1
    assert caches.memo("__test__", lambda: 2, f) == 1  # hit
    f.write_bytes(b"bb")
    assert caches.memo("__test__", lambda: 3, f) == 3  # size changed


def test_similarity_memo_misses_after_in_place_rewrite(spark, tmp_path, store):
    """A file-backed base rewritten in place keeps its plan and its
    semantic hash; only the input-file snapshot tells the two reads
    apart, and the trained-centroid memo must train on the new bytes."""
    part = tmp_path / "base" / "part-0.parquet"
    part.parent.mkdir()

    def write(seed: int) -> None:
        rows = _vectors(300, 8, seed)
        pq.write_table(
            pa.table({
                "vec_id": pa.array([r[0] for r in rows], pa.int64()),
                "embedding": pa.array(
                    [r[1] for r in rows], pa.list_(pa.float64())
                ),
            }),
            part,
        )

    write(1)
    old = spark.read.parquet(str(part.parent))
    first = similarity.cached_trained_centroids(old, 4).collect()
    write(2)
    # a rewrite lands later than the first write, whatever the file
    # system's timestamp granularity
    st = os.stat(part)
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    new = spark.read.parquet(str(part.parent))
    assert new.semanticHash() == old.semanticHash()  # the hazard

    got = similarity.cached_trained_centroids(new, 4).collect()
    fresh = spark.createDataFrame(new.collect(), new.schema)
    assert got == similarity.cached_trained_centroids(fresh, 4).collect()
    assert got != first


def test_index_key_includes_the_plan(spark, store):
    """Two bases under one cache_key get their own indexes."""
    schema = "vec_id long, embedding array<double>"
    a = spark.createDataFrame(_vectors(120, 8, 1), schema)
    b = spark.createDataFrame(_vectors(120, 8, 2, first_id=1000), schema)
    parted_a, _ = hnsw.cached_index(a, "same", 2)
    parted_b, _ = hnsw.cached_index(b, "same", 2)
    ids = sorted(r[0] for r in parted_b.select("vec_id").collect())
    assert ids == list(range(1000, 1120))
    assert hnsw.cached_index(a, "same", 2)[0] is parted_a


def test_streaming_hnsw_ingest_reuses_the_upsert_index(spark, sf_dir):
    """The streaming HNSW drain starts from the batch upsert key's
    initial index: the same plan, so the same store key, and no second
    build."""
    from toy_vector_db_spark import registry
    from toy_vector_db_spark.streaming import ingest

    registry.queries()["hnsw_upsert_search"](spark, sf_dir)
    cut = split_count(registry._emb_count(spark, sf_dir), registry.SPLIT_RATIO)
    lo = split_count(cut, registry.UPSERT_RATIO)
    P = registry.HNSW_PARTITIONS
    caches.evict("ingest", spark, sf_dir, lo, cut, "hnsw", P)  # drain anew
    snap = caches.snapshot()
    ingest.stream_ingest_hnsw(spark, sf_dir, lo, cut, P)
    kinds = [k[0] for _, k in caches.added_since(snap)]
    assert "ingest" in kinds
    assert "hnsw_index" not in kinds, kinds


def test_repeated_lookup_keys_a_frame_over_py4j_once(
    spark, tmp_path, monkeypatch, store
):
    """The frame's appId, semanticHash and file list are derived once
    per DataFrame object; its files are still stat'ed on every lookup,
    so a rewrite under the same object misses."""
    part = tmp_path / "t" / "part-0.parquet"
    part.parent.mkdir()
    pq.write_table(pa.table({"x": pa.array([1, 2], pa.int64())}), part)
    df = spark.read.parquet(str(part.parent))
    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    commands = []

    def counting_send(command, *args, **kwargs):
        commands.append(command)
        return send(command, *args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting_send)
    assert caches.memo("__test__", lambda: 1, df) == 1
    assert caches.memo("__test__", lambda: 2, df) == 1  # hit
    pq.write_table(pa.table({"x": pa.array([1, 2, 3], pa.int64())}), part)
    st = os.stat(part)
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert caches.memo("__test__", lambda: 3, df) == 3  # files changed
    assert sum("\nsemanticHash\n" in c for c in commands) == 1
    assert sum("\ninputFiles\n" in c for c in commands) == 1


def test_evicting_cell_vectors_drops_the_assign_it_seeded(spark, store):
    """cached_cell_vectors seeds the "assign" entry as a projection of
    its persisted frame; evicting the frame's entry takes the projection
    with it, while an assign entry built on its own stays."""
    schema = "vec_id long, embedding array<double>"
    seeded = spark.createDataFrame(_vectors(300, 8, 3), schema)
    similarity.cached_cell_vectors(seeded)
    assert caches.get("assign", seeded, "vec_id", "embedding") is not None
    caches.evict("cell_vectors", seeded, "vec_id", "embedding")
    assert caches.get("assign", seeded, "vec_id", "embedding") is None

    own = spark.createDataFrame(_vectors(300, 8, 4), schema)
    assign = similarity.cached_trained_assign(own)
    similarity.cached_cell_vectors(own)
    caches.evict("cell_vectors", own, "vec_id", "embedding")
    assert caches.get("assign", own, "vec_id", "embedding") is assign


def test_evicting_ivfpq_cells_drops_the_exact_scan_derived_from_it(
    spark, store
):
    """A bounded IVF-PQ search over the session-built cells persists its
    scan ⋈ base frame as an entry owned by the "ivfpq_cells" entry:
    evicting the cells drops it too, and the next search builds both
    again. A search over an injected table reranks on the Catalyst tail
    and persists no scan frame of its own."""
    schema = "vec_id long, embedding array<double>"
    base = spark.createDataFrame(_vectors(400, 16, 5), schema)
    qs = spark.createDataFrame(
        _vectors(3, 16, 6, first_id=1000),
        "query_id long, query_vec array<double>",
    )
    cols = ("vec_id", "embedding")

    def scan_of(cells):
        return caches.get("exact_scan", "pq", cells, base, *cols)

    assert len(similarity.knn_ivfpq(base, qs, 5).collect()) == 15
    cells = similarity.cached_codes_cells(base)
    scan = scan_of(cells)
    assert scan is not None
    similarity.knn_ivfpq(base, qs, 5).collect()
    assert scan_of(cells) is scan  # reused, not rebuilt

    injected = cells.where(cells["vec_id"] % 2 == 0)
    similarity.knn_ivfpq(base, qs, 5, codes_cells=injected).collect()
    assert scan_of(injected) is None

    caches.evict("ivfpq_cells", base, *cols)
    assert scan_of(cells) is None
    assert len(similarity.knn_ivfpq(base, qs, 5).collect()) == 15
    rebuilt = similarity.cached_codes_cells(base)
    assert scan_of(rebuilt) is not None and scan_of(rebuilt) is not scan
