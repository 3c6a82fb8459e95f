"""HNSW gates (SURVEY §5 item 3): recall@10 vs exact KNN ≥ 0.9 — the
reference's own acceptance metric (src/main.rs:89-93) — plus graph
invariants and determinism."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from toy_vector_db_spark import caches
from toy_vector_db_spark.operators import evaluation, hnsw, knn
from toy_vector_db_spark.sources.ndjson import split_count


@pytest.fixture(scope="module")
def split(embeddings):
    n = embeddings.count()
    cut = split_count(n, 0.95)
    base = embeddings.where(F.col("vec_id") < cut)
    qs = embeddings.where(F.col("vec_id") >= cut).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return base.cache(), qs.cache()


def test_recall_gate(split):
    base, qs = split
    exact = knn.knn_exact_batch(base, qs, 10)
    approx = hnsw.knn_hnsw(base, qs, 10, num_partitions=8)
    rec = evaluation.evaluate_recall(approx, exact)
    mean_recall = rec.agg(F.avg("recall")).first()[0]
    assert mean_recall >= 0.9, f"mean recall@10 = {mean_recall}"


def test_graph_invariants(split):
    base, _ = split
    edges = hnsw.build_edges(base, num_partitions=8).cache()
    stats = (
        edges.groupBy("layer", "src")
        .agg(F.count("*").alias("deg"))
        .groupBy("layer")
        .agg(F.max("deg").alias("max_deg"), F.count("*").alias("nodes"))
        .collect()
    )
    by_layer = {r.layer: r for r in stats}
    # degree bound M_max=32 (src/hnsw.rs:157-167)
    assert all(r.max_deg <= hnsw.M_MAX for r in stats)
    # layers thin out going up (exponential level distribution)
    layers = sorted(by_layer)
    assert layers[0] == 0
    for lo, hi in zip(layers, layers[1:]):
        assert by_layer[hi].nodes <= by_layer[lo].nodes
    # every base point is a node at layer 0 (paper semantics: every insert
    # connects at layer 0 — the reference's l=0 disconnect quirk is fixed)
    n_base = base.count()
    layer0_nodes = edges.where("layer = 0").select("src").distinct().count()
    assert layer0_nodes == n_base
    edges.unpersist()


def test_reconstruction_matches_insert_built_graph():
    """Every search runs on a graph REBUILT from stored edge rows, so
    the rebuild must be the insert-built graph. Spark-free, two checks:
    (1) _graph_shell + _csr_from_edges over a graph's edge rows returns
    identical search() lists — distances, ids, order — to the insert-
    built LocalHNSW for random queries at narrow, default and exhaustive
    ef; (2) the ingest's append reconstruction (_dict_graph over the old
    ids' rows, then insert of the new tail) gives the scratch build of
    all ids edge for edge."""
    for n_old, n_new in ((300, 40), (500, 1), (64, 64)):
        rng = np.random.default_rng(n_old + n_new)
        n = n_old + n_new
        vecs = rng.normal(size=(n, 16))
        ids = np.sort(rng.choice(10 * n, size=n, replace=False))
        levels = [hnsw.deterministic_level(int(i)) for i in ids]
        scratch = hnsw.LocalHNSW(vecs)
        scratch.build(levels)
        rows = hnsw._edge_rows(0, ids, scratch)

        served = hnsw._graph_shell(ids, vecs)
        served.csr = hnsw._csr_from_edges(ids, rows)
        for ef in (10, 100, n):
            for q in rng.normal(size=(50, 16)):
                assert served.search(q, ef) == scratch.search(q, ef), (n, ef)

        old = hnsw.LocalHNSW(vecs[:n_old])
        old.build(levels[:n_old])
        grown = hnsw._dict_graph(
            ids[:n_old], vecs,
            hnsw._csr_from_edges(ids[:n_old], hnsw._edge_rows(0, ids[:n_old], old)),
        )
        for local in range(n_old, n):
            grown.insert(local, levels[local])
        got = hnsw._edge_rows(0, ids, grown)
        assert sorted(got.itertuples(index=False)) == sorted(
            rows.itertuples(index=False)
        ), (n_old, n_new)


def test_fused_search_leaves_nothing_behind(spark, split):
    """knn_hnsw is build-then-prebuilt over an UNCACHED pack: a call
    adds no index or packed-edge cache entry and persists no RDD."""
    base, qs = split
    base.count(), qs.count()  # materialize the fixture's own caches

    def state():
        return (
            [id(v) for v in caches.values("hnsw_index")],
            [id(v) for v in caches.values("hnsw_packed")],
            spark.sparkContext._jsc.getPersistentRDDs().size(),
        )

    before = state()
    assert hnsw.knn_hnsw(base, qs, 10, num_partitions=4).collect()
    assert state() == before


def test_shard_topk_emission_bit_identical(split):
    """Each shard emits only its local top-k into the rerank exchange
    (round-2 verdict fix). Asking for k=ef makes the kernel emit ALL ef
    beam candidates (the old behavior); globally reranking those to 10
    must equal the k=10 run exactly — truncation changes exchange volume,
    never results."""
    base, qs = split
    got = hnsw.knn_hnsw(base, qs, 10, num_partitions=8, ef=100)
    full = hnsw.knn_hnsw(base, qs, 100, num_partitions=8, ef=100)
    want = full.where(F.col("rank") <= 10)
    a = sorted(got.collect(), key=lambda r: (r.query_id, r.rank))
    b = sorted(want.collect(), key=lambda r: (r.query_id, r.rank))
    assert a == b


def test_build_deterministic(split):
    base, _ = split
    s1 = hnsw.build_edges(base, 8).groupBy("layer").count().orderBy("layer").collect()
    s2 = hnsw.build_edges(base, 8).groupBy("layer").count().orderBy("layer").collect()
    assert s1 == s2


def test_level_distribution():
    # P(level=0) ≈ 0.75 with mL = 1/ln4 (src/hnsw.rs:91-96)
    levels = [hnsw.deterministic_level(i) for i in range(20000)]
    frac0 = levels.count(0) / len(levels)
    assert 0.72 < frac0 < 0.78
    assert max(levels) <= hnsw.L - 1


def test_ef_sweep_monotone_recall(split):
    """Beam width is the recall lever: recall(ef=10) ≤ recall(ef=100), and
    the narrow beam must still beat random guessing by a wide margin —
    evidence the graph routes toward true neighbors (not exhaustive scan)."""
    base, qs = split
    exact = knn.knn_exact_batch(base, qs, 10)
    recalls = {}
    for ef in (10, 100):
        approx = hnsw.knn_hnsw(base, qs, 10, num_partitions=8, ef=ef)
        rec = evaluation.evaluate_recall(approx, exact)
        recalls[ef] = rec.agg(F.avg("recall")).first()[0]
    assert recalls[10] <= recalls[100] + 1e-9
    assert recalls[10] >= 0.5  # narrow beam still routes well
    assert recalls[100] >= 0.9


def test_shard_count_robustness(split):
    """Recall holds across shard counts (the scale lever): P=4 and P=16
    both stay above the gate — resharding a growing corpus doesn't change
    the quality contract."""
    base, qs = split
    exact = knn.knn_exact_batch(base, qs, 10)
    for p in (4, 16):
        approx = hnsw.knn_hnsw(base, qs, 10, num_partitions=p)
        rec = evaluation.evaluate_recall(approx, exact).agg(F.avg("recall")).first()[0]
        assert rec >= 0.9, f"P={p}: recall {rec}"


def test_local_hnsw_exactish_on_small_set():
    # beam ef >= n makes HNSW search exhaustive -> must equal brute force
    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(80, 16))
    idx = hnsw.LocalHNSW(vecs)
    idx.build([hnsw.deterministic_level(i) for i in range(80)])
    q = rng.normal(size=16)
    got = [i for _, i in idx.search(q, ef=100)][:5]
    sims = vecs @ q / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(q))
    want = list(np.argsort(1.0 - np.maximum(sims, 0.0), kind="stable")[:5])
    assert got == [int(w) for w in want]


def test_packed_index_guards_mismatched_artifacts(
    spark, embeddings, split, monkeypatch
):
    """A packed serving row is self-contained (ids, vectors, CSR), so a
    search can no longer pair one build's vectors with another build's
    edges. Two guards remain. Packing a mismatched (cells, edges) pair
    raises in _csr_from_edges. And the search kernel checks every row's
    ``ids_fp``, ``n`` and indptr lengths against the row's own ids on
    both legs (bounded map and Catalyst cogroup), so a tampered or
    stale row raises instead of walking local indices into the wrong
    vectors."""
    base, qs = split
    parted, edges = hnsw.cached_index(base, "#pack_guard", 4)
    # vectors of one build (a row dropped), edges of another
    parted_minus = parted.where(F.col("vec_id") != 0)
    with pytest.raises(Exception, match="absent from this shard"):
        hnsw.pack_index(parted_minus, edges).collect()

    packed = hnsw.pack_index(parted, edges)
    tampered = {
        "ids_fp": packed.withColumn("ids_fp", F.lit(b"\x00" * 8)),
        "n": packed.withColumn("n", F.col("n") + 1),
        "indptr": packed.withColumn(
            "l0_indptr", F.expr("substring(l0_indptr, 9)")
        ),
    }
    bounded = knn.QUERY_BATCH_MAX
    for bad in tampered.values():
        for batch_max in (bounded, 0):
            monkeypatch.setattr(knn, "QUERY_BATCH_MAX", batch_max)
            with pytest.raises(
                Exception, match="does not match its own ids"
            ):
                hnsw._prebuilt_search(
                    bad, qs, 5, 100,
                    "vec_id", "query_id", "query_vec",
                ).collect()
