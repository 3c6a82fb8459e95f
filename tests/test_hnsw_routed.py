"""IVF-routed HNSW: recall bounded by routing, exact within probed cells."""

import numpy as np
from pyspark.sql import functions as F

from toy_vector_db_spark.operators import evaluation, hnsw, knn, similarity
from toy_vector_db_spark.registry import RECALL_GATE
from toy_vector_db_spark.sources.ndjson import split_count


def _split(embeddings):
    n = embeddings.count()
    cut = split_count(n, 0.95)
    base = embeddings.where(F.col("vec_id") < cut)
    qs = embeddings.where(F.col("vec_id") >= cut).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return base, qs


def test_routed_recall_floor(spark, embeddings):
    base, qs = _split(embeddings)
    exact = knn.knn_exact_batch(base, qs, 10)
    routed = hnsw.knn_hnsw_routed(base, qs, 10)
    rec = evaluation.evaluate_recall(routed, exact).agg(F.avg("recall")).first()[0]
    # routing bound (same as knn_ivf at the shared default nprobe=6,
    # round-5 knob): probe recall ~0.70 × near-exact in-cell graph search
    assert rec >= 0.55, f"routed recall@10 = {rec}"


def _fold_dist(a, b):
    """Clamped cosine distance of every row of ``a`` to every row of
    ``b`` with each dot and squared-norm fold a sequential np.cumsum
    along the last axis — the order Catalyst's aggregate(zip_with(...))
    folds in, so the doubles match the engine's routing bit for bit."""
    dot = np.cumsum(a[:, None, :] * b[None, :, :], axis=-1)[..., -1]
    mag_a = np.sqrt(np.cumsum(a * a, axis=-1)[:, -1])
    mag_b = np.sqrt(np.cumsum(b * b, axis=-1)[:, -1])
    return 1.0 - np.maximum(0.0, dot / (mag_a[:, None] * mag_b[None, :]))


def test_routed_matches_numpy_reference(spark, embeddings):
    """knn_hnsw_routed against a numpy reference that shares no code
    with the engine's routing or graph: only the trained centroids are
    taken from the engine, as input data. Base rows go to their nearest
    centroid and queries probe their N_PROBE nearest, both by the fold
    distance with ties broken by centroid_id. Every returned id must lie
    in a probed cell with its exact distance; at ef=500 (exhaustive in
    every cell) each query's ids are the exact top-10 of its probed
    cells, and at the default ef recall against that top-10 meets the
    registry's gate."""
    k = 10
    base, qs = _split(embeddings)
    cents = sorted(
        (r.centroid_id, r.centroid_vec)
        for r in similarity.cached_trained_centroids(base).collect()
    )
    cvec = np.array([v for _, v in cents], dtype=np.float64)
    cid = np.array([c for c, _ in cents])
    brows = base.select("vec_id", "embedding").collect()
    bid = np.array([r.vec_id for r in brows])
    bvec = np.array([r.embedding for r in brows], dtype=np.float64)
    qrows = qs.collect()
    qvec = np.array([r.query_vec for r in qrows], dtype=np.float64)
    base_cell = cid[np.argmin(_fold_dist(bvec, cvec), axis=1)]
    probes = cid[
        np.argsort(_fold_dist(qvec, cvec), axis=1, kind="stable")
    ][:, : similarity.N_PROBE]
    bnorm = np.linalg.norm(bvec, axis=1)

    want, exact_d = {}, {}
    for r, q, probed in zip(qrows, qvec, probes):
        d = 1.0 - np.maximum(bvec @ q / (bnorm * np.linalg.norm(q)), 0.0)
        exact_d[r.query_id] = dict(zip(bid.tolist(), d.tolist()))
        inside = np.flatnonzero(np.isin(base_cell, probed))
        top = inside[np.lexsort((bid[inside], d[inside]))][:k]
        want[r.query_id] = set(bid[top].tolist())
    cell_of = dict(zip(bid.tolist(), base_cell.tolist()))
    probed_of = {r.query_id: set(p.tolist()) for r, p in zip(qrows, probes)}

    recalls = {}
    for ef in (500, hnsw.EF_SEARCH):
        got: dict[int, set] = {qid: set() for qid in want}
        for row in hnsw.knn_hnsw_routed(base, qs, k, ef=ef).collect():
            assert cell_of[row.vec_id] in probed_of[row.query_id], row
            assert abs(row.dist - exact_d[row.query_id][row.vec_id]) <= 1e-9
            got[row.query_id].add(row.vec_id)
        if ef == 500:
            assert got == want
        recalls[ef] = np.mean([len(got[q] & want[q]) / k for q in want])
    assert recalls[hnsw.EF_SEARCH] >= RECALL_GATE, recalls


def test_routed_matches_ivf_bound(spark, embeddings):
    """With ef ≥ cell size the in-cell graph search is exhaustive, so the
    routed HNSW must return exactly what exact-search-within-probed-cells
    (knn_ivf) returns — isolates routing from graph quality."""
    base, qs = _split(embeddings)
    routed = hnsw.knn_hnsw_routed(base, qs, 10, ef=500)
    # both sides on the TRAINED quantizer (the routed path trains since
    # round 3) so this isolates graph quality, not centroid choice
    cents = similarity.cached_trained_centroids(base)
    ivf = similarity.knn_ivf(base, qs, 10, cents=cents)
    r = {(x.query_id, x.vec_id) for x in routed.collect()}
    v = {(x.query_id, x.vec_id) for x in ivf.collect()}
    assert r == v
