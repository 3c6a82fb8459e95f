"""Driver-side IVF routing (similarity._driver_probes) ≡ the Catalyst
probe frame (similarity._ivf_probes), collected.

A bounded IVF request ranks its query batch against the centroids in
numpy instead of running the _ivf_probes plan; the oversized leg and the
oracles keep the Catalyst form. The two must route every query to the
same cells in the same order: on the session-trained centroids, on the
first-K centroids_df stand-in, on a centroid frame with duplicated
vectors (the centroid_id tie-break), and on near-tied centroids whose
order rests on the last bit of a sequential dot fold.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from toy_vector_db_spark.operators import knn, similarity
from toy_vector_db_spark.sources.ndjson import split_count


def _splits(embeddings):
    cut = split_count(embeddings.count(), 0.75)
    base = embeddings.where(F.col("vec_id") < cut).select(
        "vec_id", "embedding"
    )
    qs = embeddings.where(F.col("vec_id") >= cut).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return base, qs


def _catalyst_routing(qs, cents, nprobe):
    routing: dict[int, list] = {}
    probes = similarity._ivf_probes(qs, cents, nprobe)
    for r in probes.select("query_id", "centroid_id").collect():
        routing.setdefault(int(r[0]), []).append(int(r[1]))
    return routing


def _driver_routing(qs, cents, nprobe):
    qb = knn._collected_batch(qs, "query_id", "query_vec")
    assert qb is not None
    return similarity._driver_probes(qb, cents, nprobe)


@pytest.mark.parametrize(
    "nprobe", [1, similarity.N_PROBE, similarity.N_CENTROIDS]
)
def test_driver_routing_matches_catalyst_trained(spark, embeddings, nprobe):
    base, qs = _splits(embeddings)
    cents = similarity.cached_trained_centroids(base)
    got = _driver_routing(qs, cents, nprobe)
    assert len(got) == qs.count()
    assert got == _catalyst_routing(qs, cents, nprobe)


def test_driver_routing_matches_catalyst_first_k(spark, embeddings):
    base, qs = _splits(embeddings)
    cents = similarity.centroids_df(base)
    for nprobe in (1, similarity.N_PROBE):
        assert _driver_routing(qs, cents, nprobe) == _catalyst_routing(
            qs, cents, nprobe
        )


def test_driver_routing_tie_break_on_duplicated_centroids(spark, embeddings):
    """Every vector appears twice, listed in DESCENDING centroid_id order,
    so an order-preserving rank without the centroid_id tie-break would
    put the larger id first."""
    base, qs = _splits(embeddings)
    vecs = [
        [float(x) for x in r[0]]
        for r in base.orderBy("vec_id").select("embedding").limit(6).collect()
    ]
    rows = [(i + 6, v) for i, v in enumerate(vecs)]
    rows += [(i, v) for i, v in enumerate(vecs)]
    rows.sort(key=lambda r: -r[0])
    cents = spark.createDataFrame(
        rows, "centroid_id bigint, centroid_vec array<double>"
    )
    for nprobe in (1, 2, 5, 12):
        got = _driver_routing(qs, cents, nprobe)
        assert got == _catalyst_routing(qs, cents, nprobe), nprobe
    # each duplicated pair ties exactly, and ranks smaller id first
    for cells in _driver_routing(qs, cents, 12).values():
        for i in range(6):
            assert cells.index(i) < cells.index(i + 6)


def test_driver_routing_near_ties_follow_sequential_fold(spark):
    """Centroid pairs (c, 3c) have the same cosine to every query in
    exact arithmetic; only the rounding of the left-to-right dot and
    magnitude folds orders them. A blocked or fused dot product (a BLAS
    matmul) rounds differently and reorders some pair, for some batch
    shape — hence several batch sizes."""
    rng = np.random.default_rng(20)
    d = 64
    rows = []
    for p in range(16):
        c = rng.normal(size=d)
        rows.append((2 * p, [float(x) for x in c]))
        rows.append((2 * p + 1, [float(x) for x in 3.0 * c]))
    cents = spark.createDataFrame(
        rows, "centroid_id bigint, centroid_vec array<double>"
    )
    for nq in (1, 3, 25):
        qs = spark.createDataFrame(
            [(q, [float(x) for x in rng.normal(size=d)]) for q in range(nq)],
            "query_id bigint, query_vec array<double>",
        )
        got = _driver_routing(qs, cents, len(rows))
        assert got == _catalyst_routing(qs, cents, len(rows)), nq
