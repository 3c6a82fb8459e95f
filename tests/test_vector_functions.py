"""Property tests for the vector expression library (SURVEY §5 item 1):
distance algebra + parity with NumPy on random vectors."""

import math

import numpy as np
import pytest

from toy_vector_db_spark.functions import vector as V


@pytest.fixture(scope="module")
def vec_df(spark):
    rng = np.random.default_rng(42)
    rows = []
    for i in range(50):
        a = rng.normal(size=8).astype("float32").tolist()
        b = rng.normal(size=8).astype("float32").tolist()
        rows.append((i, a, b))
    return spark.createDataFrame(
        rows, "id long, a array<float>, b array<float>"
    ).cache()


def _np_cos_dist(a, b):
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    sim = max(0.0, float(a @ b) / (np.linalg.norm(a) * np.linalg.norm(b)))
    return 1.0 - sim


def test_numpy_parity(vec_df):
    got = vec_df.select(
        "id",
        "a",
        "b",
        V.dot("a", "b").alias("dot"),
        V.magnitude("a").alias("mag"),
        V.cosine_distance("a", "b").alias("cdist"),
        V.euclidean_distance("a", "b").alias("edist"),
    ).collect()
    for r in got:
        a = np.asarray(r.a, dtype=np.float64)
        b = np.asarray(r.b, dtype=np.float64)
        assert r.dot == pytest.approx(float(a @ b), rel=1e-9)
        assert r.mag == pytest.approx(float(np.linalg.norm(a)), rel=1e-9)
        assert r.cdist == pytest.approx(_np_cos_dist(a, b), abs=1e-9)
        assert r.edist == pytest.approx(float(np.linalg.norm(a - b)), rel=1e-9)


def test_distance_algebra(vec_df):
    rows = vec_df.select(
        V.distance("a", "a").alias("self_dist"),
        V.distance("a", "b").alias("d_ab"),
        V.distance("b", "a").alias("d_ba"),
        V.euclidean_distance("a", "b").alias("e_ab"),
    ).collect()
    for r in rows:
        assert r.self_dist == pytest.approx(0.0, abs=1e-9)
        # clamped cosine distance range is [0, 1] (src/vector.rs:15 clamp)
        assert 0.0 <= r.d_ab <= 1.0
        assert r.d_ab == pytest.approx(r.d_ba, abs=1e-12)  # symmetry
        assert r.e_ab >= 0.0


def test_clamp_negative_similarity(spark):
    # anti-parallel vectors: unclamped cosine sim = -1 → clamped to 0 → dist 1
    df = spark.createDataFrame(
        [([1.0, 0.0], [-1.0, 0.0])], "a array<float>, b array<float>"
    )
    (r,) = df.select(
        V.cosine_similarity("a", "b").alias("sim"),
        V.cosine_distance("a", "b").alias("dist"),
    ).collect()
    assert r.sim == 0.0
    assert r.dist == 1.0


def test_dot_zip_stops_at_shorter(spark):
    # reference zips without a length check (src/vector.rs:9-11)
    df = spark.createDataFrame(
        [([1.0, 2.0, 3.0], [4.0, 5.0])], "a array<float>, b array<float>"
    )
    (r,) = df.select(V.dot("a", "b").alias("d")).collect()
    assert r.d == pytest.approx(1 * 4 + 2 * 5)


def test_magnitude_known_value(spark):
    df = spark.createDataFrame([([3.0, 4.0],)], "v array<float>")
    (r,) = df.select(V.magnitude("v").alias("m")).collect()
    assert r.m == pytest.approx(5.0)
    assert math.isclose(r.m, 5.0)
