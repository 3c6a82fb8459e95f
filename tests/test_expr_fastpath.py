"""The memoized SQL expressions behind the expression builders
(functions/vector.py, the dedup shingle / MinHash / SimHash builders,
similarity's quantizer fragments, knn's literal query vector): memo hits,
content-keyed memo entries, exact literals and non-identifier column
names. Each builder's VALUES are checked against plain Python in
tests/test_expr_reference.py.

The builders exist to cut driver-side construction cost (one JVM-side
SQL parse + a memo entry instead of ~40-60 py4j round-trips per
expression); every serving key's oracle hash rides on them too.
"""

import math

import pytest
from pyspark.sql import functions as F

from tests import expr_reference as R
from toy_vector_db_spark.functions import vector as V
from toy_vector_db_spark.operators import similarity as S


def _eval_lit(spark, vec):
    """The doubles ``knn._lit_vec``'s SQL text parses to."""
    from toy_vector_db_spark.operators import knn as K

    (row,) = spark.range(1).select(
        F.expr(K._lit_vec(vec)[1]).alias("v")
    ).collect()
    return [float(x) for x in row["v"]]


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_expr_cache_hits_and_is_registered(emb):
    from toy_vector_db_spark import caches

    caches.evict("expr", "mag", "embedding")
    c1 = V.magnitude("embedding")
    c2 = V.magnitude("embedding")
    assert c1 is c2, "memo must return the same Column object on a hit"
    assert caches.get("expr", "mag", "embedding") is c1, "not in the store"
    # a dropped entry (bench eviction) just re-parses
    caches.evict("expr", "mag", "embedding")
    c3 = V.magnitude("embedding")
    assert c3 is not c1
    rows = emb.select(c1.alias("a"), c3.alias("b")).collect()
    assert all(R.bits(r["a"]) == R.bits(r["b"]) for r in rows)


def test_lit_vec_bit_identical(spark, emb):
    """The SQL array literal parses back to exactly the query's doubles:
    repr() round-trips through SQL's correctly rounded parse, and a
    non-finite value renders as a cast from its name (parses under ANSI
    mode)."""
    vec = [r["embedding"] for r in emb.limit(1).collect()][0]
    want = [float(x) for x in vec]
    assert R.bits(_eval_lit(spark, vec)) == R.bits(want)
    tricky = [0.1, 1e-300, 1.7976931348623157e308, -0.0, 2**-1074, 1/3]
    assert R.bits(_eval_lit(spark, tricky)) == R.bits(tricky)
    got = _eval_lit(spark, [float("inf"), float("-inf"), float("nan")])
    assert got[:2] == [float("inf"), float("-inf")] and math.isnan(got[2])


def test_lit_vec_memo_key_is_collision_proof(spark):
    """hash(-1.0) == hash(-2.0) in CPython, so a memo keyed on
    hash(tuple(vals)) handed the second of two such query vectors the
    FIRST one's expression. with_distance memoizes on _lit_vec's key;
    two hash-colliding vectors must each get their own (correct)
    distance."""
    from toy_vector_db_spark.operators import knn as K

    v1 = [0.5, -1.0, 2.25]
    v2 = [0.5, -2.0, 2.25]
    assert hash(tuple(v1)) == hash(tuple(v2))  # the collision is real
    assert K._lit_vec(v1)[0] != K._lit_vec(v2)[0]
    assert R.bits(_eval_lit(spark, v1)) == R.bits(v1)
    assert R.bits(_eval_lit(spark, v2)) == R.bits(v2)
    row = [1.0, 1.0, 1.0]
    df = spark.createDataFrame([(row,)], "embedding array<double>")
    for q in (v1, v2):
        (r,) = K.with_distance(df, q).collect()
        assert R.bits(r["dist"]) == R.bits(R.cosine_distance(row, q))


def test_lit_vec_memo_tells_signed_zeros_apart(spark):
    """0.0 == -0.0, so a float-tuple memo key handed the second of [0.0]
    and [-0.0] the literal built for the first. Each value is keyed on
    float.hex(); both orders are pinned (a memo hit in either direction
    would copy the other zero's sign bit)."""
    from toy_vector_db_spark import caches
    from toy_vector_db_spark.operators import knn as K

    df = spark.createDataFrame([([1.0, 1.0],)], "embedding array<double>")
    for first, second in (([0.0], [-0.0]), ([-0.0, 0.0], [0.0, 0.0])):
        assert tuple(first) == tuple(second)  # the float keys alias
        (ka, a), (kb, b) = K._lit_vec(first), K._lit_vec(second)
        assert ka != kb and a != b
        assert R.bits(_eval_lit(spark, first)) == R.bits(first)
        assert R.bits(_eval_lit(spark, second)) == R.bits(second)
        K.with_distance(df, first)
        K.with_distance(df, second)
        ea = caches.get("expr", "withdist", "embedding", ka)
        eb = caches.get("expr", "withdist", "embedding", kb)
        assert ea is not None and eb is not None and str(ea) != str(eb)


def test_pq_lut_cache_key_is_content_keyed(spark, emb):
    """Advice r14 (low): the PQ LUT memo fingerprinted codebooks with
    Python's salted 64-bit hash(bytes) — collisions improbable, not
    impossible. Now shape + sha256 digest, on the collected query
    batch: two different codebook sets must produce different LUTs (and
    the same set must hit the memo)."""
    import numpy as np

    from toy_vector_db_spark.operators import knn as K

    qs = emb.limit(4).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    rng = np.random.default_rng(7)
    books1 = [rng.normal(size=(4, 8)).tolist() for _ in range(2)]
    books2 = [rng.normal(size=(4, 8)).tolist() for _ in range(2)]
    qb = K._collected_batch(qs, "query_id", "query_vec")
    luts1 = S._pq_luts(qb, books1)
    luts1b = S._pq_luts(qb, books1)
    assert luts1 is luts1b  # memo hit for identical content
    luts2 = S._pq_luts(qb, books2)
    assert not np.allclose(luts1[0], luts2[0])  # no cross-codebook hit


def test_str_fastpath_non_identifier_names_fall_back(spark):
    """A column name raw SQL needs backticks for (space, hyphen, reserved
    word) works through every builder: ``vector._sql_ident``
    backtick-quotes it, and the values match the plain-Python
    references."""
    from toy_vector_db_spark.operators import dedup as D
    from toy_vector_db_spark.operators import knn as K

    a, b = [3.0, 4.0], [1.0, -2.5]
    text = "the quick brown fox jumps over the quick dog"
    df = spark.createDataFrame(
        [(0, a, b, text), (1, b, a, text)],
        "vec_id long, `my vec` array<double>, `other-vec` array<double>, "
        "`order` string",
    )
    rows = df.where("vec_id = 0").select(
        V.magnitude("my vec").alias("m"),
        V.dot("my vec", "other-vec").alias("d"),
        V.cosine_similarity("my vec", "other-vec").alias("cs"),
        V.cosine_distance("my vec", "other-vec").alias("cd"),
        V.distance("my vec", "other-vec").alias("dd"),
        V.euclidean_distance("my vec", "other-vec").alias("e"),
        S._sq_dist("my vec", "other-vec").alias("sq"),
        S._normalize(S._as_double_sql("my vec")).alias("nv"),
        S._bq_pack("my vec", 1).alias("bq"),
        D.word_shingles("order", 3).alias("my shingles"),
        D.char_ngrams("order", 4).alias("cn"),
        D.shingle_hashes_of_text("order", 3).alias("my hashes"),
    )
    (r,) = rows.select(
        "*",
        D.shingle_hashes("my shingles").alias("sh"),
        *D.minhash_from_hashes("my hashes"),
    ).collect()
    assert r["m"] == R.magnitude(a)
    assert r["d"] == R.dot(a, b)
    assert r["cs"] == R.cosine_similarity(a, b)
    assert r["cd"] == r["dd"] == R.cosine_distance(a, b)
    assert r["e"] == R.euclidean_distance(a, b)
    assert r["sq"] == R.sq_dist(a, b)
    assert [round(x, 6) for x in r["nv"]] == [0.6, 0.8]
    assert r["my shingles"] == R.word_shingles(text, 3)
    assert r["cn"] == R.char_ngrams(text, 4)
    assert r["my hashes"] == r["sh"] == R.shingle_hashes(
        R.word_shingles(text, 3)
    )
    assert [r[f"m{i}"] for i in range(D.NUM_PERM)] == R.minhash(r["sh"])
    (w,) = K.with_distance(
        df.where("vec_id = 0"), b, vec_col="my vec"
    ).collect()
    assert w["dist"] == R.cosine_distance(a, b)
    buckets = {
        x["vec_id"]: x["bucket"]
        for x in S.lsh_hyperplane_buckets(df, 2, vec_col="my vec").collect()
    }
    planes = [(0, a), (1, b)]
    assert buckets == {0: R.lsh_bucket(a, planes), 1: R.lsh_bucket(b, planes)}
