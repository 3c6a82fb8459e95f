"""Round-14 memoized-F.expr fast paths: the string-argument forms of the
vector expression builders (and similarity._sq_dist) must be
BIT-IDENTICAL to the Python Column-builder forms they shortcut. The
quantizer builders (_normalize, _bq_pack, _sq_deq, _bq2_recon) are
str-only; the DuckDB oracle hashes and the kernel bit-identity tests pin
them.

The fast paths exist purely to cut driver-side construction cost (one
JVM-side SQL parse + a module-level memo instead of ~40-60 py4j
round-trips per expression — see functions/vector.py and
operators/similarity.py round-14 comments). They must never change a
value: every serving key's oracle hash rides on these expressions, so a
drifted SQL translation would fail loudly there too — this test fails
FIRST and names the builder.
"""

import struct

import pytest
from pyspark.sql import functions as F

from toy_vector_db_spark.functions import vector as V
from toy_vector_db_spark.operators import similarity as S


def _bits(x):
    if isinstance(x, float):
        return struct.pack("<d", x)
    if isinstance(x, list):
        return tuple(_bits(v) for v in x)
    return x


def _assert_bit_equal(df, str_col, col_col, name):
    rows = df.select(str_col.alias("s"), col_col.alias("c")).collect()
    assert rows, f"{name}: empty comparison frame"
    for r in rows:
        assert _bits(r["s"]) == _bits(r["c"]), (
            f"{name}: str-form and Column-form diverge: {r['s']!r} vs "
            f"{r['c']!r}"
        )


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


def test_vector_builders_str_vs_column(emb):
    pairs = emb.alias("a").join(
        emb.alias("b"), F.expr("a.vec_id + 1 = b.vec_id")
    )
    cases = [
        ("dot", V.dot("a.embedding", "b.embedding"),
         V.dot(F.col("a.embedding"), F.col("b.embedding"))),
        ("magnitude", V.magnitude("a.embedding"),
         V.magnitude(F.col("a.embedding"))),
        ("cosine_similarity",
         V.cosine_similarity("a.embedding", "b.embedding"),
         V.cosine_similarity(F.col("a.embedding"), F.col("b.embedding"))),
        ("cosine_distance",
         V.cosine_distance("a.embedding", "b.embedding"),
         V.cosine_distance(F.col("a.embedding"), F.col("b.embedding"))),
        ("euclidean_distance",
         V.euclidean_distance("a.embedding", "b.embedding"),
         V.euclidean_distance(F.col("a.embedding"), F.col("b.embedding"))),
    ]
    for name, s, c in cases:
        _assert_bit_equal(pairs, s, c, name)


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
    assert all(_bits(r["a"]) == _bits(r["b"]) for r in rows)


def test_sq_deq_and_sq_dist_str_vs_column(emb):
    bounds = S.sq_bounds(emb)
    staged = (
        S.sq_code_array(emb, bounds)
        .crossJoin(F.broadcast(bounds))
    )
    two = staged.select(
        S._sq_deq("codes", "mins", "maxs").alias("deq")
    ).withColumn("qnv", S._normalize(S._as_double_sql("deq")))
    _assert_bit_equal(
        two,
        S._sq_dist("deq", "qnv"),
        S._sq_dist(F.col("deq"), F.col("qnv")),
        "_sq_dist",
    )


def test_ivf_probes_matches_column_form(emb):
    """The round-14 single-expression probes column vs a local rebuild of
    the pre-round-14 Column form (transform lambda over the collected
    centroid structs) — same routing, bit-identical qd ranking."""
    cents = S.cached_trained_centroids(emb)
    qs = emb.where(F.col("vec_id") >= 450).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    nprobe = 4
    got = sorted(
        (r["query_id"], r["centroid_id"])
        for r in S._ivf_probes(qs, cents, nprobe).collect()
    )

    cents_m = cents.withColumn("_c_mag", V.magnitude(F.col("centroid_vec")))
    cents_row = cents_m.agg(
        F.array_sort(
            F.collect_list(F.struct("centroid_id", "centroid_vec", "_c_mag"))
        ).alias("_cents")
    )
    q_m = qs.withColumn("_q_mag", V.magnitude(F.col("query_vec")))

    def _cell_dist(c):
        sim = F.greatest(
            F.lit(0.0),
            V.dot(F.col("query_vec"), c["centroid_vec"])
            / (F.col("_q_mag") * c["_c_mag"]),
        )
        return F.struct(
            (F.lit(1.0) - sim).alias("qd"),
            c["centroid_id"].alias("centroid_id"),
        )

    ref = (
        q_m.crossJoin(F.broadcast(cents_row))
        .withColumn(
            "_probes",
            F.slice(
                F.array_sort(F.transform("_cents", _cell_dist)), 1, nprobe
            ),
        )
        .select("query_id", F.explode("_probes").alias("_p"))
        .select("query_id", F.col("_p.centroid_id").alias("centroid_id"))
    )
    want = sorted((r["query_id"], r["centroid_id"]) for r in ref.collect())
    assert got == want


def test_dedup_builders_str_vs_column(spark, sf_dir):
    from toy_vector_db_spark.operators import dedup as D

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    _assert_bit_equal(
        docs,
        D.word_shingles("text"),
        D.word_shingles(F.col("text")),
        "word_shingles",
    )
    _assert_bit_equal(
        docs,
        D.char_ngrams("text", 4),
        D.char_ngrams(F.col("text"), 4),
        "char_ngrams",
    )
    hashed_s = docs.select(
        D.shingle_hashes_of_text("text").alias("hs")
    )
    hashed_c = docs.select(
        D.shingle_hashes(D.word_shingles(F.col("text"))).alias("hs")
    )
    assert (
        [r.hs for r in hashed_s.collect()]
        == [r.hs for r in hashed_c.collect()]
    ), "shingle_hashes_of_text vs composed Column form"
    sig_s = hashed_s.select(*D.minhash_from_hashes("hs")).collect()
    sig_c = hashed_s.select(*D.minhash_from_hashes(F.col("hs"))).collect()
    assert sig_s == sig_c, "minhash_from_hashes str vs Column form"


def test_lit_vec_bit_identical(spark, emb):
    from toy_vector_db_spark.operators import knn as K

    vec = [r["embedding"] for r in emb.limit(1).collect()][0]
    one = spark.range(1)
    rows = one.select(
        K._lit_vec(vec).alias("s"),
        F.lit([float(x) for x in vec]).cast("array<double>").alias("c"),
    ).collect()
    assert _bits([float(x) for x in rows[0]["s"]]) == _bits(
        [float(x) for x in rows[0]["c"]]
    )
    # tricky doubles round-trip exactly through repr + SQL parse
    tricky = [0.1, 1e-300, 1.7976931348623157e308, -0.0, 2**-1074, 1/3]
    rows = one.select(
        K._lit_vec(tricky).alias("s"),
        F.lit(tricky).cast("array<double>").alias("c"),
    ).collect()
    assert _bits([float(x) for x in rows[0]["s"]]) == _bits(
        [float(x) for x in rows[0]["c"]]
    )


def test_lit_vec_memo_key_is_collision_proof(spark):
    """Advice r14 (medium): the round-14 memo keyed on
    hash(tuple(vals)) — CPython guarantees hash(-1.0) == hash(-2.0), so
    two query vectors differing only in that coordinate collided and the
    second silently reused the FIRST vector's literal. The key is now
    the value tuple itself; this pins that two hash-colliding vectors
    get their own (correct) literals."""
    from toy_vector_db_spark.operators import knn as K

    v1 = [0.5, -1.0, 2.25]
    v2 = [0.5, -2.0, 2.25]
    assert hash(tuple(v1)) == hash(tuple(v2))  # the collision is real
    one = spark.range(1)
    rows = one.select(
        K._lit_vec(v1).alias("a"), K._lit_vec(v2).alias("b")
    ).collect()
    assert _bits([float(x) for x in rows[0]["a"]]) == _bits(v1)
    assert _bits([float(x) for x in rows[0]["b"]]) == _bits(v2)


def test_lit_vec_memo_tells_signed_zeros_apart(spark):
    """Advice r15: 0.0 == -0.0, so a float-tuple memo key handed the
    second of [0.0] and [-0.0] the literal built for the first. Each
    value is now keyed on float.hex(); both orders are pinned (a memo
    hit in either direction would copy the other zero's sign bit)."""
    from toy_vector_db_spark.operators import knn as K

    one = spark.range(1)
    for first, second in (([0.0], [-0.0]), ([-0.0, 0.0], [0.0, 0.0])):
        assert tuple(first) == tuple(second)  # the float keys alias
        a, b = K._lit_vec(first), K._lit_vec(second)
        assert str(a) != str(b)
        rows = one.select(a.alias("a"), b.alias("b")).collect()
        assert _bits([float(x) for x in rows[0]["a"]]) == _bits(first)
        assert _bits([float(x) for x in rows[0]["b"]]) == _bits(second)


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
    """Advice r14 (low): a column name F.col accepts but raw SQL needs
    backticks for (space, hyphen, reserved word) must still work through
    the public builders — the str fast path validates the name and falls
    back to the Column path (vector/dedup) or backtick-quotes it
    (similarity's fragment builders)."""
    from toy_vector_db_spark.operators import dedup as D

    df = spark.createDataFrame(
        [(1, [3.0, 4.0], "the quick brown fox jumps")],
        "id long, `my vec` array<double>, `my text` string",
    )
    rows = df.select(
        V.magnitude("my vec").alias("m"),
        V.dot("my vec", "my vec").alias("d"),
        S._normalize(S._as_double_sql("my vec")).alias("nv"),
        S._bq_pack("my vec", 1).alias("bq"),
        F.size(D.word_shingles("my text", 3)).alias("ws"),
        F.size(D.char_ngrams("my text", 4)).alias("cn"),
    ).collect()
    assert rows[0]["m"] == 5.0
    assert rows[0]["d"] == 25.0
    assert [round(x, 6) for x in rows[0]["nv"]] == [0.6, 0.8]
    assert rows[0]["ws"] == 3
    assert rows[0]["cn"] > 0


def test_simhash_sql_vs_column(spark, sf_dir):
    """Round 15: the memoized SQL SimHash fold must be bit-identical to
    the Python-Column SWAR builder it replaced, including on the 16-bit
    fallback branch (docs past 255 tokens) and the injected near-dup
    corpus the dedup keys actually hash."""
    from toy_vector_db_spark.operators import dedup as D

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = D.with_injected_dups(docs)
    # a >255-token doc to engage the 16-bit spacing branch
    long_doc = spark.createDataFrame(
        [(999_999_999, " ".join(f"w{i % 97}" for i in range(400)))],
        "doc_id long, text string",
    )
    corpus = corpus.unionByName(long_doc)
    rows = corpus.select(
        D._cached_expr(("simhash32", "text"), D._simhash_sig_sql("text"))
        .alias("s"),
        D._simhash_sig_column().alias("c"),
    ).collect()
    assert rows
    for r in rows:
        assert r["s"] == r["c"]
