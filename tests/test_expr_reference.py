"""Each SQL expression builder against its plain-Python reference
(tests/expr_reference.py), bit for bit: the vector functions, the
squared-distance fold, the literal-query distance, the LSH bucket, the
shingle / n-gram / hash / MinHash builders and the SimHash signature.
The last test keeps every builder a single SQL form."""

import ast
import inspect

import numpy as np
import pytest

from tests import expr_reference as R
from toy_vector_db_spark.functions import vector as V
from toy_vector_db_spark.operators import dedup as D
from toy_vector_db_spark.operators import knn as K
from toy_vector_db_spark.operators import similarity as S


def _assert_bits(got, want, what):
    assert R.bits(got) == R.bits(want), f"{what}: {got!r} != {want!r}"


@pytest.fixture(scope="module")
def pairs(spark, embeddings):
    """(a, b) float32 vector pairs: random 16-dim ones, consecutive
    fixture embeddings, an anti-parallel pair (the 0-clamp) and a ragged
    pair (the null-padded zip)."""
    rng = np.random.default_rng(11)
    rows = [
        (rng.normal(size=16).astype("float32").tolist(),
         rng.normal(size=16).astype("float32").tolist())
        for _ in range(40)
    ]
    fx = [
        r["embedding"]
        for r in embeddings.orderBy("vec_id").limit(31).collect()
    ]
    rows += list(zip(fx, fx[1:]))
    rows += [([1.0, -2.0], [-1.0, 2.0]), ([1.5, -2.25, 3.0], [0.5, 4.0])]
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(rows)],
        "id long, a array<float>, b array<float>",
    ).selectExpr(
        "id", "a", "b",
        "CAST(a AS ARRAY<DOUBLE>) AS ad", "CAST(b AS ARRAY<DOUBLE>) AS bd",
    )


def test_vector_builders_match_python_folds(pairs):
    cases = {
        "dot": (V.dot("a", "b"), R.dot),
        "magnitude": (V.magnitude("a"), lambda a, b: R.magnitude(a)),
        "cosine_similarity": (
            V.cosine_similarity("a", "b"), R.cosine_similarity,
        ),
        "cosine_distance": (V.cosine_distance("a", "b"), R.cosine_distance),
        "distance": (V.distance("a", "b"), R.cosine_distance),
        "euclidean_distance": (
            V.euclidean_distance("a", "b"), R.euclidean_distance,
        ),
        "_sq_dist": (S._sq_dist("ad", "bd"), R.sq_dist),
    }
    rows = pairs.select(
        "a", "b", *[col.alias(name) for name, (col, _) in cases.items()]
    ).collect()
    assert len(rows) == 72
    for r in rows:
        for name, (_, ref) in cases.items():
            _assert_bits(r[name], ref(r["a"], r["b"]), name)
    ragged = [r for r in rows if len(r["a"]) != len(r["b"])]
    assert len(ragged) == 1 and ragged[0]["dot"] == 1.5 * 0.5 - 2.25 * 4.0
    assert any(r["cosine_similarity"] == 0.0 for r in rows)  # the clamp


def test_with_distance_matches_python_fold(spark, embeddings):
    """The literal-query distance (driver-side query magnitude inlined),
    including a query with non-finite values, whose literal parses as a
    cast from the value's name."""
    vecs = [
        r["embedding"]
        for r in embeddings.orderBy("vec_id").limit(20).collect()
    ]
    base = spark.createDataFrame(
        list(enumerate(vecs)), "vec_id long, embedding array<float>"
    )
    dim = len(vecs[0])
    inf, nan = float("inf"), float("nan")
    for q in (vecs[3], [inf] + [1.0] * (dim - 1), [nan] * dim):
        got = K.with_distance(base, q).orderBy("vec_id").collect()
        assert len(got) == len(vecs)
        for r in got:
            _assert_bits(
                r["dist"], R.cosine_distance(r["embedding"], q),
                "with_distance",
            )


def test_lsh_buckets_match_python_signs(embeddings):
    vecs = {
        r["vec_id"]: r["embedding"]
        for r in embeddings.select("vec_id", "embedding").collect()
    }
    planes = [
        (i, vecs[i]) for i in sorted(vecs)[:S.N_HYPERPLANES]
    ]
    got = S.lsh_hyperplane_buckets(embeddings).collect()
    assert len(got) == len(vecs)
    for r in got:
        assert r["bucket"] == R.lsh_bucket(vecs[r["vec_id"]], planes)


@pytest.fixture(scope="module")
def corpus(spark, documents):
    """The near-dup corpus the dedup keys hash, plus edge documents:
    empty, shorter than a shingle, doubled / leading / trailing spaces,
    non-ASCII text and a 400-token doc past the byte-counter SimHash."""
    edge = spark.createDataFrame(
        [
            (900_000_001, ""),
            (900_000_002, "a b"),
            (900_000_003, "a  b c  d"),
            (900_000_004, " lead and trail "),
            (900_000_005, "naïve café über straße naïve café"),
            (900_000_006, " ".join(f"w{i % 97}" for i in range(400))),
        ],
        "doc_id long, text string",
    )
    return D.with_injected_dups(documents).unionByName(edge)


def test_shingle_and_minhash_builders_match_python(corpus):
    hashed = corpus.select(
        "text",
        D.word_shingles("text").alias("ws"),
        D.char_ngrams("text", 4).alias("cn"),
        D.shingle_hashes_of_text("text").alias("hs"),
    )
    rows = hashed.select(
        "text", "ws", "cn", "hs",
        D.shingle_hashes("ws").alias("hs2"),
        *D.minhash_from_hashes("hs"),
    ).collect()
    assert len(rows) > 100
    for r in rows:
        text = r["text"]
        shingles = R.word_shingles(text)
        assert r["ws"] == shingles, text
        assert r["cn"] == R.char_ngrams(text, 4), text
        assert r["hs"] == R.shingle_hashes(shingles), text
        assert r["hs2"] == r["hs"], text
        assert [r[f"m{i}"] for i in range(D.NUM_PERM)] == R.minhash(
            r["hs"]
        ), text


def test_simhash_matches_per_bit_majority_vote(corpus):
    rows = D.simhash_signatures(corpus).join(corpus, "doc_id").collect()
    assert any(len(r["text"].split(" ")) > 255 for r in rows)
    for r in rows:
        assert r["simhash"] == R.simhash(r["text"]), r["doc_id"]


def _hof_calls(node):
    """F.aggregate / F.zip_with / F.transform calls under ``node``."""
    return [
        n.func.attr for n in ast.walk(node)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and isinstance(n.func.value, ast.Name)
        and n.func.value.id == "F"
        and n.func.attr in ("aggregate", "zip_with", "transform")
    ]


def test_builders_have_one_sql_form():
    """No Python-lambda Column form hides beside the SQL text: vector.py
    and the listed builders build no F.aggregate / F.zip_with /
    F.transform, and the twin helpers are gone."""
    assert _hof_calls(ast.parse(inspect.getsource(V))) == []
    builders = {
        D: ("word_shingles", "char_ngrams", "shingle_hashes",
            "shingle_hashes_of_text", "minhash_from_hashes",
            "_swar_simhash_sql", "_simhash_sig_sql", "simhash_signatures"),
        S: ("_sq_dist", "lsh_hyperplane_buckets"),
        K: ("with_distance", "_lit_vec"),
    }
    for mod, names in builders.items():
        for name in names:
            fn = ast.parse(inspect.getsource(getattr(mod, name)))
            assert _hof_calls(fn) == [], f"{mod.__name__}.{name}"
    for mod, gone in (
        (V, ("_plain_refs", "_as_col", "_dbl")),
        (D, ("_swar_simhash", "_simhash_sig_column", "minhash_signature")),
    ):
        assert not [g for g in gone if hasattr(mod, g)], mod.__name__
