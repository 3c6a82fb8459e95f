"""Vector scalar functions — the engine's expression library.

Reference parity (the reference's src/vector.rs, V1-V6 in SURVEY.md §2.2):
  magnitude           src/vector.rs:4-6
  dot                 src/vector.rs:9-11
  cosine_similarity   src/vector.rs:14-16  (clamped at 0 — non-standard!)
  cosine_distance     src/vector.rs:19-21  (range [0,1] because of the clamp)
  euclidean_distance  src/vector.rs:23-29
  distance            src/vector.rs:31-33  (engine-wide alias of cosine_distance)

Every function here takes column NAMES and returns one JVM-parsed SQL
expression built from higher-order array functions (``aggregate`` /
``zip_with``) — no Python UDFs. That keeps the hot path JVM-side /
codegen-friendly and SQL-expressible for the DuckDB oracle. Inputs are
float32 arrays (the reference's ``Vec<f32>``); we cast to double before
arithmetic so distance outputs are stable across engines (SURVEY.md §7
risk register #1), matching the oracle's ``embedding::DOUBLE[]`` cast.
tests/test_expr_reference.py checks each builder bit for bit against a
plain-Python left fold.

The SQL text is the one implementation: the whole expression parses in
ONE py4j call (``F.expr``), and the parsed, unresolved Column — an
immutable expression tree that analysis re-resolves per plan — is
memoized per (function, names) in the session memo (caches.memo, kind
"expr"); dropping an entry only re-parses on next use. A Python-lambda
Column build of the same fold cost ~40-60 py4j round-trips per dot,
~0.3-0.5 s of an IVF serving key's driver-side construction.

At 100 TB scale these expressions run inside whole-stage codegen over
columnar parquet scans; the only data read is the embedding column itself
(column pruning) — no shuffle, no Python boundary.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F

from toy_vector_db_spark import caches

_SIMPLE_REF = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*(\.[A-Za-z_][A-Za-z0-9_]*)*$")


def _sql_ident(name: str) -> str:
    """Render a caller-supplied column name for interpolation into a raw
    SQL fragment: plain (optionally dot-qualified) identifiers pass
    through unchanged; anything else (spaces, hyphens, reserved words) is
    backtick-quoted so the fragment parses and binds to that column."""
    if _SIMPLE_REF.match(name):
        return name
    return "`" + name.replace("`", "``") + "`"


def _cached_expr(key: tuple, sql: str) -> Column:
    return caches.memo("expr", lambda: F.expr(sql), *key)


def _sql_dbl(v: str) -> str:
    return f"CAST({v} AS ARRAY<DOUBLE>)"


def _sql_fold(a: str, b: str, term: str) -> str:
    """Σ term(x, y) over the zipped arrays as a left fold from 0.0:
    zip_with null-pads the shorter side and the fold coalesces padded
    terms to 0.0 — the reference zips and stops at the shorter vector,
    arithmetically identical."""
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> {term}), 0.0D, "
        "(acc, x) -> acc + coalesce(x, 0.0D))"
    )


def _sql_dot_fold(a: str, b: str) -> str:
    return _sql_fold(_sql_dbl(a), _sql_dbl(b), "x * y")


def _sql_cosine_similarity(a: str, b: str, mag_b: str | None = None) -> str:
    """The clamped cosine over SQL fragments ``a`` / ``b``; ``mag_b``
    replaces b's magnitude fold with a precomputed literal."""
    if mag_b is None:
        mag_b = f"sqrt({_sql_dot_fold(b, b)})"
    return (
        f"greatest(0.0D, {_sql_dot_fold(a, b)} / "
        f"(sqrt({_sql_dot_fold(a, a)}) * {mag_b}))"
    )


def dot(a: str, b: str) -> Column:
    """Σ aᵢ·bᵢ (reference: src/vector.rs:9-11)."""
    a, b = _sql_ident(a), _sql_ident(b)
    return _cached_expr(("dot", a, b), _sql_dot_fold(a, b))


def magnitude(v: str) -> Column:
    """L2 norm sqrt(Σ x²) (reference: src/vector.rs:4-6)."""
    v = _sql_ident(v)
    return _cached_expr(("mag", v), f"sqrt({_sql_dot_fold(v, v)})")


def cosine_similarity(a: str, b: str) -> Column:
    """max(0, dot/(‖a‖·‖b‖)) — the reference CLAMPS negative similarity to 0
    (src/vector.rs:15). The clamp is non-standard and must be reproduced
    exactly for parity; the DuckDB oracle writes ``greatest(0.0, ...)``.
    """
    a, b = _sql_ident(a), _sql_ident(b)
    return _cached_expr(("cossim", a, b), _sql_cosine_similarity(a, b))


def cosine_distance(a: str, b: str) -> Column:
    """1 − clamped cosine similarity → range [0, 1] (src/vector.rs:19-21)."""
    a, b = _sql_ident(a), _sql_ident(b)
    return _cached_expr(
        ("cosdist", a, b), f"1.0D - {_sql_cosine_similarity(a, b)}"
    )


def euclidean_distance(a: str, b: str) -> Column:
    """sqrt(Σ (xᵢ−yᵢ)²) (src/vector.rs:23-29; defined but unused upstream)."""
    a, b = _sql_ident(a), _sql_ident(b)
    return _cached_expr(
        ("euc", a, b),
        f"sqrt({_sql_fold(_sql_dbl(a), _sql_dbl(b), '(x - y) * (x - y)')})",
    )


def distance(a: str, b: str) -> Column:
    """The engine-wide distance metric = cosine distance (src/vector.rs:31-33).

    Single swap point for the metric, exactly like the reference's alias.
    """
    return cosine_distance(a, b)


# ---------------------------------------------------------------------------
# DuckDB oracle SQL fragments for the same math. Kept next to the engine
# expressions so the two can never drift apart silently (SURVEY §7 risk #2:
# the 0-clamp must appear in BOTH or hashes diverge).
# ---------------------------------------------------------------------------

def sql_dot(a: str, b: str) -> str:
    return f"list_dot_product(({a})::DOUBLE[], ({b})::DOUBLE[])"


def sql_magnitude(v: str) -> str:
    return f"sqrt({sql_dot(v, v)})"


def sql_cosine_similarity(a: str, b: str) -> str:
    return (
        f"greatest(0.0, {sql_dot(a, b)} / "
        f"({sql_magnitude(a)} * {sql_magnitude(b)}))"
    )


def sql_cosine_distance(a: str, b: str) -> str:
    return f"(1.0 - {sql_cosine_similarity(a, b)})"


def sql_euclidean_distance(a: str, b: str) -> str:
    return (
        f"sqrt(list_sum(list_transform(list_zip(({a})::DOUBLE[], ({b})::DOUBLE[]),"
        f" p -> (p[1] - p[2]) * (p[1] - p[2]))))"
    )


def sql_euclidean_from_dot(a: str, b: str) -> str:
    """||a-b|| via the polarization identity sqrt(|a|^2 + |b|^2 - 2·a·b).

    Structurally matches the Spark-side staged-dot form in the evaluation
    pipeline (registry._eval_frames): mag*mag + mag*mag - 2.0*dot under a
    greatest(0.0, ·) guard, all built from the bit-exact dot/sqrt
    primitives, so cross-engine hashes stay aligned. One dot fold per pair
    instead of a second squared-diff fold — the BNLJ hot-path form.

    Known numerical trade (deliberate): for NEAR-IDENTICAL vectors the
    identity cancels catastrophically (|a|²+|b|²−2·dot is a difference of
    O(1) terms, absolute error ~1e-16 ⇒ total loss of relative precision
    below true distances ~1e-8), where the fold form (x−y)² keeps full
    precision. Both engines evaluate the SAME expression, so the eval
    hash cannot diverge — the trade is accuracy vs true euclidean at the
    rank boundary for near-duplicate neighbors, accepted here because the
    evaluation retriever ranks synthetic fixtures with pair distances
    O(0.1); the V5 operator (vec_euclidean_dist / sql_euclidean_distance)
    keeps the stable fold form for user-facing distance values.
    """
    return (
        f"sqrt(greatest(0.0, "
        f"{sql_magnitude(a)} * {sql_magnitude(a)} + "
        f"{sql_magnitude(b)} * {sql_magnitude(b)} - "
        f"2.0 * {sql_dot(a, b)}))"
    )
