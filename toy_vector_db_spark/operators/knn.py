"""Exact (brute-force) K-nearest-neighbor operators.

Reference parity (SURVEY.md §2.3):
  E1-E2 ExactKNNIndex state/insert  /root/reference/src/exact_knn.rs:8-25
  E3    search (exact top-k)        /root/reference/src/exact_knn.rs:27-38
  H1    get_nearest_element         /root/reference/src/hnsw.rs:65-76
  H2    get_furthest_element        /root/reference/src/hnsw.rs:78-89

The reference computes distance(query, p) for EVERY point, full-sorts, and
truncates to k — O(n log n) single-threaded. Spark-first translation:

* single query → ``withColumn(dist).orderBy(dist, id).limit(k)``. Catalyst
  rewrites sort+limit into ``TakeOrderedAndProject`` (per-partition bounded
  heaps + driver merge of k·P rows) — strictly better than the reference's
  full sort, and embarrassingly parallel: at 100 TB this is one narrow scan
  stage reading ONLY the embedding+id columns (column pruning) with no
  shuffle at all.

* query batch → broadcast the (small) query set against the (huge) base:
  ``base.crossJoin(broadcast(queries))`` plans a BroadcastNestedLoopJoin —
  the base never shuffles; each task scores its partition of the base
  against all queries, then a single shuffle on query_id does the per-query
  top-k (window row_number ≤ k). Ties broken by id in both engine and
  oracle (SURVEY §7 risk #4).
"""

from __future__ import annotations

import math
from typing import Callable, NamedTuple

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from toy_vector_db_spark import caches
from toy_vector_db_spark.functions.arrowkit import list_col_to_matrix

from toy_vector_db_spark.functions import vector as V


def _py_magnitude(vec) -> float:
    """Sequential-fold L2 norm in Python doubles — bit-identical to the
    engine's aggregate() fold (same op order, same IEEE arithmetic), so a
    driver-side precomputed query magnitude can be inlined as a literal
    without any float drift vs the oracle."""
    acc = 0.0
    for x in vec:
        acc += float(x) * float(x)
    return math.sqrt(acc)


def with_distance(
    df: DataFrame,
    query_vec,
    vec_col: str = "embedding",
    dist_col: str = "dist",
) -> DataFrame:
    """Project the engine distance (clamped cosine, src/vector.rs:31-33) from
    every row's vector to a literal query vector.

    Perf: the query magnitude is a CONSTANT, but Catalyst does not fold
    aggregate() over literal arrays, so the naive V.distance() would
    recompute it per row — precompute it driver-side (bit-identically) and
    inline as a literal. Row magnitudes are computed once per row. The
    whole distance is one memoized SQL expression per (column, vector),
    keyed like ``_lit_vec``.
    """
    v = V._sql_ident(vec_col)
    key, q = _lit_vec(query_vec)
    dist = V._cached_expr(
        ("withdist", v, key),
        "1.0D - " + V._sql_cosine_similarity(
            v, q, _sql_double(_py_magnitude(query_vec))
        ),
    )
    return df.withColumn(dist_col, dist)


def _sql_double(x: float) -> str:
    """SQL text of a double literal that parses back to exactly ``x``:
    repr() is the shortest round-tripping decimal and SQL's double parse
    is correctly rounded; a non-finite value is a cast from its string
    name, which parses under ANSI mode too."""
    if math.isnan(x):
        return "CAST('NaN' AS DOUBLE)"
    if math.isinf(x):
        return f"CAST('{'-' if x < 0 else ''}Infinity' AS DOUBLE)"
    return f"{x!r}D"


def _lit_vec(vec) -> tuple[tuple, str]:
    """(memo key, SQL text) of a literal array<double> query vector.
    F.lit(list) builds the array one element-literal py4j call at a time
    — measured 136 ms for a 64-dim vector, most of knn_exact_single's
    construction — while the SQL array literal parses JVM-side in one
    call (~1 ms).

    The key is the tuple of each value's float.hex() form. A
    hash(tuple(vals)) key let distinct vectors collide (hash(-1.0) ==
    hash(-2.0) in CPython), and a float-tuple key aliases 0.0 and -0.0,
    whose literals differ; hex() is exact and tells every distinct
    double apart."""
    vals = [float(x) for x in vec]
    return (
        tuple(x.hex() for x in vals),
        "CAST(array(" + ", ".join(map(_sql_double, vals))
        + ") AS ARRAY<DOUBLE>)",
    )


def knn_exact_single(
    base: DataFrame,
    query_vec,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k for one query vector (src/exact_knn.rs:27-38).

    Plans as scan → codegen'd distance expression → TakeOrderedAndProject(k).
    """
    return (
        with_distance(base, query_vec, vec_col)
        .orderBy(F.col("dist").asc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "dist")
    )


def knn_exact_batch(
    base: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Exact top-k per query for a batch of queries.

    ``queries`` must have (query_id_col, query_vec_col). The query side
    rides in the scoring kernel's closure (it is the small side by
    construction — a query workload, not the corpus), so the base table
    never moves; the only shuffle is the per-query top-k on query_id.
    The |base|×|queries| distance evaluation is the vectorized
    ``pair_scores`` Arrow kernel (round 6 — the interpreted
    expression-fold form cost ~25 µs per pair; bit-identical values,
    parity-asserted in tests)."""
    scored = pair_scores(
        base, queries, id_col, vec_col, query_id_col, query_vec_col,
        emit_topk=k,
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.col("dist").asc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col, "dist", "rank")
    )


def _scored_product(
    base: DataFrame,
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    query_id_col: str,
    query_vec_col: str,
    dual_metric: bool = False,
    broadcast_queries: bool = True,
) -> DataFrame:
    """base × queries with the clamped-cosine distance, side magnitudes
    computed once per row/query (see knn_exact_batch). This is the
    pure-Catalyst EXPRESSION form — the bit-parity reference for the
    vectorized ``pair_scores`` kernel below (the fixture-path operators
    serve from the kernel; tests assert the two forms equal bit-for-bit,
    the pq_codes pattern) AND the fallback plan when the query frame is
    too large to collect (see QUERY_BATCH_MAX below).

    ``dual_metric`` adds the polarization-identity euclidean
    (``sqrt(greatest(0, |v|² + |q|² − 2·dot))``) as ``euc_dist`` next to
    ``cos_dist`` — the same staged expression tree (and therefore the
    same IEEE sequence) as the kernel's dual-metric path.
    ``broadcast_queries=False`` drops the broadcast hint for query frames
    that are NOT small — Spark/AQE then plans the cartesian product
    without shipping the query side to every executor whole."""
    base_m = base.withColumn("_v_mag", V.magnitude(vec_col))
    q_m = queries.withColumn("_q_mag", V.magnitude(query_vec_col))
    dot = V.dot(vec_col, query_vec_col)
    sim = F.greatest(
        F.lit(0.0), dot / (F.col("_v_mag") * F.col("_q_mag"))
    )
    right = F.broadcast(q_m) if broadcast_queries else q_m
    out = base_m.crossJoin(right)
    if dual_metric:
        # ((|v|²+|q|²) − 2·dot) then clamp then sqrt — the kernel's exact
        # associativity (vm² + qm² first, then subtract the doubled dot)
        euc = F.sqrt(
            F.greatest(
                F.lit(0.0),
                F.col("_v_mag") * F.col("_v_mag")
                + F.col("_q_mag") * F.col("_q_mag")
                - F.lit(2.0) * dot,
            )
        )
        return out.withColumn("cos_dist", F.lit(1.0) - sim).withColumn(
            "euc_dist", euc
        )
    return out.withColumn("dist", F.lit(1.0) - sim)


# Above this many query rows, a "query batch" is not a bounded serving
# workload anymore and must NOT be collected to the driver (round-7
# verdict item 4: a caller passing a corpus-sized frame as `queries` —
# e.g. millions of eval rows used batch-KNN-style — previously got a
# silent driver OOM instead of a distributed plan). At or below the
# threshold the vectorized Arrow kernel serves the product; above it,
# operators fall back to the pure-Catalyst forms (``_scored_product``
# here; the probe-join form in similarity.knn_ivf), which are
# bit-parity-tested against the kernel, so the fallback changes the plan
# shape, never the values.
#
# The guard and the bounded leg share ONE Spark action per query frame:
# ``_collected_batch`` runs limit(QUERY_BATCH_MAX + 1).toArrow() once
# and the row count, the query matrix, the IVF probe routing, the PQ
# LUTs and the label map are all numpy steps over that batch. An
# oversized frame therefore pays a ≤ MAX+1-row Arrow collect before it
# falls back (0.33-0.51 s at 100k-150k × 64 dims on 4 cores, against
# 0.09-0.16 s for a bare limit-count) — small beside scoring ≥ 100k
# queries, and it buys bounded requests their single construction job.
QUERY_BATCH_MAX = 100_000

# _TopRAcc's worst-case per-task buffer is nq × max(2R, R+8192) rows ×
# 16 B (int64 id + float64 score), or 24 B when the row also carries its
# exact distance (the fused rerank of ``_pair_kernel``'s ``exact_col``).
# At QUERY_BATCH_MAX queries and the R=16384 rerank budget that is
# ~50-75 GB — far past any sane task heap — so the pair kernel gates the
# accumulator on this budget (round 12, r11 advice) and falls back to
# full STREAMING emission when it would not fit: more shuffle rows, but
# per-task memory bounded by one Arrow batch instead of the buffer, and
# values identical either way. A compressed-index search whose fused
# buffer would not fit reranks in similarity._exact_rerank instead
# (similarity._codec_search). 256 MiB covers every shipped serving shape
# (250 queries × R=16384 ≈ 197 MB with the distance) with headroom,
# while 32 concurrent tasks stay ≤ 8 GiB total.
EMIT_TOPK_BUDGET_BYTES = 256 << 20


def emit_topk_within_budget(n_q: int, r: int, exact: bool = False) -> bool:
    row_bytes = 24 if exact else 16
    return n_q * max(2 * r, r + 8192) * row_bytes <= EMIT_TOPK_BUDGET_BYTES


def _row_mask(cells, routing, lab, labeling):
    """The (nq × rows) boolean matrix of the (query, batch row) pairs the
    kernel may score — IVF cell routing ∧ in-kernel label equality
    (round 12, verdict r11 item 2) — or None meaning 'every pair'.

    ``routing`` is the request's ``(cell_ids, probe)``: the sorted probed
    cells and an (nq × (C + 1)) table whose last column is False, so the
    cell rows gather as ``probe[:, cells]`` and a cell missing from the
    table matches nothing. ``labeling`` is ``(values, index)``: the
    distinct non-null query labels and each query's position among them,
    ``len(values)`` for a null label, whose all-False row makes a query
    without a label match nothing — the equality semantics of the
    Catalyst leg. Each distinct label is compared (``lab == value``)
    once per batch."""
    m = None
    if routing is not None:
        cell_ids, probe = routing
        pos = np.searchsorted(cell_ids, cells)
        hit = pos < len(cell_ids)
        hit[hit] = cell_ids[pos[hit]] == cells[hit]
        m = probe[:, np.where(hit, pos, len(cell_ids))]
    if lab is not None:
        values, index = labeling
        eq = np.zeros((len(values) + 1, len(lab)), dtype=bool)
        for u, v in enumerate(values):
            eq[u] = lab == v
        m = eq[index] if m is None else (m & eq[index])
    return m


def _routing_table(qids: np.ndarray, cells_by_query: dict):
    """``_row_mask``'s ``routing`` pair for one request: the sorted cells
    any query probes, and the (nq × (C + 1)) probe table, built once."""
    lists = [
        np.asarray(cells_by_query.get(int(q), []), dtype=np.int64)
        for q in qids
    ]
    flat = np.concatenate(lists)
    cell_ids = np.unique(flat)
    probe = np.zeros((len(qids), len(cell_ids) + 1), dtype=bool)
    probe[
        np.repeat(np.arange(len(qids)), [len(c) for c in lists]),
        np.searchsorted(cell_ids, flat),
    ] = True
    return cell_ids, probe


def _label_table(qlabels: list):
    """``_row_mask``'s ``labeling`` pair for one request: the distinct
    non-null query labels (first-seen order) and each query's index
    among them, ``len(values)`` for a null label."""
    first: dict = {}
    for q in qlabels:
        if q is not None:
            first.setdefault(q, len(first))
    return list(first), np.array(
        [len(first) if q is None else first[q] for q in qlabels],
        dtype=np.intp,
    )


def _top_rows(s: np.ndarray, ids: np.ndarray, rows: np.ndarray, r: int):
    """The first ``r`` of ``rows`` under (score asc, id asc) — exactly
    ``rows[np.lexsort((ids[rows], s[rows]))[:r]]``, row order kept when
    there are at most ``r``. ``np.partition`` first pre-cuts to the rows
    whose score is not greater than the r-th (written ``~(s > kth)``, so
    every tie at the r-th and every NaN stays in: NaN partitions and
    sorts last, and a NaN r-th keeps everything), then only those
    survivors are lexsorted."""
    if len(rows) <= r:
        return rows
    sc = s[rows]
    rows = rows[~(sc > np.partition(sc, r - 1)[r - 1])]
    return rows[np.lexsort((ids[rows], s[rows]))[:r]]


class _QueryBatch:
    """One collected query frame: ``qids`` (int64 [n]), ``X`` (float64
    [n, d], None for an id-only frame) and one Python list per ``extra``
    column, plus ``derived`` — what later steps compute from this batch
    alone (probe routing per centroid fingerprint and nprobe, PQ LUTs
    per codebook fingerprint), memoized with it so a repeated frame
    reuses them and a fresh one adds a single store entry."""

    __slots__ = ("qids", "X", "extra", "derived")

    def __init__(self, qids, X, extra):
        self.qids = qids
        self.X = X
        self.extra = extra
        self.derived: dict = {}


def _collected_batch(
    df: DataFrame,
    id_col: str,
    vec_col: str | None,
    extra: tuple = (),
    bounded: bool = True,
) -> "_QueryBatch | None":
    """The frame's (id, vec AS array<double>[, extra…]) rows as one
    ``_QueryBatch``, from ONE Spark action: limit(QUERY_BATCH_MAX +
    1).toArrow() (Arrow, not Row collect — 4.5× faster at 100k rows,
    and one job where limit().count() took two). None when the frame
    holds more than QUERY_BATCH_MAX rows. ``bounded=False`` drops the
    limit for frames small by construction (a centroid table).
    ``vec_col=None`` collects an id-only frame (a tombstone set): the
    batch's ``X`` is then None."""
    bound = QUERY_BATCH_MAX if bounded else None

    def build():
        vec = []
        if vec_col is not None:
            vec.append(F.col(vec_col).cast("array<double>"))
        sel = df.select(id_col, *vec, *extra)
        t = (sel if bound is None else sel.limit(bound + 1)).toArrow()
        if bound is not None and t.num_rows > bound:
            return None
        first = 1 + len(vec)
        return _QueryBatch(
            t.column(0).to_numpy().astype(np.int64, copy=False),
            list_col_to_matrix(t.column(1).combine_chunks()) if vec else None,
            tuple(t.column(first + i).to_pylist() for i in range(len(extra))),
        )

    # the bound is part of the key: changing QUERY_BATCH_MAX misses
    # every earlier entry. A frame over the bound stores None (the
    # oversized marker, so a repeated oversized frame is not
    # re-collected). The query side is the broadcast side by
    # construction; collecting it is the same data movement as
    # F.broadcast.
    return caches.memo(
        "query_batch", build, df, id_col, vec_col, *extra, bound
    )


def query_batch_count(
    queries: DataFrame,
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> int:
    """Row count of the query frame, capped at QUERY_BATCH_MAX + 1
    (exact when ≤ QUERY_BATCH_MAX and 'too big' otherwise, which is all
    the guard needs) — read off the ``_collected_batch`` memo, so the
    guard and the bounded leg share one Spark action."""
    b = _collected_batch(queries, query_id_col, query_vec_col)
    return QUERY_BATCH_MAX + 1 if b is None else len(b.qids)


def _seq_mags(X: np.ndarray) -> np.ndarray:
    """Row L2 norms of X, accumulated left-to-right over the dim axis
    then sqrt — one rounding per op, no FMA, no pairwise summation: the
    IEEE sequence of V.magnitude's aggregate fold and DuckDB's
    list_reduce, bit for bit."""
    mag = np.zeros(X.shape[0])
    for j in range(X.shape[1]):
        mag += X[:, j] * X[:, j]
    return np.sqrt(mag)


class _TopRAcc:
    """Per-query running top-R across the Arrow batches of ONE partition
    (round 11, upgrading the round-10 per-batch cut). The per-BATCH cut
    binds only when a single batch holds more than R rows — and Arrow
    batches are capped at spark.sql.execution.arrow.maxRecordsPerBatch
    (10k), so for the R=16384 rerank families it was structurally a
    no-op. Accumulating across the whole partition bounds emission at
    min(partition rows, R) per query — partitions×nq×R at scale, where
    a production code partition holds millions of rows (128 MB of
    9-byte PQ rows ≈ 14M), vs corpus×nq unbounded.

    Intermediate cuts amortize to O(1) sorts per row: a query's buffer
    is cut back to R only once it exceeds max(2R, R+8192) rows, plus a
    final cut at emission — so the emitted set is EXACTLY the
    partition's per-query top-R under (score asc, id asc), independent
    of batch boundaries and merge schedule (top-R of (top-R of prefix)
    ∪ suffix ≡ top-R of the whole), hence deterministic and a provable
    superset of the global top-R. Scores are never modified — the
    downstream window sees identical doubles. ``n_extra`` float64
    columns (the fused rerank's exact distance) ride beside each score
    through every cut.

    ``_pair_kernel`` hands it each query's rows already gathered from
    the batch-wide arrays — a row of the transposed (nq × rows) score
    matrix, or the fused leg's pre-cut pairs — and ``add`` copies any
    view, so a buffer never pins a batch matrix. Each query's rows
    arrive in row order when uncut and in (score, id) order when cut to
    R, so every cut sees its candidates in one fixed order."""

    def __init__(self, n_q: int, r: int, n_extra: int = 0):
        self.r = r
        self.thresh = max(2 * r, r + 8192)
        self._n_cols = 2 + n_extra
        # per query: (ids, score, *extra) array tuples awaiting a cut
        self._parts: list[list[tuple]] = [[] for _ in range(n_q)]
        self._len = [0] * n_q

    def add(self, qi: int, ids: np.ndarray, sc: np.ndarray, *extra) -> None:
        if len(ids) == 0:
            return
        # detach views: a dist[:, qi] column slice pins the whole
        # (rows × nq) batch matrix (and an Arrow-backed ids array pins
        # its RecordBatch) until the next cut — copying keeps peak
        # memory at the ≤thresh buffers plus ONE in-flight batch
        # (review r11)
        self._parts[qi].append(tuple(
            a.copy() if a.base is not None else a for a in (ids, sc, *extra)
        ))
        self._len[qi] += len(ids)
        if self._len[qi] > self.thresh:
            self._cut(qi)

    def _cut(self, qi: int) -> None:
        cols = [np.concatenate(c) for c in zip(*self._parts[qi])]
        if len(cols[0]) > self.r:
            order = np.lexsort((cols[0], cols[1]))[: self.r]
            cols = [c[order] for c in cols]
        self._parts[qi] = [tuple(cols)]
        self._len[qi] = len(cols[0])

    def emit(self, qids: np.ndarray):
        """(out_q, out_id, out_score, *out_extra) for the whole partition
        — each query's exact top-R (or everything, if the partition
        holds fewer than R rows for it)."""
        live = [qi for qi in range(len(qids)) if self._len[qi]]
        for qi in live:
            self._cut(qi)
        out_q = [np.full(self._len[qi], qids[qi], np.int64) for qi in live]
        cols = [
            np.concatenate(
                [self._parts[qi][0][c] for qi in live]
                or [np.empty(0, np.int64 if c == 0 else np.float64)]
            )
            for c in range(self._n_cols)
        ]
        cols[0] = cols[0].astype(np.int64, copy=False)
        return (np.concatenate(out_q or [np.empty(0, np.int64)]), *cols)


class _PairScorer(NamedTuple):
    """What differs between the |base|×|queries| Arrow kernels — the
    emission loop itself (routing masks, top-R, Arrow output) lives once,
    in ``_pair_kernel``. ``payload`` are the base-side columns the score
    reads (after the id); ``query_vec_col`` is the collected query column;
    ``prep(qb)`` turns the collected ``_QueryBatch`` into ``score`` where
    ``score(batch)`` returns one (rows, nq) float64 matrix per
    ``score_cols`` entry (the first one ranks the top-R cut)."""

    name: str
    payload: tuple
    query_vec_col: str
    score_cols: tuple
    prep: Callable


def _cosine_scorer(
    vec_col: str, query_vec_col: str, dual_metric: bool = False
) -> _PairScorer:
    """Clamped-cosine distance, BIT-IDENTICAL to ``_scored_product``
    (asserted in tests/test_knn_kernel.py): row magnitudes accumulate
    x·x left-to-right over the dim axis then sqrt; dots accumulate
    acc += v_j·q_j in the same dim order (0.0 + x ≡ x); sim =
    dot / (v_mag · q_mag) is one multiply then one divide; clamp =
    np.maximum(sim, 0.0) ≡ greatest(0.0, sim) (no NaNs by fixture
    contract); dist = 1.0 − clamped. One rounding per op, no FMA, no
    pairwise summation — the same IEEE sequence the DuckDB oracle
    evaluates. Requires fixed-dimension vectors (true of every fixture
    table; the expression form keeps the ragged-input null-pad
    semantics). ``dual_metric`` adds the polarization-identity euclidean
    ``sqrt(greatest(0, |v|² + |q|² − 2·dot))`` from the same dot pass."""

    def prep(qb):
        Q = qb.X
        qmags = _seq_mags(Q)

        def score(batch):
            X = list_col_to_matrix(batch.column("_vd"))
            n, d = X.shape
            mag = _seq_mags(X)
            acc = np.zeros((n, len(Q)))
            for j in range(d):
                acc += X[:, j: j + 1] * Q[:, j][None, :]
            sims = acc / (mag[:, None] * qmags[None, :])
            dist = 1.0 - np.maximum(sims, 0.0)
            if not dual_metric:
                return [dist]
            # ((|v|²+|q|²) − 2·dot) then clamp then sqrt — the exact
            # associativity of the staged Catalyst expression
            vm2 = mag * mag
            qm2 = qmags * qmags
            return [dist, np.sqrt(
                np.maximum(vm2[:, None] + qm2[None, :] - 2.0 * acc, 0.0)
            )]

        return score

    return _PairScorer(
        "cosine",
        (F.col(vec_col).cast("array<double>").alias("_vd"),),
        query_vec_col,
        ("cos_dist", "euc_dist") if dual_metric else ("dist",),
        prep,
    )


# (row, query) pairs per block of the fused exact rerank's fold: bounds
# its transient gathers at a few arrays of 65536 doubles (512 KiB each)
_EXACT_CHUNK = 1 << 16


def _check_label_pair(label_col, qlabel_col) -> None:
    if (label_col is None) != (qlabel_col is None):
        raise ValueError("label_col and qlabel_col must be passed together")


def _pair_kernel(
    base: DataFrame,
    queries: DataFrame,
    scorer: _PairScorer,
    id_col: str = "vec_id",
    query_id_col: str = "query_id",
    cells_by_query: dict[int, list] | None = None,
    cell_col: str = "centroid_id",
    emit_topk: int | None = None,
    label_col: str | None = None,
    qlabel_col: str | None = None,
    exact_col: str | None = None,
) -> DataFrame:
    """(query_id, id, *score_cols) for every (query × base-row) pair the
    routing allows — the ONE Arrow pair kernel every bounded-batch scorer
    (cosine, PQ ADC, SQ ADC) runs through. The collected query batch
    rides in the closure (the broadcast side by construction; bounded
    and session-cached via ``_collected_batch`` — callers guard with
    QUERY_BATCH_MAX first), the base scans distributed with only (id,
    payload[, cell][, label]) crossing into Arrow, and each emitted pair
    row is a few scalars.

    ``cells_by_query`` routes IVF probing inside the kernel: a base row
    is scored for a query only where its ``cell_col`` is in that query's
    probed-cell list. ``label_col``/``qlabel_col`` add the IDSelector
    equality: the caller attaches the stored label to the base frame and
    the query's label to the QUERIES frame; both fold into one row mask
    per query (``_row_mask``) before any row leaves the kernel.

    ``emit_topk``: when the CALLER's next step is a per-query (score asc,
    id asc) top-k cut with no intervening row filter, each partition
    emits only its per-query top ``emit_topk`` rows (``_TopRAcc`` folds
    the partition's Arrow batches) — a provable superset of the global
    top-k with identical score doubles, turning |probed|×|queries| rows
    into partitions×queries×k. It is dropped (streaming full emission,
    values unchanged) when the buffer would exceed
    EMIT_TOPK_BUDGET_BYTES.

    ``exact_col`` (requires an ``emit_topk`` that fits the budget with
    the distance carried) fuses the exact rerank into the same pass: a
    base-side full-precision vector column whose rows, once cut to each
    query's batch-local top ``emit_topk`` by (score, id), get the exact
    clamped cosine to the query, emitted as ``xdist`` beside the
    scores. The fold is the ``_cosine_scorer`` / V.dot-V.magnitude op
    order on the vector cast to float64 here (not in storage), so
    ``xdist`` equals the Catalyst rerank's distance bit for bit; the
    extra work is at most nq·emit_topk·d per Arrow batch.

    Each Arrow batch is handled whole, and every per-candidate value
    keeps the op sequence of a per-query loop (tests/test_knn_kernel.py
    replays this closure against that loop as the reference):
    - the routing is one (nq × rows) matrix from ``_row_mask``;
    - the score matrix is transposed once, so each query's scores are
      one contiguous row;
    - the fused cut is ``_top_rows`` per query: a partition pre-cut,
      then a lexsort of the survivors, the same rows in the same order
      as a full lexsort's first ``emit_topk``;
    - the exact fold casts the batch vectors once to contiguous
      (d × rows) lanes and the queries to (d × nq), computes each row's
      magnitude once (``_seq_mags``), and runs ``dot += x_j · q_j`` for
      j = 0..d−1 over the selected (row, query) pairs, then
      ``1 − max(dot / (|x|·|q|), 0)`` — the same left fold per pair."""
    import pyarrow as pa

    _check_label_pair(label_col, qlabel_col)
    extra = ("xdist",) if exact_col is not None else ()
    names = [query_id_col, id_col, *scorer.score_cols, *extra]
    schema = f"{query_id_col} long, {id_col} long, " + ", ".join(
        f"{c} double" for c in (*scorer.score_cols, *extra)
    )
    qb = _collected_batch(
        queries, query_id_col, scorer.query_vec_col,
        (qlabel_col,) if qlabel_col is not None else (),
    )
    if qb is None:
        raise ValueError(
            f"the pair kernel needs a bounded query batch (> "
            f"{QUERY_BATCH_MAX} rows); guard with query_batch_count"
        )
    if not len(qb.qids):
        # empty query batch → empty pair set (a (0, 0) query matrix
        # would break the (nq, d) slicing in the scorers)
        return base.sparkSession.createDataFrame([], schema)
    qids = qb.qids
    score = scorer.prep(qb)
    nq = len(qids)
    if exact_col is not None:
        if emit_topk is None or not emit_topk_within_budget(
            nq, emit_topk, exact=True
        ):
            raise ValueError(
                "exact_col needs an emit_topk whose buffer fits "
                "EMIT_TOPK_BUDGET_BYTES; rerank on the Catalyst tail"
            )
        QT = np.ascontiguousarray(qb.X.T)
        qmags = _seq_mags(qb.X)
    elif emit_topk is not None and not emit_topk_within_budget(nq, emit_topk):
        emit_topk = None  # buffer would not fit: stream full emission
    routing = (
        _routing_table(qids, cells_by_query)
        if cells_by_query is not None else None
    )
    labeling = _label_table(qb.extra[0]) if qlabel_col is not None else None
    cols = [id_col, *scorer.payload]
    if cells_by_query is not None:
        cols.append(cell_col)
    if label_col is not None:
        cols.append(label_col)
    if exact_col is not None:
        cols.append(exact_col)
    src = base.select(*cols)

    def _exact(topr, batch, ids, st, mask):
        """Each query's batch-local top ``emit_topk`` rows by (score,
        id), handed to the accumulator with their exact distance."""
        every = np.arange(len(ids))
        rows_by_q = [
            _top_rows(
                st[qi], ids,
                every if mask is None else np.flatnonzero(mask[qi]),
                emit_topk,
            )
            for qi in range(nq)
        ]
        sel = np.concatenate(rows_by_q)
        sel_q = np.repeat(np.arange(nq), [len(r) for r in rows_by_q])
        # the vectors in their stored dtype (float32 on the fixtures),
        # cast to float64 once per batch as contiguous (d × rows) lanes;
        # each row's magnitude is folded once and gathered per pair
        XT = np.ascontiguousarray(
            list_col_to_matrix(batch.column(exact_col), dtype=None).T,
            dtype=np.float64,
        )
        mags = _seq_mags(XT.T)
        xdist = np.empty(len(sel))
        for lo in range(0, len(sel), _EXACT_CHUNK):
            rs = sel[lo: lo + _EXACT_CHUNK]
            qs = sel_q[lo: lo + _EXACT_CHUNK]
            dot = np.zeros(len(rs))
            for j in range(len(XT)):
                dot += XT[j][rs] * QT[j][qs]
            sims = dot / (mags[rs] * qmags[qs])
            xdist[lo: lo + len(rs)] = 1.0 - np.maximum(sims, 0.0)
        sc = st[sel_q, sel]
        lo = 0
        for qi, rows in enumerate(rows_by_q):
            hi = lo + len(rows)
            topr.add(qi, ids[rows], sc[lo:hi], xdist[lo:hi])
            lo = hi

    def _score(batches):
        topr = (
            _TopRAcc(nq, emit_topk, len(extra))
            if emit_topk is not None else None
        )
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(id_col).to_numpy().astype(np.int64, copy=False)
            n = len(ids)
            mats = score(batch)
            cells = (
                batch.column(cell_col).to_numpy()
                if routing is not None
                else None
            )
            lab = (
                batch.column(label_col).to_numpy(zero_copy_only=False)
                if label_col is not None
                else None
            )
            mask = _row_mask(cells, routing, lab, labeling)
            if topr is None:
                if mask is None:
                    out = [np.tile(qids, n), np.repeat(ids, nq)]
                    out += [m.ravel() for m in mats]
                else:
                    ri, qi = np.nonzero(mask.T)
                    out = [qids[qi], ids[ri]] + [m[ri, qi] for m in mats]
                yield pa.RecordBatch.from_arrays(
                    [pa.array(a) for a in out], names=names
                )
                continue
            # each query's scores as one contiguous row
            st = np.ascontiguousarray(mats[0].T)
            if exact_col is not None:
                _exact(topr, batch, ids, st, mask)
                continue
            for qi in range(nq):
                if mask is None:
                    topr.add(qi, ids, st[qi])
                else:
                    rows = np.flatnonzero(mask[qi])
                    topr.add(qi, ids[rows], st[qi, rows])
        if topr is not None:
            yield pa.RecordBatch.from_arrays(
                [pa.array(a) for a in topr.emit(qids)], names=names
            )

    return src.mapInArrow(_score, schema=schema)


def pair_scores(
    base: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    cells_by_query: dict[int, list] | None = None,
    cell_col: str = "centroid_id",
    dual_metric: bool = False,
    emit_topk: int | None = None,
    label_col: str | None = None,
    qlabel_col: str | None = None,
) -> DataFrame:
    """(query_id, vec_id, dist) for every (query × base-row) pair — the
    |base|×|queries| hot loop of exact batch search, argmin/argmax, and
    (with ``cells_by_query``) IVF cell-probed search: ``_pair_kernel``
    with the ``_cosine_scorer``. The expression form's distance is an
    interpreted higher-order fold (Catalyst does not codegen lambda
    functions), measured at ~25 µs per pair; the kernel is ~1 µs.

    ``dual_metric`` emits ``cos_dist`` and ``euc_dist`` (the evaluation
    pipeline's staged-dot form, registry._eval_frames) instead of
    ``dist``; it is incompatible with ``emit_topk`` (the evaluation
    pipeline consumes full pair sets). Routing, labels and ``emit_topk``
    follow ``_pair_kernel``.

    GUARD: above QUERY_BATCH_MAX query rows this falls back to the
    pure-Catalyst ``_scored_product`` form (no query batch kept on the
    driver, no broadcast of the oversized side) — bit-identical values,
    different physical plan. There the label equality references both
    sides of the product, so Catalyst folds it into the pair-producing
    join itself and no unfiltered pair row reaches a shuffle."""
    if emit_topk is not None and dual_metric:
        raise ValueError("emit_topk is incompatible with dual_metric")
    _check_label_pair(label_col, qlabel_col)
    qb = _collected_batch(
        queries, query_id_col, query_vec_col,
        (qlabel_col,) if qlabel_col is not None else (),
    )
    if qb is None:
        if cells_by_query is not None:
            # the caller already holds a per-query routing dict, i.e.
            # it collected the oversized frame itself — that's the
            # caller's bug; knn_ivf guards before building the dict
            raise ValueError(
                "cells_by_query routing requires a bounded query "
                f"batch (> {QUERY_BATCH_MAX} rows); use the join form"
            )
        scored = _scored_product(
            base, queries, id_col, vec_col, query_id_col, query_vec_col,
            dual_metric=dual_metric, broadcast_queries=False,
        )
        if label_col is not None:
            scored = scored.where(
                F.col(label_col) == F.col(qlabel_col)
            )
        cols = [
            F.col(query_id_col).cast("long").alias(query_id_col),
            F.col(id_col).cast("long").alias(id_col),
        ]
        cols += (
            [F.col("cos_dist"), F.col("euc_dist")] if dual_metric
            else [F.col("dist")]
        )
        return scored.select(*cols)
    return _pair_kernel(
        base, queries, _cosine_scorer(vec_col, query_vec_col, dual_metric),
        id_col, query_id_col,
        cells_by_query=cells_by_query,
        cell_col=cell_col,
        emit_topk=emit_topk,
        label_col=label_col,
        qlabel_col=qlabel_col,
    )


# NOTE: the exact rerank of a bounded compressed-index search rides the
# candidate kernel itself (``_pair_kernel``'s ``exact_col``): the rows a
# query keeps after its batch-local top-R cut get their exact distance
# in the pass that scored them, and one query_id exchange carries both
# per-query cuts. An earlier Arrow rerank measured ~0.5 s SLOWER than
# the broadcast-join + inline-fold form at sf0.1, but that was a SEPARATE
# Python hop (pair list → point-fetch join → a second kernel) that broke
# the stage into the top-k window; the fused form adds no stage, no join
# and no query broadcast. Its cost is an exact distance for up to every
# scanned row (each Arrow batch keeps its own top R), so it is bounded
# by |queries| × |base| (similarity.FUSED_RERANK_PAIRS); past that, and
# on the Catalyst leg, the expression form (similarity._exact_rerank)
# reranks.


def argmin_dist(
    base: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Nearest element per query (reference H1, src/hnsw.rs:65-76) as a
    ``min_by`` aggregate — no window needed, map-side partial aggregation
    over the vectorized ``pair_scores`` kernel output (round 6;
    oracle-bit-identical, see pair_scores)."""
    scored = pair_scores(
        base, queries, id_col, vec_col, query_id_col, query_vec_col
    )
    return scored.groupBy(query_id_col).agg(
        F.min_by(F.struct(F.col(id_col), F.col("dist")), F.struct("dist", id_col))
        .getField(id_col)
        .alias("nearest_id"),
        F.min("dist").alias("min_dist"),
    )


def argmax_dist(
    base: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Furthest element per query (reference H2, src/hnsw.rs:78-89)."""
    scored = pair_scores(
        base, queries, id_col, vec_col, query_id_col, query_vec_col
    )
    return scored.groupBy(query_id_col).agg(
        F.max_by(
            F.struct(F.col(id_col), F.col("dist")),
            F.struct(F.col("dist"), (-F.col(id_col)).alias("neg")),
        )
        .getField(id_col)
        .alias("furthest_id"),
        F.max("dist").alias("max_dist"),
    )


class ExactKNNIndex:
    """Thin ``Index``-protocol wrapper mirroring the reference trait
    (/root/reference/src/index.rs:4-10, src/exact_knn.rs:8-39): the "index"
    is just the cached base DataFrame; ``insert_many`` ≈ union, ``search`` ≈
    the top-k query above."""

    def __init__(self, id_col: str = "vec_id", vec_col: str = "embedding"):
        self.df: DataFrame | None = None
        self.id_col = id_col
        self.vec_col = vec_col

    def insert_many(self, df: DataFrame) -> "ExactKNNIndex":
        self.df = df if self.df is None else self.df.unionByName(df)
        return self

    def search(self, query_vec, k: int) -> DataFrame:
        assert self.df is not None, "index is empty"
        return knn_exact_single(self.df, query_vec, k, self.id_col, self.vec_col)
