"""Bit-parity of the round-6 vectorized scoring kernels vs the Catalyst
expression forms they replaced (the pq_codes proof pattern): the kernels
must produce the SAME doubles bit-for-bit — normalization/dot/magnitude
accumulate left-to-right over the dim axis exactly like the interpreted
aggregate() folds the DuckDB oracles mirror."""

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from toy_vector_db_spark.operators import knn, similarity
from toy_vector_db_spark.sources.ndjson import split_count


def _splits(embeddings):
    n = embeddings.count()
    cut = split_count(n, 0.95)
    base = embeddings.where(F.col("vec_id") < cut)
    qs = embeddings.where(F.col("vec_id") >= cut).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return base, qs


def test_pair_scores_equals_expression_form(spark, embeddings):
    base, qs = _splits(embeddings)
    expr = {
        (r["query_id"], r["vec_id"]): r["dist"]
        for r in knn._scored_product(
            base, qs, "vec_id", "embedding", "query_id", "query_vec"
        ).select("query_id", "vec_id", "dist").collect()
    }
    kern = {
        (r["query_id"], r["vec_id"]): r["dist"]
        for r in knn.pair_scores(base, qs).collect()
    }
    assert expr == kern  # exact float equality, full pair set


def test_pair_scores_dual_metric_equals_staged_expressions(spark, embeddings):
    """The dual-metric kernel (cos + polarization-identity euclidean from
    ONE staged dot) must match the staged Catalyst expression tree of
    registry._eval_frames op for op."""
    from toy_vector_db_spark.functions import vector as V

    base, qs = _splits(embeddings)
    base_m = base.withColumn("_v_mag", V.magnitude("embedding"))
    q_m = qs.withColumn("_q_mag", V.magnitude("query_vec"))
    staged = (
        base_m.crossJoin(F.broadcast(q_m))
        .withColumn("_dot", V.dot("embedding", "query_vec"))
        .withColumn(
            "cos_dist",
            F.lit(1.0)
            - F.greatest(
                F.lit(0.0), F.col("_dot") / (F.col("_v_mag") * F.col("_q_mag"))
            ),
        )
        .withColumn(
            "euc_dist",
            F.sqrt(
                F.greatest(
                    F.lit(0.0),
                    F.col("_v_mag") * F.col("_v_mag")
                    + F.col("_q_mag") * F.col("_q_mag")
                    - F.lit(2.0) * F.col("_dot"),
                )
            ),
        )
        .select("query_id", "vec_id", "cos_dist", "euc_dist")
    )
    expr = {
        (r["query_id"], r["vec_id"]): (r["cos_dist"], r["euc_dist"])
        for r in staged.collect()
    }
    kern = {
        (r["query_id"], r["vec_id"]): (r["cos_dist"], r["euc_dist"])
        for r in knn.pair_scores(base, qs, dual_metric=True).collect()
    }
    assert expr == kern


def test_pair_scores_cell_routing(spark, embeddings):
    """cells_by_query emits exactly the pairs whose base-row cell is in
    the query's probed set — equivalent to the probe-join form."""
    from toy_vector_db_spark.operators import similarity

    base, qs = _splits(embeddings)
    cents = similarity.cached_trained_centroids(base)
    assign = similarity.cached_trained_assign(base)
    cell_vectors = (
        base.join(assign, "vec_id")
        .select("vec_id", "embedding", "centroid_id")
    )
    probes = similarity._ivf_probes(qs, cents, 3)
    cells_by_query = {}
    for r in probes.select("query_id", "centroid_id").collect():
        cells_by_query.setdefault(int(r["query_id"]), []).append(
            int(r["centroid_id"])
        )
    kern = {
        (r["query_id"], r["vec_id"])
        for r in knn.pair_scores(
            cell_vectors, qs, cells_by_query=cells_by_query
        ).collect()
    }
    joined = {
        (r["query_id"], r["vec_id"])
        for r in cell_vectors.join(
            probes.select("query_id", "centroid_id"), "centroid_id"
        ).select("query_id", "vec_id").collect()
    }
    assert kern == joined


def test_sq_adc_kernel_equals_fold_form(spark, embeddings):
    """The SQ ADC Arrow kernel (round 8) must match the interpreted
    _sq_dist fold — the form the DuckDB oracle evaluates — bit for bit
    over the full pair set: acc += (x_j − y_j)² one dim at a time in j
    order from 0.0, no FMA, no pairwise summation. The kernel normalizes
    the raw queries in numpy; the fold reads Catalyst's normalized
    ``qnv``, so this also pins the two normalizations equal."""
    from toy_vector_db_spark.operators import similarity

    base, qs = _splits(embeddings)
    base = base.select("vec_id", "embedding")
    bounds = similarity.cached_sq_bounds(base)
    codes = similarity.sq_code_array(base, bounds)
    deq = codes.crossJoin(F.broadcast(bounds)).select(
        "vec_id", similarity._sq_deq("codes", "mins", "maxs").alias("deq")
    )
    nq = similarity._sq_queries(qs, "query_id", "query_vec")
    fold = {
        (r["query_id"], r["vec_id"]): r["ad2"]
        for r in deq.crossJoin(F.broadcast(nq)).select(
            "query_id",
            "vec_id",
            similarity._sq_dist("deq", "qnv").alias("ad2"),
        ).collect()
    }
    kern = {
        (r["query_id"], r["vec_id"]): r["ad2"]
        for r in knn._pair_kernel(
            deq, qs, similarity._sq_scorer("query_vec")
        ).collect()
    }
    assert fold == kern  # exact float equality, full pair set


def test_pq_pair_adc_kernel_equals_lut_broadcast_form(spark, embeddings):
    """Round 10: the base-side PQ ADC kernel (knn._pair_kernel with the
    _pq_scorer — queries + driver-built LUTs in the closure) must produce the SAME ad2 doubles
    bit-for-bit as the broadcast-LUT form it replaced on the serving
    path (_adc_lut_frame ⋈ codes + _adc_expr), on the FULL pair set and
    with cell routing."""
    from toy_vector_db_spark.operators import similarity

    base, qs = _splits(embeddings)
    base = base.select("vec_id", "embedding")
    books = similarity.trained_pq_codebooks(base)
    codes = similarity.pq_codes(base)
    scorer = similarity._pq_scorer(books, "query_id", "query_vec")
    kern = {
        (r["query_id"], r["vec_id"]): r["ad2"]
        for r in knn._pair_kernel(codes, qs, scorer).collect()
    }
    luts = similarity._adc_lut_frame(qs, books)
    ref = {
        (r["query_id"], r["vec_id"]): r["ad2"]
        for r in codes.crossJoin(F.broadcast(luts))
        .withColumn("ad2", similarity._adc_expr())
        .select("query_id", "vec_id", "ad2")
        .collect()
    }
    assert kern == ref  # exact float equality, full pair set

    # cell routing: restrict each query to a deterministic subset of
    # cells and assert the routed kernel emits exactly the pair subset,
    # values unchanged
    cc = similarity.cached_codes_cells(base)
    cells = sorted(
        r["centroid_id"]
        for r in cc.select("centroid_id").distinct().collect()
    )
    qids = [r["query_id"] for r in qs.select("query_id").collect()]
    routing = {
        int(q): [cells[i % len(cells)], cells[(i + 1) % len(cells)]]
        for i, q in enumerate(sorted(qids))
    }
    routed = {
        (r["query_id"], r["vec_id"]): r["ad2"]
        for r in knn._pair_kernel(
            cc, qs, scorer, cells_by_query=routing
        ).collect()
    }
    cell_of = {r["vec_id"]: r["centroid_id"] for r in cc.collect()}
    expect = {
        (q, v): d
        for (q, v), d in ref.items()
        if cell_of[v] in routing[int(q)]
    }
    assert routed == expect


def test_emit_topk_bounded_emission_is_lossless(spark, embeddings):
    """Round 10: pair_scores(emit_topk=k) keeps each query's per-batch
    top-k under the window's exact (dist asc, id asc) order — a provable
    superset of the global top-k. Stress MULTI-BATCH: with the base
    split into 16 partitions (batches far smaller than the corpus), the
    final top-k must equal the full-emission form row for row, and the
    emitted pair count must be bounded, not |base|x|queries|."""
    from toy_vector_db_spark.operators import knn as K

    base, qs = _splits(embeddings)
    base16 = base.repartition(16)
    k = 10
    capped = K.knn_exact_batch(base16, qs, k).collect()
    full_pairs = K.pair_scores(base16, qs)
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("vec_id").asc()
    )
    uncapped = (
        full_pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "dist", "rank")
        .collect()
    )
    assert sorted(map(tuple, capped)) == sorted(map(tuple, uncapped))
    # bounded emission: at most batches*queries*k pairs leave the kernel
    n_q = qs.count()
    emitted = K.pair_scores(base16, qs, emit_topk=k).count()
    assert emitted <= 16 * n_q * k
    assert emitted < base.count() * n_q, "cap did not reduce emission"


def test_emit_topk_memory_budget_gate(spark, embeddings, monkeypatch):
    """Round 12 (r11 advice): _TopRAcc buffers up to
    nq × max(2R, R+8192) × 16 B per task — at QUERY_BATCH_MAX queries
    and the R=16384 rerank budget that is ~50 GB, so the kernels gate
    the accumulator on EMIT_TOPK_BUDGET_BYTES and fall back to full
    STREAMING emission when it would not fit (values identical; memory
    bounded by one Arrow batch instead of the buffer)."""
    from toy_vector_db_spark.operators import knn as K

    base, qs = _splits(embeddings)
    base16 = base.repartition(16)
    k = 10
    n_q = qs.count()
    assert K.pair_scores(base16, qs, emit_topk=k).count() <= 16 * n_q * k
    monkeypatch.setattr(K, "EMIT_TOPK_BUDGET_BYTES", 0)
    # gate engages → the cap is dropped, full pair emission streams out
    assert K.pair_scores(base16, qs, emit_topk=k).count() == (
        base.count() * n_q
    )


def test_emit_topk_routed_matches_unrouted_window(spark, embeddings):
    """Routed + capped: knn_ivf's kernel path (cells_by_query AND
    emit_topk) must equal the uncapped routed emission under the same
    final window."""
    from pyspark.sql import Window

    from toy_vector_db_spark.operators import knn as K
    from toy_vector_db_spark.operators import similarity

    base, qs = _splits(embeddings)
    base = base.select("vec_id", "embedding")
    cents = similarity.cached_trained_centroids(base)
    cv = similarity.cached_cell_vectors(base)
    probes = similarity._ivf_probes(qs, cents, similarity.N_PROBE)
    routing: dict[int, list] = {}
    for r in probes.select("query_id", "centroid_id").collect():
        routing.setdefault(int(r["query_id"]), []).append(
            int(r["centroid_id"])
        )
    probed = sorted({c for cs in routing.values() for c in cs})
    src = cv.where(F.col("centroid_id").isin(probed))
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("vec_id").asc()
    )

    def topk(df):
        return sorted(
            map(
                tuple,
                df.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= 10)
                .select("query_id", "vec_id", "dist", "rank")
                .collect(),
            )
        )

    capped = topk(
        K.pair_scores(
            src.repartition(16), qs, cells_by_query=routing, emit_topk=10
        )
    )
    full = topk(
        K.pair_scores(src.repartition(16), qs, cells_by_query=routing)
    )
    assert capped == full


def test_topr_acc_is_batch_schedule_invariant():
    """knn._TopRAcc (round 11): the emitted per-query top-R set must be
    EXACTLY the partition's top-R under (score asc, id asc), no matter
    how the partition's rows are split into Arrow batches or when the
    amortized intermediate cuts fire — top-R of (top-R of prefix) ∪
    suffix ≡ top-R of the whole."""
    import numpy as np

    from toy_vector_db_spark.operators import knn as K

    rng = np.random.default_rng(7)
    n, n_q, r = 5000, 3, 17
    ids = rng.permutation(n).astype(np.int64)
    scores = rng.integers(0, 50, size=(n, n_q)).astype(np.float64)

    def run(split_points, thresh=None):
        acc = K._TopRAcc(n_q, r)
        if thresh is not None:
            acc.thresh = thresh  # force frequent intermediate cuts
        prev = 0
        for cut in list(split_points) + [n]:
            for qi in range(n_q):
                acc.add(qi, ids[prev:cut], scores[prev:cut, qi])
            prev = cut
        out_q, out_id, out_d = acc.emit(np.arange(n_q, dtype=np.int64))
        return sorted(zip(out_q.tolist(), out_id.tolist(), out_d.tolist()))

    # ground truth: exact top-R per query under (score asc, id asc)
    want = []
    for qi in range(n_q):
        order = np.lexsort((ids, scores[:, qi]))[:r]
        want += [(qi, int(ids[i]), float(scores[i, qi])) for i in order]
    want = sorted(want)

    one_batch = run([])
    many_small = run(range(100, n, 100))
    uneven = run([1, 2, 4000, 4001])
    forced_cuts = run(range(500, n, 500), thresh=r + 1)
    assert one_batch == want
    assert many_small == want
    assert uneven == want
    assert forced_cuts == want


# -- the pair kernel's closure against a plain-numpy reference ------------
#
# ``knn._pair_kernel`` scores, masks, cuts and reranks whole Arrow batches
# at once. The reference below is the per-query form it replaced, kept as
# plain numpy: an ``np.isin`` cell mask and a label equality per query,
# a full ``np.lexsort`` per query for the top-R cut, an exact fold over
# strided (pair, dim) gathers that recomputes each row's magnitude for
# every pair it is selected in, ADC scores as ``lut[:, codes].T`` sums
# over ``np.cumsum`` LUTs. The kernel closure is replayed on the driver
# over hand-built batches and its output compared as int64 views: the
# same rows, in the same order, with the same bits.

_M, _K, _SUB = 4, 8, 4
_D = _M * _SUB
_REF_CHUNK = 8192


def _ref_mags(X):
    mag = np.zeros(X.shape[0])
    for j in range(X.shape[1]):
        mag += X[:, j] * X[:, j]
    return np.sqrt(mag)


def _ref_subspace_d2(X, b_arr):
    """The LUT core as an ``np.cumsum`` over the subspace axis, in row
    blocks (the (rows, K, sub) difference is materialized)."""
    sub = b_arr.shape[2]
    out = [[] for _ in range(b_arr.shape[0])]
    for lo in range(0, len(X), 1000):
        blk = X[lo: lo + 1000]
        nv = blk / _ref_mags(blk)[:, None]
        for m in range(b_arr.shape[0]):
            diff = nv[:, None, m * sub: (m + 1) * sub] - b_arr[m][None, :, :]
            out[m].append(np.cumsum(diff * diff, axis=2)[:, :, -1])
    return [np.concatenate(o) for o in out]


def _reference_closure(batches, qids, Q, books, cells_by_query, qlabels,
                       emit_topk, exact):
    """The per-query emission loop ``knn._pair_kernel`` ran before it
    became whole-batch, over the PQ ADC scorer."""
    nq = len(qids)
    luts = _ref_subspace_d2(Q, np.array(books))
    qmags = _ref_mags(Q)
    names = ["query_id", "vec_id", "ad2"] + (["xdist"] if exact else [])
    topr = (
        knn._TopRAcc(nq, emit_topk, int(exact))
        if emit_topk is not None else None
    )
    cell_lists = None if cells_by_query is None else [
        np.array(cells_by_query.get(int(q), []), dtype=np.int64)
        for q in qids
    ]
    out_batches = []
    for batch in batches:
        if batch.num_rows == 0:
            continue
        ids = batch.column("vec_id").to_numpy().astype(np.int64)
        n = len(ids)
        sc = np.zeros((n, nq))
        for m, lut in enumerate(luts):
            sc += lut[:, batch.column(f"c{m}").to_numpy()].T
        masks = None
        if cell_lists is not None or qlabels is not None:
            masks = []
            for qi in range(nq):
                mk = None
                if cell_lists is not None:
                    mk = np.isin(batch.column("centroid_id").to_numpy(),
                                 cell_lists[qi])
                if qlabels is not None:
                    lab = batch.column("label").to_numpy(zero_copy_only=False)
                    q = qlabels[qi]
                    lm = (np.zeros(n, dtype=bool) if q is None
                          else np.asarray(lab == q, dtype=bool))
                    mk = lm if mk is None else (mk & lm)
                masks.append(mk)
        rows_by_q = [
            np.arange(n) if masks is None else np.nonzero(masks[qi])[0]
            for qi in range(nq)
        ]
        if exact:
            for qi, rows in enumerate(rows_by_q):
                if len(rows) > emit_topk:
                    rows = rows[np.lexsort((ids[rows], sc[rows, qi]))[:emit_topk]]
                rows_by_q[qi] = rows
            sel = np.concatenate(rows_by_q)
            sel_q = np.repeat(np.arange(nq), [len(r) for r in rows_by_q])
            Xn = np.stack(batch.column("_xv").to_numpy(zero_copy_only=False))
            xdist = np.empty(len(sel))
            for lo in range(0, len(sel), _REF_CHUNK):
                qs = sel_q[lo: lo + _REF_CHUNK]
                X = Xn[sel[lo: lo + _REF_CHUNK]].astype(np.float64)
                Qs = Q[qs]
                dot = np.zeros(len(qs))
                for j in range(X.shape[1]):
                    dot += X[:, j] * Qs[:, j]
                sims = dot / (_ref_mags(X) * qmags[qs])
                xdist[lo: lo + len(qs)] = 1.0 - np.maximum(sims, 0.0)
            lo = 0
            for qi, rows in enumerate(rows_by_q):
                topr.add(qi, ids[rows], sc[rows, qi], xdist[lo: lo + len(rows)])
                lo += len(rows)
            continue
        if topr is not None:
            for qi, rows in enumerate(rows_by_q):
                topr.add(qi, ids[rows], sc[rows, qi])
            continue
        if masks is None:
            out = [np.tile(qids, n), np.repeat(ids, nq), sc.ravel()]
        else:
            ri, qi = np.nonzero(np.stack(masks, axis=1))
            out = [qids[qi], ids[ri], sc[ri, qi]]
        out_batches.append(dict(zip(names, out)))
    if topr is not None:
        out_batches.append(dict(zip(names, topr.emit(qids))))
    return names, out_batches


def _bits(names, batches):
    """Each output column, concatenated over the batches, as int64."""
    cols = {}
    for c in names:
        parts = [np.asarray(b[c]) for b in batches]
        a = np.concatenate(parts) if parts else np.empty(0)
        cols[c] = a.astype(np.float64 if c not in ("query_id", "vec_id")
                           else np.int64).view(np.int64)
    return cols


def _hand_batches(rng, sizes, dup_every):
    """Arrow batches of (vec_id, c0..c3, centroid_id, label, _xv): random
    codes and float32 vectors, with every ``dup_every``-th row a copy of
    the row before it (exact ADC and exact distance ties), cells 0-10 and
    labels a/b/c/None."""
    batches, next_id = [], 0
    for n in sizes:
        codes = rng.integers(0, _K, (n, _M)).astype(np.int32)
        vecs = rng.normal(size=(n, _D)).astype(np.float32)
        for i in range(1, n):
            if i % dup_every == 0:
                codes[i], vecs[i] = codes[i - 1], vecs[i - 1]
        cols = {"vec_id": pa.array(np.arange(next_id, next_id + n) * 7 % 1009,
                                   pa.int64())}
        for m in range(_M):
            cols[f"c{m}"] = pa.array(codes[:, m], pa.int32())
        cols["centroid_id"] = pa.array(rng.integers(0, 11, n).astype(np.int32))
        cols["label"] = pa.array(
            [["a", "b", "c", None][i] for i in rng.integers(0, 4, n)],
            pa.string(),
        )
        cols["_xv"] = pa.array(list(vecs), pa.list_(pa.float32()))
        batches.append(pa.RecordBatch.from_pydict(cols))
        next_id += n
    return batches


def _replayed(spark, monkeypatch, batches, qdata, books, **kw):
    """Run ``knn._pair_kernel`` over an empty frame of the batches'
    schema, capture the closure it hands ``mapInArrow`` and replay it on
    the driver over ``batches``."""
    base = spark.createDataFrame(
        [], "vec_id long, c0 int, c1 int, c2 int, c3 int, centroid_id int, "
        "label string, _xv array<float>"
    )
    qs = spark.createDataFrame(
        qdata, "query_id long, query_vec array<double>, qlabel string"
    )
    if kw.get("label_col") is None:
        qs = qs.drop("qlabel")
    captured = []
    monkeypatch.setattr(
        type(base), "mapInArrow",
        lambda self, func, schema: captured.append(func) or self,
    )
    knn._pair_kernel(
        base, qs, similarity._pq_scorer(books, "query_id", "query_vec"),
        **kw,
    )
    monkeypatch.undo()
    out = list(captured[0](iter(batches)))
    names = out[0].schema.names if out else []
    return names, [
        {c: b.column(i).to_numpy() for i, c in enumerate(names)} for b in out
    ]


@pytest.mark.filterwarnings("ignore:invalid value:RuntimeWarning")
@pytest.mark.parametrize("leg", ["fused", "topk", "streaming"])
@pytest.mark.parametrize("routed", [False, True])
def test_pair_kernel_closure_equals_per_query_reference(
    spark, monkeypatch, leg, routed
):
    """The replayed closure emits exactly what the per-query loops did —
    same rows, same order, same bits — over several batches (one empty,
    one with fewer rows than R), cell routing (rows in cells that no
    query probes, between and beyond the probed ids; a query probing
    nothing),
    labels with a None query label, a zero-norm query (NaN ADC and NaN
    exact distance for every row) and duplicate base rows, so many
    pairs tie exactly at the R-th score."""
    rng = np.random.default_rng(17)
    books = list(rng.normal(scale=0.3, size=(_M, _K, _SUB)))
    batches = _hand_batches(rng, [70, 0, 3, 41], dup_every=3)
    nq = 6
    Q = rng.normal(size=(nq, _D))
    Q[3] = 0.0
    qids = np.array([5, 2, 9, 11, 4, 7], dtype=np.int64)
    qlabels = ["a", None, "b", "a", "c", "b"] if routed else None
    qdata = [
        (int(q), [float(x) for x in Q[i]], None if qlabels is None else qlabels[i])
        for i, q in enumerate(qids)
    ]
    cells = {5: [0, 2], 2: [1, 3, 4], 9: [2, 9], 11: [0, 1, 2, 3], 4: [], 7: [5]}
    # cells 6-8 and 10 are in no query's list
    kw = dict(
        cells_by_query=cells if routed else None,
        label_col="label" if routed else None,
        qlabel_col="qlabel" if routed else None,
        emit_topk=None if leg == "streaming" else 6,
        exact_col="_xv" if leg == "fused" else None,
    )
    names, got = _replayed(spark, monkeypatch, batches, qdata, books, **kw)
    ref_names, want = _reference_closure(
        batches, qids, Q, books, kw["cells_by_query"], qlabels,
        kw["emit_topk"], leg == "fused",
    )
    assert names == ref_names
    g, w = _bits(names, got), _bits(names, want)
    assert len(w["vec_id"]) > 0
    for c in names:
        assert np.array_equal(g[c], w[c]), c


def test_top_rows_precut_keeps_ties_and_nan():
    """``knn._top_rows``'s partition pre-cut selects exactly the rows a
    full lexsort keeps, in the same order, when scores tie at the R-th
    value and when they hold NaN — all of them NaN, as a zero-norm
    query's ADC is, or only some."""
    rng = np.random.default_rng(3)
    n = 300
    ids = rng.permutation(n).astype(np.int64)
    cases = {
        "ties": rng.integers(0, 5, n).astype(np.float64),
        "all_nan": np.full(n, np.nan),
        "some_nan": np.where(rng.random(n) < 0.3, np.nan, rng.random(n)),
        "mostly_nan": np.where(rng.random(n) < 0.95, np.nan, rng.random(n)),
        "signed_zero": np.where(rng.random(n) < 0.5, -0.0, 0.0),
    }
    for name, s in cases.items():
        for rows in (np.arange(n), np.flatnonzero(rng.random(n) < 0.4)):
            for r in (1, 7, 40, len(rows), len(rows) + 3):
                want = (
                    rows if len(rows) <= r
                    else rows[np.lexsort((ids[rows], s[rows]))[:r]]
                )
                got = knn._top_rows(s, ids, rows, r)
                assert np.array_equal(got, want), (name, r)


@pytest.mark.parametrize("sub", [1, 8, 16])
def test_pq_subspace_d2_matches_cumsum_fold_bit_for_bit(sub):
    """``similarity._pq_subspace_d2``'s one-dim-at-a-time fold gives the
    ``np.cumsum`` fold's doubles, compared as hex, for the query-batch
    shapes (1 and 256 rows) and for a 10,000-row encode batch."""
    rng = np.random.default_rng(sub)
    b_arr = rng.normal(scale=0.2, size=(64 // sub, 256, sub))
    X = rng.normal(size=(10_000, 64))
    for rows in (X[:1], X[:256], X):
        got = similarity._pq_subspace_d2(rows, b_arr)
        want = _ref_subspace_d2(rows, b_arr)
        for m, (g, w) in enumerate(zip(got, want)):
            if g.tobytes() != w.tobytes():
                i = np.flatnonzero(g.view(np.int64) != w.view(np.int64))[0]
                pytest.fail(
                    f"sub={sub} rows={len(rows)} m={m}: "
                    f"{g.flat[i].hex()} != {w.flat[i].hex()}"
                )
