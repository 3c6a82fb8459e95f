"""Bit-parity of the round-6 vectorized scoring kernels vs the Catalyst
expression forms they replaced (the pq_codes proof pattern): the kernels
must produce the SAME doubles bit-for-bit — normalization/dot/magnitude
accumulate left-to-right over the dim axis exactly like the interpreted
aggregate() folds the DuckDB oracles mirror."""

from pyspark.sql import functions as F

from toy_vector_db_spark.operators import knn
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
