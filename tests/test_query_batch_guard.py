"""QUERY_BATCH_MAX guard (round 7, verdict r6 item 4).

The Arrow pair kernel ships the query batch to the driver and into task
closures — sane only for a bounded serving batch. These tests pin the
guard: an oversized query frame must produce the pure-Catalyst fallback
plan (no batch kept on the driver, no Arrow kernel node, no broadcast
of the oversized side), and the fallback must be value-identical to the kernel
on the fixture workloads (so driver hashes cannot move).
"""

import pytest
from pyspark.sql import functions as F

from toy_vector_db_spark import caches
from toy_vector_db_spark.operators import knn, similarity
from toy_vector_db_spark.plans import explain
from toy_vector_db_spark.sources.ndjson import split_count


def _splits(spark, embeddings):
    n = embeddings.count()
    cut = split_count(n, 0.75)
    base = embeddings.where(F.col("vec_id") < cut)
    qs = (
        embeddings.where(F.col("vec_id") >= cut)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        .limit(25)
    )
    return base, qs


def _oversized_queries(spark, embeddings, nrows):
    """A query frame that is structurally valid but larger than any
    serving batch — spark.range with a literal vector, built lazily, so
    constructing the PLAN is cheap; the guard collects at most MAX+1 of
    its rows and keeps none of them."""
    vec = [
        float(x)
        for x in embeddings.where(F.col("vec_id") == 0)
        .select("embedding")
        .first()[0]
    ]
    return spark.range(nrows).select(
        F.col("id").alias("query_id"),
        F.lit(vec).cast("array<double>").alias("query_vec"),
    )


def test_oversized_batch_gets_catalyst_plan_no_collect(spark, embeddings):
    base, _ = _splits(spark, embeddings)
    big = _oversized_queries(spark, embeddings, knn.QUERY_BATCH_MAX + 1)
    before = caches.snapshot()
    out = knn.pair_scores(base, big)
    plan = explain.formatted_plan(out)
    # pure-Catalyst fallback: no Arrow kernel node in the plan
    assert "PythonMapInArrow" not in plan and "MapInArrow" not in plan
    # no batch of the oversized frame is kept on the driver: the memo
    # holds at most its oversized marker
    added = [
        d[k] for d, k in caches.added_since(before) if k[0] == "query_batch"
    ]
    assert all(v is None for v in added)
    # and the oversized (right/query) side is never the broadcast side —
    # with the hint dropped, Spark is free to broadcast the SMALL base
    # side instead (BuildLeft at fixture scale: correct), but must not
    # ship the big frame to every executor
    bnlj = [
        line for line in plan.splitlines()
        if "BroadcastNestedLoopJoin" in line
    ]
    assert all("BuildRight" not in line for line in bnlj), plan


def test_oversized_batch_knn_ivf_probe_join_plan(spark, embeddings):
    base, _ = _splits(spark, embeddings)
    big = _oversized_queries(spark, embeddings, knn.QUERY_BATCH_MAX + 1)
    cents = similarity.cached_trained_centroids(base)
    out = similarity.knn_ivf(
        base,
        big,
        10,
        cents=cents,
        cell_vectors=similarity.cached_cell_vectors(base),
    )
    plan = explain.formatted_plan(out)
    assert "PythonMapInArrow" not in plan and "MapInArrow" not in plan
    # the probe-join fallback scores via a real join on centroid_id
    assert "centroid_id" in plan


def test_fallback_values_match_kernel(spark, embeddings, monkeypatch):
    """Force the fallback on the normal 25-query fixture batch and assert
    bit-identical output vs the kernel path — the driver-hash invariance
    argument for the guard."""
    base, qs = _splits(spark, embeddings)
    kernel = knn.knn_exact_batch(base, qs, 10).collect()
    monkeypatch.setattr(knn, "QUERY_BATCH_MAX", 1)
    fallback = knn.knn_exact_batch(base, qs, 10).collect()
    assert sorted(map(tuple, kernel)) == sorted(map(tuple, fallback))


def test_fallback_values_match_kernel_ivf(spark, embeddings, monkeypatch):
    base, qs = _splits(spark, embeddings)
    cents = similarity.cached_trained_centroids(base)
    cv = similarity.cached_cell_vectors(base)
    kernel = similarity.knn_ivf(
        base, qs, 10, cents=cents, cell_vectors=cv
    ).collect()
    monkeypatch.setattr(knn, "QUERY_BATCH_MAX", 1)
    fallback = similarity.knn_ivf(
        base, qs, 10, cents=cents, cell_vectors=cv
    ).collect()
    assert sorted(map(tuple, kernel)) == sorted(map(tuple, fallback))


def test_fallback_values_match_kernel_dual_metric(spark, embeddings,
                                                  monkeypatch):
    base, qs = _splits(spark, embeddings)
    kernel = knn.pair_scores(base, qs, dual_metric=True).collect()
    monkeypatch.setattr(knn, "QUERY_BATCH_MAX", 1)
    fallback = knn.pair_scores(base, qs, dual_metric=True).collect()
    assert sorted(map(tuple, kernel)) == sorted(map(tuple, fallback))


def test_oversized_with_cells_routing_raises(spark, embeddings):
    base, _ = _splits(spark, embeddings)
    big = _oversized_queries(spark, embeddings, knn.QUERY_BATCH_MAX + 1)
    with pytest.raises(ValueError, match="bounded query batch"):
        knn.pair_scores(base, big, cells_by_query={0: [0]})


def test_query_batch_count_is_limit_bounded(spark):
    """Round-7 advice item 4: the guard count is limit(MAX+1)-bounded —
    exact for frames at or under QUERY_BATCH_MAX, capped at MAX+1 above
    it (the guard only compares against MAX, so a frame just over the
    threshold must not pay a full extra scan)."""
    vec = F.array(F.lit(1.0)).alias("query_vec")
    small = spark.range(37).select(F.col("id").alias("query_id"), vec)
    assert knn.query_batch_count(small) == 37
    big = spark.range(knn.QUERY_BATCH_MAX + 500_000).select(
        F.col("id").alias("query_id"), vec
    )
    c = knn.query_batch_count(big)
    assert c == knn.QUERY_BATCH_MAX + 1  # capped, still > MAX


def test_count_guard_recounts_when_staging_dir_grows(spark, tmp_path):
    """Round 10 (verdict r9 item 5): the guard's cached count must go
    stale-proof. A serving process re-reading a GROWING staging dir gets
    a fresh plan whose semantic hash can equal the first read's — the
    relation hashes by path, not file list — so the cache key now
    includes an input-file snapshot and the guard re-counts after the
    directory grows."""
    staging = str(tmp_path / "staging")
    vec = F.array(F.lit(1.0)).alias("query_vec")
    spark.range(10).select(F.col("id").alias("query_id"), vec).write.parquet(
        staging
    )
    first = spark.read.parquet(staging).select("query_id", "query_vec")
    assert knn.query_batch_count(first) == 10
    # the staging dir grows between calls (a new micro-batch lands)
    spark.range(100, 125).select(
        F.col("id").alias("query_id"), vec
    ).write.mode("append").parquet(staging)
    second = spark.read.parquet(staging).select("query_id", "query_vec")
    # the hazard precondition this test exists for: when the two plans
    # hash identically, only the file snapshot can distinguish them
    if first.semanticHash() == second.semanticHash():
        assert caches._input_snapshot(first) != caches._input_snapshot(second)
    assert knn.query_batch_count(second) == 35, (
        "guard served the stale pre-growth count"
    )


def test_collected_batch_cache_recollects_when_staging_dir_grows(
    spark, tmp_path
):
    """Same staleness fix for the collected-batch cache: a grown staging
    dir must re-collect, or the kernel would serve the OLD query rows."""
    staging = str(tmp_path / "staging_vec")
    spark.range(5).select(
        F.col("id").alias("query_id"),
        F.array(F.lit(1.0), F.lit(2.0)).alias("query_vec"),
    ).write.parquet(staging)
    first = spark.read.parquet(staging)
    got1 = knn._collected_batch(first, "query_id", "query_vec")
    assert len(got1.qids) == 5
    spark.range(100, 103).select(
        F.col("id").alias("query_id"),
        F.array(F.lit(3.0), F.lit(4.0)).alias("query_vec"),
    ).write.mode("append").parquet(staging)
    second = spark.read.parquet(staging)
    got2 = knn._collected_batch(second, "query_id", "query_vec")
    assert len(got2.qids) == 8, "cache served the stale pre-growth batch"


def test_fallback_values_match_kernel_sq_adc(spark, embeddings, monkeypatch):
    """The SQ ADC kernel's oversized-batch fallback (round 8): force the
    pure-Catalyst crossJoin form on the fixture batch and assert
    bit-identical knn_sq_rerank output vs the kernel path."""
    from toy_vector_db_spark.operators import similarity

    base, qs = _splits(spark, embeddings)
    base = base.select("vec_id", "embedding")
    kernel = similarity.knn_sq_rerank(base, qs, 10).collect()
    monkeypatch.setattr(knn, "QUERY_BATCH_MAX", 1)
    fallback = similarity.knn_sq_rerank(base, qs, 10).collect()
    assert sorted(map(tuple, kernel)) == sorted(map(tuple, fallback))


def test_fallback_values_match_kernel_pq_adc(spark, embeddings, monkeypatch):
    """Round 10 (verdict r9 item 6): knn_pq_adc's bounded-batch path is
    the base-side pair kernel with the _pq_scorer (queries + LUTs in the
    closure); the oversized fallback is the LUT-frame crossJoin plan
    (no broadcast of the query-sized side). Force
    the fallback on the fixture batch and assert bit-identical output —
    the driver-hash invariance argument."""
    from toy_vector_db_spark.operators import similarity

    base, qs = _splits(spark, embeddings)
    base = base.select("vec_id", "embedding")
    kernel = similarity.knn_pq_adc(base, qs, 10).collect()
    monkeypatch.setattr(knn, "QUERY_BATCH_MAX", 1)
    fallback = similarity.knn_pq_adc(base, qs, 10).collect()
    assert sorted(map(tuple, kernel)) == sorted(map(tuple, fallback))


@pytest.mark.parametrize("family", ["ivfpq", "ivfsq", "ivfbq2"])
def test_fallback_values_match_kernel_ivf_codec(
    spark, embeddings, monkeypatch, family
):
    """Every kernel codec of similarity.ivf_search: the bounded path
    (knn._pair_kernel with driver-collected probe routing) vs the
    oversized Catalyst probe-join leg, forced with QUERY_BATCH_MAX=1 —
    bit-identical unfiltered, label-filtered, and with histogram-guided
    probing (label_hist). Each plan is checked to be the leg it claims,
    so the value comparison cannot pass by running one leg twice."""
    base, qs = _splits(spark, embeddings)
    base = base.select("vec_id", "embedding")
    labels = base.select(
        "vec_id", (F.col("vec_id") % 3).cast("string").alias("label")
    )
    qlabels = qs.select(
        "query_id", (F.col("query_id") % 3).cast("string").alias("qlabel")
    )
    hist = similarity.cached_label_cell_hist(base, labels)
    search = getattr(similarity, f"knn_{family}")
    variants = {
        "plain": {},
        "labels": dict(labels=labels, query_labels=qlabels),
        "label_hist": dict(
            labels=labels, query_labels=qlabels, label_hist=hist
        ),
    }
    kernel = {}
    for name, kw in variants.items():
        df = search(base, qs, 10, **kw)
        assert "_score(" in explain.formatted_plan(df), (family, name)
        kernel[name] = df.collect()
    monkeypatch.setattr(knn, "QUERY_BATCH_MAX", 1)
    for name, kw in variants.items():
        df = search(base, qs, 10, **kw)
        assert "_score(" not in explain.formatted_plan(df), (family, name)
        fallback = df.collect()
        assert sorted(map(tuple, kernel[name])) == sorted(
            map(tuple, fallback)
        ), (family, name)


def test_count_guard_recounts_on_in_place_rewrite(spark, tmp_path):
    """Round 11 (advice r10): the residual staleness hazard after the
    growing-dir fix — an in-place rewrite that PRESERVES filenames
    (compaction, an overwrite that reuses part-file names). Paths alone
    can't distinguish the two states; the fingerprint now includes each
    file's size and mtime, so the guard and the collected-batch cache
    must both refresh."""
    import os
    import shutil

    staging = str(tmp_path / "staging_rw")
    spark.range(10).select(
        F.col("id").alias("query_id"),
        F.array(F.lit(1.0), F.lit(2.0)).alias("query_vec"),
    ).coalesce(1).write.parquet(staging)
    first = spark.read.parquet(staging)
    assert knn.query_batch_count(first) == 10
    assert len(knn._collected_batch(first, "query_id", "query_vec").qids) == 10

    # rewrite IN PLACE with the same filenames: build the replacement
    # elsewhere, then copy the new bytes over the old part files
    alt = str(tmp_path / "staging_rw_alt")
    spark.range(100, 125).select(
        F.col("id").alias("query_id"),
        F.array(F.lit(3.0), F.lit(4.0)).alias("query_vec"),
    ).coalesce(1).write.parquet(alt)
    old_parts = sorted(
        f for f in os.listdir(staging) if f.endswith(".parquet")
    )
    new_parts = sorted(f for f in os.listdir(alt) if f.endswith(".parquet"))
    assert len(old_parts) == len(new_parts) == 1
    shutil.copyfile(
        os.path.join(alt, new_parts[0]), os.path.join(staging, old_parts[0])
    )
    # drop the local-FS checksum sidecars: a real compaction job writes
    # fresh .crc files; stale ones would fail the read before the cache
    # is even consulted
    for f in os.listdir(staging):
        if f.endswith(".crc"):
            os.remove(os.path.join(staging, f))

    second = spark.read.parquet(staging)
    # NOTE the snapshot is computed at GUARD time, so both frames now
    # stat the same post-rewrite bytes — what distinguishes the states
    # is the key STORED at the pre-rewrite count vs the key computed
    # here; the behavioral asserts below are the actual contract
    assert knn.query_batch_count(second) == 25, (
        "guard served the stale pre-rewrite count"
    )
    got = knn._collected_batch(second, "query_id", "query_vec")
    assert len(got.qids) == 25 and got.X[0].tolist() == [3.0, 4.0], (
        "cache served the stale pre-rewrite batch"
    )


@pytest.mark.parametrize("vec_type", ["float", "double"])
def test_fused_rerank_equals_catalyst_tail(
    spark, embeddings, monkeypatch, vec_type
):
    """The bounded leg of every kernel codec over the session-built
    codes reranks inside the pair kernel (the exact distance of each
    query's top-R rows, over the persisted scan ⋈ base frame); the
    Catalyst leg, forced with QUERY_BATCH_MAX = 0, reranks in
    similarity._exact_rerank. Both must return identical rows, dist
    compared as hex: PQ, SQ and BQ2, flat and IVF, filtered and not. A
    search over injected codes (an ivfpq_upsert frozen triple) keeps
    the kernel's candidates but reranks in _exact_rerank, with the same
    rows as its Catalyst leg. The
    returned dist is rounded to ROUND decimals, so the kernel's
    unrounded exact distance is also pinned, as hex, to the Catalyst
    fold (knn._scored_product) on every pair it keeps; over the
    double-typed corpus, whose values no float32 represents, a kernel
    that rounds the vector to float32 before the dot fails there."""
    cut = split_count(embeddings.count(), 0.95)
    base = embeddings.where(F.col("vec_id") < cut)
    qs = embeddings.where(F.col("vec_id") >= cut).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    if vec_type == "double":
        # a per-dimension factor: values off the float32 grid, and a
        # float32 rounding that is not a uniform rescale (which the
        # cosine would not see)
        scaled = (
            "transform(embedding, (x, i) -> "
            "CAST(x AS DOUBLE) * (1.0D + 1e-7D * ((i * 7919) % 13 - 6)))"
        )
        base = base.withColumn("embedding", F.expr(scaled))
        qs = qs.withColumn(
            "query_vec",
            F.expr(scaled.replace("embedding", "query_vec")),
        )
    base = base.select("vec_id", "embedding")
    init_cut = split_count(cut, 0.75)
    labels = base.select(
        "vec_id", (F.col("vec_id") % 3).cast("string").alias("label")
    )
    qlabels = qs.select(
        "query_id", (F.col("query_id") % 3).cast("string").alias("qlabel")
    )
    kw = dict(labels=labels, query_labels=qlabels)
    cells, cents, books = similarity.ivfpq_upsert(
        base.where(F.col("vec_id") < init_cut),
        base.where(F.col("vec_id") >= init_cut),
    )
    calls = {
        "ivfpq": lambda: similarity.knn_ivfpq(base, qs, 10),
        "ivfpq_filtered": lambda: similarity.knn_ivfpq(base, qs, 10, **kw),
        "ivfsq": lambda: similarity.knn_ivfsq(base, qs, 10),
        "ivfsq_filtered": lambda: similarity.knn_ivfsq(base, qs, 10, **kw),
        "ivfbq2": lambda: similarity.knn_ivfbq2(base, qs, 10),
        "ivfbq2_filtered": lambda: similarity.knn_ivfbq2(base, qs, 10, **kw),
        "pq": lambda: similarity.knn_pq_rerank(base, qs, 10),
        "sq": lambda: similarity.knn_sq_rerank(base, qs, 10),
        "sq_filtered": lambda: similarity.knn_sq_rerank(base, qs, 10, **kw),
        "bq2": lambda: similarity.knn_bq2_rerank(base, qs, 10),
        "bq2_filtered": lambda: similarity.knn_bq2_rerank(
            base, qs, 10, **kw
        ),
    }

    def upserted():
        return similarity.knn_ivfpq(
            base, qs, 10, codes_cells=cells, cents=cents, books=books
        )

    def rows(df):
        return sorted(
            (r[0], r[1], r[2].hex(), r[3]) for r in df.collect()
        )

    kept = knn._pair_kernel(
        base, qs, knn._cosine_scorer("embedding", "query_vec"),
        emit_topk=40, exact_col="embedding",
    )
    fold = knn._scored_product(
        base, qs, "vec_id", "embedding", "query_id", "query_vec"
    )
    pairs = kept.join(fold, ["query_id", "vec_id"]).select(
        "xdist", fold["dist"]
    ).collect()
    assert len(pairs) == kept.count() > 0
    assert all(x.hex() == d.hex() for x, d in pairs)

    fused = {}
    for name, fn in calls.items():
        df = fn()
        assert "xdist" in explain.formatted_plan(df), name
        fused[name] = rows(df)
        assert fused[name], name
    df = upserted()
    plan = explain.formatted_plan(df)
    assert "MapInArrow" in plan and "xdist" not in plan
    injected = rows(df)
    assert injected
    monkeypatch.setattr(knn, "QUERY_BATCH_MAX", 0)
    for name, fn in calls.items():
        df = fn()
        assert "xdist" not in explain.formatted_plan(df), name
        assert rows(df) == fused[name], name
    assert rows(upserted()) == injected


def test_fused_buffer_over_budget_takes_the_catalyst_tail(
    spark, embeddings, monkeypatch
):
    """The fused kernel's top-R buffer carries the exact distance beside
    the id and the score: 24 B a row, not 16. A request whose buffer
    fits at 16 B but not at 24 B reranks on the Catalyst tail
    (_exact_rerank), with the same rows."""
    base, qs = _splits(spark, embeddings)
    base = base.select("vec_id", "embedding")
    n_q = qs.count()
    r = 160
    fused = similarity.knn_ivfpq(base, qs, 10, rerank_r=r)
    assert "xdist" in explain.formatted_plan(fused)
    expected = sorted(map(tuple, fused.collect()))
    rows = n_q * max(2 * r, r + 8192)
    monkeypatch.setattr(knn, "EMIT_TOPK_BUDGET_BYTES", rows * 16)
    assert knn.emit_topk_within_budget(n_q, r)
    assert not knn.emit_topk_within_budget(n_q, r, exact=True)
    reranked = []
    tail = similarity._exact_rerank

    def spy(*a, **kw):
        reranked.append(1)
        return tail(*a, **kw)

    monkeypatch.setattr(similarity, "_exact_rerank", spy)
    df = similarity.knn_ivfpq(base, qs, 10, rerank_r=r)
    plan = explain.formatted_plan(df)
    assert reranked and "xdist" not in plan and "_score(" in plan
    assert sorted(map(tuple, df.collect())) == expected


def test_fused_rerank_stops_at_the_pair_bound(spark, embeddings, monkeypatch):
    """The fused rerank may compute an exact distance for every scanned
    row, so a bounded search fuses only while |queries| × |base| ≤
    similarity.FUSED_RERANK_PAIRS; one pair past it, the kernel's
    candidates rerank in _exact_rerank, with the same rows."""
    base, qs = _splits(spark, embeddings)
    base = base.select("vec_id", "embedding")
    pairs = qs.count() * base.count()
    monkeypatch.setattr(similarity, "FUSED_RERANK_PAIRS", pairs)
    for search in (similarity.knn_ivfsq, similarity.knn_pq_rerank):
        fused = search(base, qs, 10)
        assert "xdist" in explain.formatted_plan(fused)
        monkeypatch.setattr(similarity, "FUSED_RERANK_PAIRS", pairs - 1)
        tail = search(base, qs, 10)
        plan = explain.formatted_plan(tail)
        assert "MapInArrow" in plan and "xdist" not in plan
        assert sorted(map(tuple, tail.collect())) == sorted(
            map(tuple, fused.collect())
        )
        monkeypatch.setattr(similarity, "FUSED_RERANK_PAIRS", pairs)


def test_unfused_flat_codes_encode_once(spark, embeddings, monkeypatch):
    """Unfused flat SQ and BQ2 (here every bounded request, with
    FUSED_RERANK_PAIRS at 0) scan codes the session encoded once: a
    first request encodes the base at most once (not at all when an
    earlier search built the codes), a second one neither encodes nor
    adds a cache entry, and both return the rows of a search over
    freshly encoded injected codes, distances compared as hex."""
    base, qs = _splits(spark, embeddings)
    base = base.select("vec_id", "embedding")
    monkeypatch.setattr(similarity, "FUSED_RERANK_PAIRS", 0)

    def rows(df):
        return sorted(
            (r[0], r[1], r[2].hex(), r[3]) for r in df.collect()
        )

    for name, search in (
        ("_SQ", similarity.knn_sq_rerank), ("_BQ2", similarity.knn_bq2_rerank)
    ):
        codec = getattr(similarity, name)
        encoded = []

        def encode(*a, codec=codec, encoded=encoded):
            encoded.append(1)
            return codec.encode(*a)

        monkeypatch.setattr(similarity, name, codec._replace(encode=encode))
        first = rows(search(base, qs, 10))
        built = len(encoded)
        assert built <= 1, name
        snap = caches.snapshot()
        again = search(base, qs, 10)
        assert "xdist" not in explain.formatted_plan(again)
        assert rows(again) == first
        assert len(encoded) == built and caches.added_since(snap) == [], name
        state = codec.state(base, "vec_id", "embedding")
        injected = search(
            base, qs, 10, bounds=state,
            codes=codec.encode(base, state, "vec_id", "embedding"),
        )
        assert rows(injected) == first, name
