"""Plan-property assertions: the 100 TB scale claims, checked in CI.

A regression that turns a broadcast star join into a sort-merge shuffle or
un-pushes the prefix-split filter would pass value tests and silently wreck
scale behavior — these tests pin the plans.
"""

import time

import pytest

from toy_vector_db_spark import registry
from toy_vector_db_spark.plans import explain


@pytest.fixture(scope="module")
def plans(spark, sf_dir):
    # cached fixture tables would substitute InMemoryTableScan for the
    # parquet scans (Spark cache lookup is plan-based), hiding the
    # pruning/pushdown these tests assert — inspect plans cache-free.
    # The module caches must drop WITH the Spark cache: clearCache
    # unpersists the data, but a module cache serving the same (now
    # unpersisted) frame would inline its full logical plan into
    # consumers and silently degrade the plan under test (a persisted
    # artifact join becoming a SortMergeJoin — seen with
    # test_pair_scores_cell_routing warming caches on a plan equal to
    # the registry base before this module runs).
    from toy_vector_db_spark import caches

    caches.reset()
    spark.catalog.clearCache()

    def p(name):
        return explain.formatted_plan(registry.queries()[name](spark, sf_dir))

    return p


def test_knn_single_plan(plans):
    plan = plans("knn_exact_single")
    # top-k compiles to per-partition heaps, not a global sort
    assert explain.has_take_ordered(plan)
    # the prefix-split predicate reaches the parquet scan
    assert any("LessThan(vec_id" in f for f in explain.pushed_filters(plan))
    # label column pruned: only id + embedding read
    assert all("label" not in s for s in explain.read_schemas(plan))
    # narrow plan: no shuffle at all
    assert explain.count_exchanges(plan) == 0


def test_star_join_broadcasts_all_dims(plans):
    plan = plans("revenue_by_nation")
    # all four join hops broadcast; the fact table never shuffles
    assert explain.count_broadcast_joins(plan) >= 4
    # the only shuffle is the final aggregation
    assert explain.count_exchanges(plan) <= 1


def test_vector_expr_plan_is_narrow(plans):
    plan = plans("vec_magnitude")
    assert explain.count_exchanges(plan) == 0
    assert all("label" not in s for s in explain.read_schemas(plan))


def test_batch_knn_single_shuffle(plans):
    plan = plans("knn_exact_batch")
    # round 6: the |base|×|queries| scoring runs in the vectorized Arrow
    # kernel (queries ride in the closure — the broadcast side by
    # construction); the base never moves and the ONLY shuffle is the
    # per-query top-k on query_id
    assert "MapInArrow" in plan
    assert explain.count_exchanges(plan) == 1


def test_filtered_knn_pushes_label_predicate(plans):
    plan = plans("knn_exact_filtered")
    # the metadata filter must reach the parquet scan (partition pruning
    # on a label-partitioned layout) — and the plan stays shuffle-free
    assert any("label" in f for f in explain.pushed_filters(plan))
    assert explain.count_exchanges(plan) == 0


def test_doc_embedding_pool_partial_agg(plans):
    plan = plans("doc_embedding_pool")
    # the per-(doc,dim) collect_list combines map-side (partial+final
    # ObjectHashAggregate) around ONE exchange — the explode never
    # shuffles raw, only the grouped partials move
    assert plan.count("ObjectHashAggregate") >= 2
    assert explain.count_exchanges(plan) == 1


def test_range_search_no_shuffle(plans):
    plan = plans("knn_range_search")
    # radius search = scored scan + filter: no sort, no limit heaps, no
    # exchange at all — strictly narrower than top-k
    assert explain.count_exchanges(plan) == 0
    assert "Sort" not in plan


def test_tpch_q1_partial_aggregation(plans):
    plan = plans("tpch_q1_pricing_summary")
    # map-side partial agg before the single exchange
    assert plan.count("HashAggregate") >= 2
    assert explain.count_exchanges(plan) <= 2  # agg + orderBy
    assert any("l_shipdate" in f for f in explain.pushed_filters(plan))


def test_ivf_assign_partial_agg_no_window(plans):
    plan = plans("ivf_assign")
    # argmin = min-of-struct aggregate with map-side combine (struct min
    # compiles to partial+final SortAggregate), NOT a row_number window:
    # the exchange carries one row per vector instead of one per
    # vector×centroid (round-1 scale fix)
    assert "Window" not in plan
    assert plan.count("SortAggregate") >= 2


@pytest.mark.usefixtures("plans")
def test_ivfpq_probe_and_rerank_broadcast(spark, sf_dir, monkeypatch):
    """knn_ivfpq's serving plans, as executed. The Catalyst leg
    (QUERY_BATCH_MAX = 0) broadcasts the probe side and the rerank's
    query side — the codes/base tables never build a hash-join hash
    table over the big side. The bounded leg broadcasts nothing: the
    query batch rides in the pair kernel's closure, which also reranks
    (one MapInArrow, no join). Neither has a cartesian product."""
    from toy_vector_db_spark.operators import knn

    fused = _served_nodes(registry.queries()["knn_ivfpq"](spark, sf_dir))
    assert fused.count("MapInArrow") == 1, fused
    assert "BroadcastExchange" not in fused, fused
    assert not any("Join" in n for n in fused), fused
    monkeypatch.setattr(knn, "QUERY_BATCH_MAX", 0)
    tail = _served_nodes(registry.queries()["knn_ivfpq"](spark, sf_dir))
    assert tail.count("BroadcastExchange") >= 2, tail
    assert "MapInArrow" in tail, tail
    for names in (fused, tail):
        assert "CartesianProduct" not in names, names


def test_model_inference_scan_bound(plans):
    plan = plans("model_quality_inference")
    # features (Catalyst) → Arrow-batched Python kernel → threshold:
    # scan-bound, nothing moves
    assert "MapInPandas" in plan
    assert explain.count_exchanges(plan) == 0


def test_repetition_stats_zero_shuffle(plans):
    plan = plans("doc_repetition_stats")
    # pure per-row Catalyst: a corpus scan plus expressions, nothing moves
    assert explain.count_exchanges(plan) == 0


def test_decontaminate_eval_side_broadcast(plans):
    plan = plans("decontaminate_ngram")
    # the eval-gram set probes as a broadcast hash relation (built once
    # per task, codegen probe) — never a shuffle of the exploded corpus
    # grams against the eval side
    assert explain.count_broadcast_joins(plan) >= 1
    # exchanges: per-doc count aggregate + the outputs-all-docs left join
    assert explain.count_exchanges(plan) <= 3


def test_simhash_signatures_zero_shuffle(plans):
    # per-row higher-order-array votes: no explode, no groupBy — the
    # signature plan contains no exchange at all (round-1 scale fix)
    plan = plans("simhash_signatures")
    assert explain.count_exchanges(plan) == 0
    assert "Generate" not in plan  # no explode


def test_lsh_buckets_base_path_shuffle_free(plans):
    plan = plans("lsh_buckets")
    # bucket computed per-row via aggregate over the broadcast plane array;
    # no window, no groupBy of base rows — the only exchange is the
    # SinglePartition collect of the 12-row planes side, never a hash or
    # range repartition of the base
    assert "Window" not in plan
    assert "hashpartitioning" not in plan
    assert "rangepartitioning" not in plan


def test_lsh_bucket_cap_guard_plan(spark, sf_dir):
    """The mega-bucket guard must be the CHEAP form: a map-side-combined
    partial count enumerating over-cap buckets + a left-anti join whose
    output keeps the (band, sig) partitioning the self-join needs — NOT
    a count-window over every band row (full sort, measured +1.1 s at
    sf0.1). Pinned in the sort-merge regime (broadcast off, the 100 TB
    shape): no Window node, anti-joins present, and the guard adds at
    most the two mega-agg exchange pairs."""
    from toy_vector_db_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = dedup.with_injected_dups(docs.select("doc_id", "text"))
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", None)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        capped = explain.formatted_plan(dedup.minhash_lsh_pairs(corpus))
        uncapped = explain.formatted_plan(
            dedup.minhash_lsh_pairs(corpus, bucket_cap=None)
        )
    finally:
        if old is None:
            spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        else:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "Window" not in capped
    assert "LeftAnti" in capped and "LeftAnti" not in uncapped
    # partial (map-side) count for the bucket sizes
    assert "partial_count" in capped or "count(1)" in capped
    assert (
        explain.count_exchanges(capped)
        <= explain.count_exchanges(uncapped) + 4
    )


def test_bm25_take_ordered(plans):
    # per-row scoring over inlined corpus stats; top-k compiles to
    # per-partition heaps, not a global sort
    plan = plans("bm25_topk")
    assert explain.has_take_ordered(plan)


def test_chunk_documents_no_shuffle(plans):
    # sequence + slice + posexplode is row-local: chunking never shuffles
    plan = plans("chunk_documents")
    assert explain.count_exchanges(plan) == 0


def test_token_packing_single_stratum_shuffle(plans):
    # one exchange for the per-source window; the batch aggregate reuses
    # the same partitioning (AQE/ensure-requirements may add a coalesce,
    # never a second wide exchange on a different key)
    plan = plans("token_batch_packing")
    assert "Window" in plan
    assert plan.count("hashpartitioning(source") >= 1


def test_bucketed_join_is_exchange_free(plans):
    plan = plans("bucketed_join_revenue")
    # both scans read bucket files directly (co-located by hash(orderkey))
    assert plan.count("Bucketed: true") == 2
    assert "SortMergeJoin" in plan
    # the join itself needs NO shuffle on either side: the ONLY exchange
    # in the query is the final 5-row aggregate
    assert explain.count_exchanges(plan) == 1


def test_span_dedup_partial_aggregates(plans):
    # the firsts pass MUST pre-combine map-side: a hot boilerplate span
    # ships one partial row per map partition, never the raw explode
    plan = plans("span_dedup_scrub")
    assert "partial_min" in plan
    # the two wide exchanges the semantics require: span key + doc key
    assert plan.count("hashpartitioning(span") >= 1
    assert plan.count("hashpartitioning(doc_id") >= 1


def test_vocab_topk_combines_map_side(plans):
    # both aggregates pre-combine; the top-k never sorts the token stream
    plan = plans("vocab_topk")
    assert "partial_count" in plan or "partial_sum" in plan
    assert explain.has_take_ordered(plan)


def test_decontaminate_embedding_broadcasts_eval(plans):
    # eval side broadcasts; ONE exchange (the map-side-combined per-vector
    # max), never the |corpus| x |eval| product
    plan = plans("decontaminate_embedding")
    assert "BroadcastNestedLoopJoin" in plan or explain.count_broadcast_joins(plan) >= 1
    assert "partial_max" in plan
    assert explain.count_exchanges(plan) == 1


def test_training_shard_single_exchange(plans):
    # one hash exchange on the shard key + in-shard sort: the physical
    # shape of the production shard write
    plan = plans("training_shard_assign")
    assert plan.count("hashpartitioning(shard") >= 1
    assert explain.count_exchanges(plan) == 1


@pytest.mark.usefixtures("plans")
def test_sq_rerank_partial_topk_before_exchange(spark, sf_dir, monkeypatch):
    """SQ8 serving (round 8), as executed: on both legs the per-query
    ADC top-R cut must compile to a WindowGroupLimit BELOW the query_id
    exchange (map-side partial limiting), so the shuffle carries ~R per
    query and partition, not the full |base|·|queries| scored product —
    the property that keeps the scan-everything family's shuffle
    bounded at 100 TB. The Catalyst leg (QUERY_BATCH_MAX = 0) joins the
    one-row bounds frame and the query batch as broadcasts, and its
    prefix-split filter reaches the parquet scan; the bounded leg
    reranks in the pair kernel over the persisted scan ⋈ base frame:
    one exchange, no broadcast, no scan of the base."""
    from toy_vector_db_spark.operators import knn

    def served():
        df = registry.queries()["knn_sq_rerank"](spark, sf_dir)
        df.collect()
        return _executed_nodes(df)

    fused = served()
    names = [n.nodeName() for n in fused]
    assert names.count("Exchange") == 1, names
    assert "BroadcastExchange" not in names, names
    assert not any(n.startswith("Scan") for n in names), names
    monkeypatch.setattr(knn, "QUERY_BATCH_MAX", 0)
    tail = served()
    names = [n.nodeName() for n in tail]
    assert names.count("BroadcastExchange") >= 2, names
    assert "SortMergeJoin" not in names, names
    # the prefix-split predicate reaches the scan
    assert any(
        "LessThan(vec_id" in n.toString()
        for n in tail if n.nodeName().startswith("Scan parquet")
    ), names
    for nodes in (fused, tail):
        partial = [
            n.children().apply(0).nodeName()
            for n in nodes
            if n.nodeName() == "Exchange"
            and n.outputPartitioning().toString().startswith(
                "hashpartitioning(query_id#"
            )
        ]
        assert "WindowGroupLimit" in partial, (
            "no map-side partial WindowGroupLimit under the query_id "
            "exchange", [n.nodeName() for n in nodes]
        )


def test_ivfsq_kernel_routed_partial_topk(plans):
    """IVF-SQ (round 8): the ADC must run inside the Arrow kernel
    (cell-routed — pairs for unprobed cells never leave it), its output
    must hit a map-side partial WindowGroupLimit below the query_id
    exchange, and no join in the serving plan may degrade to a
    sort-merge shuffle."""
    import re

    plan = plans("knn_ivfsq")
    assert "MapInArrow" in plan, "ADC not kernel-routed"
    assert re.search(
        r"\+- Exchange [^\n]*\n[\s:]*\+- WindowGroupLimit", plan
    ), "no map-side partial WindowGroupLimit under the query_id exchange"
    assert "SortMergeJoin" not in plan


def test_filtered_ivfpq_probe_broadcasts_metadata(plans):
    """Round-8 label-aware probing: the per-label cell histogram and the
    centroid table are METADATA (n_labels·C / C rows) and must enter the
    probe selection as broadcast joins — a sort-merge shuffle on either
    would move corpus-scale exchanges into the serving path. The probes
    window itself runs over a per-query ≤C-row frame, never the base."""
    plan = plans("knn_ivfpq_filtered")
    # histogram + centroids + query-labels + LUT frame: all broadcast
    assert explain.count_broadcast_joins(plan) >= 3
    # no cartesian product anywhere in the filtered serving plan
    assert "CartesianProduct" not in plan


def test_codec_kernels_get_the_balancing_exchange(plans):
    """Round-8 late session: the per-byte-expensive codec kernels
    rebalance their payload projection to defaultParallelism before the
    Python stage (multimodal._spread) — without it the one-row-group
    fixture pins every codec to a single task. RoundRobin-by-num is
    AQE-stable (user-specified counts aren't coalesced), so its presence
    in the plan is the contract; the pure-JVM metadata key must NOT pay
    the exchange."""
    for name in ("mm_decode_jpeg_stats", "mm_decode_png_stats",
                 "mm_decode_video_stats", "mm_decode_png_rgb_stats",
                 "mm_decode_jpeg_rgb_stats", "mm_decode_video_rgb_stats"):
        plan = plans(name)
        assert "ROUND_ROBIN" in plan or "RoundRobinPartitioning" in plan, name
        assert "InPandas" in plan, name
    assert explain.count_exchanges(plans("mm_payload_metadata")) == 0


def test_every_mm_key_is_one_python_stage(plans):
    """Round 9 (verdict r8 item 6): a codec chain that re-enters Python
    (encode kernel → decode kernel as separate mapInPandas evals) pays a
    second Arrow round-trip and a second worker wave — the r8 PNG fuse
    took that key 2.80 s → 0.86 s by collapsing the two evals into one
    kernel. Pin the end state for EVERY multimodal key: exactly one
    Python eval node in the executed plan (the encode→decode→stats chain
    lives INSIDE the kernel, where it is plain function composition)."""
    import re

    for name in ("mm_resize", "mm_payload_metadata", "mm_scene_cuts",
                 "mm_decode_png_stats", "mm_decode_jpeg_stats",
                 "mm_decode_png_rgb_stats", "mm_decode_jpeg_rgb_stats",
                 "mm_decode_video_rgb_stats",
                 "mm_decode_wav_stats", "mm_decode_video_stats",
                 "mm_audio_features", "mm_feature_extract",
                 "mm_frame_sample"):
        plan = plans(name)
        # formatted explain prints every node twice (tree + detail
        # section) — count tree entries only ("MapInPandas (4)" vs the
        # detail line "(4) MapInPandas")
        n = len(re.findall(
            r"(?:MapInPandas|ArrowEvalPython|FlatMapGroupsInPandas) \(\d",
            plan,
        ))
        assert n <= 1, f"{name}: {n} python stages"


def test_unfiltered_serving_paths_pass_emission_cap(spark, monkeypatch):
    """Round 11 (verdict r10 item 1) wiring guard, tightened in round 12
    (verdict r11 item 2): EVERY quantizer serving pipeline — filtered
    included — must hand its top-R budget to the pair kernel as
    emit_topk (per-partition bounded emission — the 200k study's
    dominant linear-in-corpus serving term). Filtered calls must
    additionally route the label predicate INTO the kernel
    (qlabel_col + label_col — distributed since round 13), which is
    what makes the bound legal there. Every bounded scorer runs through
    the one knn._pair_kernel, so the spy sits there and each serving
    call must reach it exactly once, with the expected scorer."""
    from pyspark.sql import functions as F

    from toy_vector_db_spark import registry
    from toy_vector_db_spark.operators import knn, similarity

    sf_dir = "/root/testdata/sf0.001"
    emb = registry.table(spark, sf_dir, "embeddings")
    from toy_vector_db_spark.sources.ndjson import split_count

    cut = split_count(emb.count(), 0.95)
    base = emb.where(F.col("vec_id") < cut).select("vec_id", "embedding")
    qs = emb.where(F.col("vec_id") >= cut).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    labels = base.select(
        "vec_id", (F.col("vec_id") % 2).cast("string").alias("label")
    )
    qlabels = qs.select("query_id", F.lit("0").alias("qlabel"))

    calls: list[tuple] = []
    kernel = knn._pair_kernel

    def spy(base, queries, scorer, *a, **kw):
        calls.append((
            scorer.name,
            kw.get("emit_topk", "MISSING"),
            kw.get("qlabel_col") is not None,
        ))
        return kernel(base, queries, scorer, *a, **kw)

    monkeypatch.setattr(knn, "_pair_kernel", spy)

    def scored(*expected):
        assert calls == [expected]
        calls.clear()

    r = similarity._rerank_budget(base, 10)
    similarity.knn_ivfpq(base, qs, 10)
    scored("pq", r, False)
    similarity.knn_ivfpq(base, qs, 10, labels=labels, query_labels=qlabels)
    scored("pq", r, True)
    similarity.knn_ivfsq(base, qs, 10)
    scored("sq", r, False)
    similarity.knn_ivfsq(base, qs, 10, labels=labels, query_labels=qlabels)
    scored("sq", r, True)
    similarity.knn_sq_rerank(base, qs, 10)
    scored("sq", r, False)
    similarity.knn_sq_rerank(
        base, qs, 10, labels=labels, query_labels=qlabels
    )
    scored("sq", r, True)
    similarity.knn_bq2_rerank(base, qs, 10)
    scored("cosine", r, False)
    similarity.knn_bq2_rerank(
        base, qs, 10, labels=labels, query_labels=qlabels
    )
    scored("cosine", r, True)
    similarity.knn_ivfbq2(base, qs, 10)
    scored("cosine", r, False)
    similarity.knn_ivfbq2(
        base, qs, 10, labels=labels, query_labels=qlabels
    )
    scored("cosine", r, True)
    similarity.knn_pq_adc(base, qs, 10)
    scored("pq", 10, False)


def test_filtered_oversized_leg_never_shuffles_pair_frame(
    spark, sf_dir, monkeypatch
):
    """Round 13 (verdict r12 item 1): beyond QUERY_BATCH_MAX the
    filtered families serve from distributed Catalyst plans, and the
    label predicate must ride the corpus side and the query side into
    the PAIR-PRODUCING join — never a post-join of the pair frame with
    labels, which shuffles |probed|×|queries| rows by id on exactly the
    bulk-labeling leg where nq is largest. Asserted structurally, with
    auto-broadcast disabled so fixture-scale label joins cannot hide
    inside a BroadcastHashJoin: a pair row is recognizable by carrying
    BOTH a query_id and a candidate score (ad2/dist/h) — the round-12
    form's `pairs ⋈ labels` was a shuffle join ON vec_id over exactly
    such rows, so the invariant is that NO shuffle join keyed on vec_id
    anywhere in the plan has an input carrying query_id + a score
    column. (The rerank's post-window vec_id join streams only the
    R-bounded (query_id, vec_id) candidate list — no score column — and
    the corpus-side label attach carries no query_id; both pass.) The
    check is attribution-free over detail blocks because cached
    artifacts re-print their plans with restarted node ids. The
    always-Catalyst 1-bit families (bq, ivfbq) are asserted at the
    default batch bound too; the kernel families are forced onto the
    fallback with QUERY_BATCH_MAX=0. Values for every one of these
    plans are pinned separately
    (test_filtered_kernel_postfilter_bit_identity + the registry
    oracles)."""
    import re

    from pyspark.sql import functions as F

    from toy_vector_db_spark import registry
    from toy_vector_db_spark.operators import knn, similarity
    from toy_vector_db_spark.plans import explain

    emb = registry.table(spark, sf_dir, "embeddings")
    from toy_vector_db_spark.sources.ndjson import split_count

    cut = split_count(emb.count(), 0.95)
    base = emb.where(F.col("vec_id") < cut).select("vec_id", "embedding")
    qs = emb.where(F.col("vec_id") >= cut).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    labels = base.select(
        "vec_id", (F.col("vec_id") % 2).cast("string").alias("label")
    )
    qlabels = qs.select("query_id", F.lit("0").alias("qlabel"))
    kw = dict(labels=labels, query_labels=qlabels)

    score_re = re.compile(r"\b(ad2|dist|cos_dist|euc_dist|h)#\d")

    def check(name, df):
        plan = explain.formatted_plan(df)
        for block in explain.detail_blocks(plan):
            header = block.splitlines()[0]
            if not re.search(
                r"\)\s+(SortMergeJoin|ShuffledHashJoin)", header
            ):
                continue
            if not re.search(r"keys(?: \[\d+\])?: \[vec_id#", block):
                continue
            assert not (
                re.search(r"\bquery_id#\d", block)
                and score_re.search(block)
            ), (
                f"{name}: a shuffle join keyed on vec_id streams pair "
                "rows (query_id + score in its input) — the label "
                "attach must happen on the corpus side, before the "
                f"pair join:\n{block}"
            )
        # and the top-R window input is bounded map-side as ever
        assert "WindowGroupLimit" in plan, name

    bcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # static single-tree plans: AQE query-stage reuse interleaves
    # already-materialized stage dumps (with restarted node ids) into
    # the formatted tree, defeating structural parsing
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        # always-Catalyst 1-bit families, default batch bound
        check("bq", similarity.knn_bq_rerank(base, qs, 10, **kw))
        check("ivfbq", similarity.knn_ivfbq(base, qs, 10, **kw))
        # kernel families forced onto the oversized distributed leg
        monkeypatch.setattr(knn, "QUERY_BATCH_MAX", 0)
        check("ivfpq", similarity.knn_ivfpq(base, qs, 10, **kw))
        check("ivfsq", similarity.knn_ivfsq(base, qs, 10, **kw))
        check("sq", similarity.knn_sq_rerank(base, qs, 10, **kw))
        check("bq2", similarity.knn_bq2_rerank(base, qs, 10, **kw))
        check("ivfbq2", similarity.knn_ivfbq2(base, qs, 10, **kw))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", bcast)
        spark.conf.set("spark.sql.adaptive.enabled", aqe)


def test_oversized_codec_legs_hoist_magnitudes_and_keep_luts_local(
    spark, sf_dir, monkeypatch
):
    """With QUERY_BATCH_MAX = 0 every kernel codec serves from its
    Catalyst leg (similarity._candidates). BQ2's pair projection — flat
    (knn_bq2_rerank) and IVF (knn_ivfbq2) alike — must score with the
    per-row magnitudes hoisted (_v_mag · _q_mag), not re-fold both
    SQRT(aggregate(…)) magnitudes for every pair; and the flat PQ leg
    (knn_pq_adc) must not broadcast its query-sized LUT frame."""
    import re

    from pyspark.sql import functions as F

    from toy_vector_db_spark.operators import knn, similarity
    from toy_vector_db_spark.sources.ndjson import split_count

    emb = registry.table(spark, sf_dir, "embeddings")
    cut = split_count(emb.count(), 0.95)
    base = emb.where(F.col("vec_id") < cut).select("vec_id", "embedding")
    qs = emb.where(F.col("vec_id") >= cut).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )

    def optimized(df):
        return df._jdf.queryExecution().optimizedPlan().toString()

    monkeypatch.setattr(knn, "QUERY_BATCH_MAX", 0)
    for name, df in [
        ("bq2", similarity.knn_bq2_rerank(base, qs, 10)),
        ("ivfbq2", similarity.knn_ivfbq2(base, qs, 10)),
    ]:
        pair = [
            ln for ln in optimized(df).splitlines()
            if "Project [" in ln and " AS dist#" in ln and "recon#" in ln
        ]
        assert pair, f"{name}: no pair projection scoring recon"
        for ln in pair:
            assert re.search(r"_v_mag#\d+ \* _q_mag#\d+", ln), (name, ln)
            assert "SQRT" not in ln, (name, ln)
    adc = optimized(similarity.knn_pq_adc(base, qs, 10))
    assert "Join Cross" in adc
    assert "strategy=broadcast" not in adc, adc


def test_bq_hamming_partial_topk_before_exchange(plans):
    """BQ (1-bit) needs no kernel-side emission bound: its Hamming scan
    is pure Catalyst, and the rank<=R cut must compile to a map-side
    WindowGroupLimit BELOW the query_id exchange — the JVM's own
    partial top-R, bounding the shuffle exactly as knn._TopRAcc bounds
    the Arrow kernels' emission (round 11)."""
    import re

    plan = plans("knn_bq_rerank")
    assert re.search(
        r"\+- Exchange [^\n]*\n[\s:]*\+- WindowGroupLimit", plan
    ), "no map-side partial WindowGroupLimit under the query_id exchange"


@pytest.mark.parametrize("family", ["ivfpq", "ivfsq", "ivfpq_filtered"])
def test_bounded_ivf_request_constructs_with_one_job(
    spark, sf_dir, monkeypatch, family
):
    """A bounded IVF request runs ONE Spark action while its plan is
    built — the query frame's Arrow collect — and derives the batch
    guard, the probe routing and (PQ) the lookup tables from it on the
    driver; it adds at most one session-cache entry. A filtered request
    collects each query with its label, left-joined, in that same
    action; the join's broadcast side is a second job (a plain collect
    and then a labeled one made three). Jobs are counted per job group.
    Only the oversized leg (QUERY_BATCH_MAX = 0) builds the Catalyst
    _ivf_probes frame."""
    from pyspark.sql import functions as F

    from toy_vector_db_spark import caches
    from toy_vector_db_spark.operators import knn, similarity
    from toy_vector_db_spark.sources.ndjson import split_count

    emb = registry.table(spark, sf_dir, "embeddings")
    cut = split_count(emb.count(), 0.95)
    base = emb.where(F.col("vec_id") < cut).select("vec_id", "embedding")
    knn_family = getattr(similarity, f"knn_{family.split('_')[0]}")
    kw = {}
    if family.endswith("_filtered"):
        label = (F.col("vec_id") % 3).cast("string")
        kw = dict(
            labels=base.select("vec_id", label.alias("label")),
            query_labels=emb.select(
                F.col("vec_id").alias("query_id"), label.alias("qlabel")
            ),
        )

    def search(base, queries, k):
        return knn_family(base, queries, k, **kw)

    def point(qid):
        return emb.where(F.col("vec_id") == qid).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )

    # warm the build-time artifacts (centroids, codes, rerank count)
    search(base, point(cut), 10).collect()
    built = []
    ivf_probes = similarity._ivf_probes

    def counting(*a, **kw):
        built.append(1)
        return ivf_probes(*a, **kw)

    monkeypatch.setattr(similarity, "_ivf_probes", counting)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"construct.{family}"
    # a query id no other test collects, so the batch memo misses
    qid = cut + {"ivfpq": 1, "ivfsq": 2, "ivfpq_filtered": 8}[family]
    snap = caches.snapshot()
    sc.setJobGroup(group, "bounded point construction")
    try:
        df = search(base, point(qid), 10)
        added = caches.added_since(snap)
        sc.setJobGroup(f"{group}.collect", "bounded point collect")
        assert len(df.collect()) == 10
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store applies listener events in order and
    # asynchronously: once the collect's jobs show up finished, every
    # construction job has been recorded
    deadline = time.monotonic() + 30
    while True:
        done = [
            tracker.getJobInfo(j)
            for j in tracker.getJobIdsForGroup(f"{group}.collect")
        ]
        if done and all(i is not None and i.status == "SUCCEEDED" for i in done):
            break
        assert time.monotonic() < deadline, "collect jobs never finished"
        time.sleep(0.01)
    jobs = 2 if kw else 1
    assert len(tracker.getJobIdsForGroup(group)) == jobs
    assert len(added) <= 1
    assert built == []

    monkeypatch.setattr(knn, "QUERY_BATCH_MAX", 0)
    assert len(search(base, point(qid + 2), 10).collect()) == 10
    assert built


def test_bounded_hnsw_delete_is_one_map_and_one_exchange(spark, sf_dir):
    """A bounded knn_hnsw_deleted over an upserted index searches the
    self-contained packed shard rows in ONE map: it constructs with at
    most one Spark job on a cold query frame (the query collect; the
    tombstone set collected once for its frame), and its executed plan
    has no cogroup, one MapInArrow and one Exchange — the top-k
    window's, on query_id. The vector table is never shuffled."""
    import re

    from pyspark.sql import functions as F

    from toy_vector_db_spark.operators import hnsw
    from toy_vector_db_spark.sources.ndjson import split_count

    emb = registry.table(spark, sf_dir, "embeddings")
    cut = split_count(emb.count(), 0.95)
    init_cut = split_count(cut, 0.75)
    base = emb.where(F.col("vec_id") < cut).select("vec_id", "embedding")
    parted, edges = hnsw.hnsw_index(base.where(F.col("vec_id") < init_cut), 4)
    hnsw.cached_packed_index(parted, edges)
    parted, edges = hnsw.hnsw_upsert(
        parted, edges, base.where(F.col("vec_id") >= init_cut), 4
    )
    dead = base.select("vec_id").where(F.col("vec_id") % 17 == 0)

    def point(qid):
        return emb.where(F.col("vec_id") == qid).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )

    # warm the index's packed rows and the tombstone set
    hnsw.knn_hnsw_deleted(parted, edges, dead, point(cut), 10).collect()
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = "construct.hnsw_deleted"
    sc.setJobGroup(group, "bounded point construction")
    try:
        df = hnsw.knn_hnsw_deleted(parted, edges, dead, point(cut + 4), 10)
        sc.setJobGroup(f"{group}.collect", "bounded point collect")
        assert len(df.collect()) == 10
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.monotonic() + 30
    while True:
        done = [
            tracker.getJobInfo(j)
            for j in tracker.getJobIdsForGroup(f"{group}.collect")
        ]
        if done and all(i is not None and i.status == "SUCCEEDED" for i in done):
            break
        assert time.monotonic() < deadline, "collect jobs never finished"
        time.sleep(0.01)
    assert len(tracker.getJobIdsForGroup(group)) <= 1
    # the adaptive plan prints its final and initial forms; read the final
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    assert "FlatMapCoGroupsInPandas" not in plan, plan
    assert len(re.findall(r"\bMapInArrow\b", plan)) == 1, plan
    exchanges = re.findall(r"\bExchange (\w+)\(([^)]*)", plan)
    assert len(exchanges) == 1, plan
    assert exchanges[0][0] == "hashpartitioning", plan
    assert exchanges[0][1].startswith("query_id#"), plan


def _executed_nodes(df) -> list:
    """The JVM nodes of ``df``'s final executed plan, query stages
    unwrapped; a cached frame's scan is a leaf (its stored plan ran when
    it was built, not in this query)."""
    def walk(p):
        if p.getClass().getSimpleName().endswith("QueryStageExec"):
            yield from walk(p.plan())
            return
        yield p
        kids = p.children()
        for i in range(kids.size()):
            yield from walk(kids.apply(i))

    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.executedPlan()
    return list(walk(plan))


def _served_nodes(df) -> list:
    """Collect ``df``, then the node names of its final executed plan."""
    df.collect()
    return [n.nodeName() for n in _executed_nodes(df)]


@pytest.mark.parametrize("family", ["ivfpq", "ivfsq"])
def test_bounded_ivf_point_is_one_map_and_one_exchange(spark, sf_dir, family):
    """A bounded IVF point scores, cuts and reranks where the code rows
    are: one Python stage (the pair kernel, which also computes the
    exact distance of each query's top-R rows over the persisted
    scan ⋈ base frame) and ONE exchange, the query_id hash that both
    per-query windows (top R by score, then top k by exact distance)
    share. No broadcast: the query batch rides in the kernel's closure,
    and there is no per-request join with the base. Its collect runs at
    most two jobs."""
    from pyspark.sql import functions as F

    from toy_vector_db_spark.operators import similarity
    from toy_vector_db_spark.sources.ndjson import split_count

    emb = registry.table(spark, sf_dir, "embeddings")
    cut = split_count(emb.count(), 0.95)
    base = emb.where(F.col("vec_id") < cut).select("vec_id", "embedding")
    search = getattr(similarity, f"knn_{family}")

    def point(qid):
        return emb.where(F.col("vec_id") == qid).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )

    # warm the build-time artifacts and the exact-scan frame
    search(base, point(cut), 10).collect()
    df = search(base, point(cut + 5), 10)
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    group = f"collect.{family}.fused"
    sc.setJobGroup(group, "bounded point collect")
    try:
        assert len(df.collect()) == 10
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    deadline = time.monotonic() + 30
    while True:
        done = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
        if done and all(i is not None and i.status == "SUCCEEDED" for i in done):
            break
        assert time.monotonic() < deadline, "collect jobs never finished"
        time.sleep(0.01)
    assert len(tracker.getJobIdsForGroup(group)) <= 2
    nodes = _executed_nodes(df)
    names = [n.nodeName() for n in nodes]
    assert names.count("MapInArrow") == 1, names
    assert "BroadcastExchange" not in names, names
    assert not any("Join" in n for n in names), names
    exchanges = [
        n.outputPartitioning().toString()
        for n in nodes if n.nodeName() == "Exchange"
    ]
    assert len(exchanges) == 1, names
    assert exchanges[0].startswith("hashpartitioning(query_id#"), exchanges
