"""HNSW index lifecycle (round 7, verdict r6 item 5): micro-batch
shard-append ingest and tombstone delete, each proven against the
from-scratch ground truth — the same equivalence discipline as the
IVF-PQ lifecycle keys (tests/test_similarity.py's upsert ≡ rebuild)."""

from py4j.protocol import Py4JJavaError
from pyspark.sql import functions as F

from toy_vector_db_spark import caches
from toy_vector_db_spark.operators import evaluation, hnsw, knn
from toy_vector_db_spark.sources.ndjson import split_count

P = 8


def _edge_set(df):
    return sorted(
        (r["part"], r["layer"], r["src"], r["pos"], r["dst"])
        for r in df.collect()
    )


def _chain_batches(base, lo, hi, cycles):
    """``cycles`` consecutive ascending id slices of [lo, hi) — the
    batches of an append-only ingest chain."""
    bounds = [lo + (hi - lo) * c // cycles for c in range(cycles + 1)]
    return [
        base.where((F.col("vec_id") >= a) & (F.col("vec_id") < b))
        for a, b in zip(bounds, bounds[1:])
    ]


def test_upsert_append_equals_scratch_build(spark, embeddings):
    """The append case (batch ids all greater than existing ids — the
    production shape for monotonically-assigned ids): reconstructing each
    touched shard's stored graph and replaying Algorithm 1 for the new
    ids must reproduce the scratch build EDGE FOR EDGE, because levels
    are hash-seeded and insertion order is id order. Run as a 3-upsert
    chain, each upsert on the previous one's (materialized) output; a
    tombstone search over the chained index must return exactly the
    scratch index's rows."""
    n = embeddings.count()
    cut = split_count(n, 0.95)
    base = embeddings.where(F.col("vec_id") < cut)
    init_cut = split_count(cut, 0.75)
    initial = base.where(F.col("vec_id") < init_cut)
    parted, edges = hnsw.hnsw_index(initial, P)
    for batch in _chain_batches(base, init_cut, cut, 3):
        parted, edges = hnsw.hnsw_upsert(parted, edges, batch, P)
    scratch_p, scratch_e = hnsw.hnsw_index(base, P)
    assert _edge_set(edges) == _edge_set(scratch_e)
    # the upserted vector table is the union, exactly
    assert parted.count() == base.count()
    qs = embeddings.where(F.col("vec_id") >= cut).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    dead = base.select("vec_id").where(F.col("vec_id") % 17 == 0)
    chained = hnsw.knn_hnsw_deleted(parted, edges, dead, qs, 10).collect()
    scratch = hnsw.knn_hnsw_deleted(
        scratch_p, scratch_e, dead, qs, 10
    ).collect()
    assert chained and sorted(map(tuple, chained)) == sorted(
        map(tuple, scratch)
    )


def test_upsert_interleaved_falls_back_to_shard_rebuild(spark, embeddings):
    """Interleaved batch ids (even/odd split) can't replay the insertion
    tail, so touched shards rebuild from scratch — result must STILL
    equal the full scratch build (and only shard-local work was done)."""
    n = embeddings.count()
    cut = split_count(n, 0.95)
    base = embeddings.where(F.col("vec_id") < cut)
    initial = base.where(F.col("vec_id") % 2 == 0)
    batch = base.where(F.col("vec_id") % 2 == 1)
    parted0, edges0 = hnsw.hnsw_index(initial, P)
    parted1, edges1 = hnsw.hnsw_upsert(parted0, edges0, batch, P)
    scratch = hnsw.build_edges(base, P)
    assert _edge_set(edges1) == _edge_set(scratch)


def test_upsert_untouched_shards_pass_through(spark, embeddings):
    """A micro-batch that hashes into a strict subset of shards must leave
    the other shards' edge lists untouched (at 100 TB: unrewritten index
    partitions). Constructed by picking batch ids that land in one part
    under the frozen shard function."""
    n = embeddings.count()
    cut = split_count(n, 0.95)
    base = embeddings.where(F.col("vec_id") < cut)
    init_cut = split_count(cut, 0.75)
    initial = base.where(F.col("vec_id") < init_cut)
    rest = base.where(F.col("vec_id") >= init_cut)
    # target part of the FIRST new id; batch = new ids landing in it
    parts = {
        r[0]: r[1]
        for r in hnsw._with_part(rest, P, "vec_id")
        .select("vec_id", "part")
        .collect()
    }
    target = parts[min(parts)]
    batch_ids = [i for i, p in parts.items() if p == target]
    batch = rest.where(F.col("vec_id").isin(batch_ids))
    parted0, edges0 = hnsw.hnsw_index(initial, P)
    _, edges1 = hnsw.hnsw_upsert(parted0, edges0, batch, P)
    before = {
        part: rows
        for part, rows in _group(_edge_set(edges0)).items()
    }
    after = _group(_edge_set(edges1))
    for part in range(P):
        if part != target:
            assert after.get(part) == before.get(part), f"part {part} changed"
    # the touched shard equals its scratch rebuild
    scratch = _group(
        _edge_set(
            hnsw.build_edges(initial.unionByName(batch), P)
        )
    )
    assert after.get(target) == scratch.get(target)


def _group(edge_rows):
    out: dict[int, list] = {}
    for row in edge_rows:
        out.setdefault(row[0], []).append(row)
    return out


def test_incremental_pack_prepopulates_and_matches_full(spark, embeddings):
    """Round 12 (verdict r11 item 6): when the base (parted, edges) pair
    already has a packed serving artifact in the session cache, an
    upsert pre-populates the UPSERTED pair's packed artifact
    incrementally — untouched shards' packed rows pass through, only
    touched shards run the pack cogroup. The incremental artifact must
    be row-for-row identical (binary CSR bytes included) to a full
    pack_index over the upserted pair, and serving from it must equal
    the scratch-built index's serve."""
    n = embeddings.count()
    cut = split_count(n, 0.95)
    base = embeddings.where(F.col("vec_id") < cut)
    init_cut = split_count(cut, 0.75)
    initial = base.where(F.col("vec_id") < init_cut)
    batch = base.where(F.col("vec_id") >= init_cut)
    parted0, edges0 = hnsw.hnsw_index(initial, P)
    hnsw.cached_packed_index(parted0, edges0)  # base pack in session cache
    parted1, edges1 = hnsw.hnsw_upsert(parted0, edges0, batch, P)
    packed1 = caches.get("hnsw_packed", parted1, edges1, "vec_id", "embedding")
    assert packed1 is not None, "upsert did not pre-populate"
    inc = {r["part"]: r.asDict() for r in packed1.collect()}
    full = {
        r["part"]: r.asDict()
        for r in hnsw.pack_index(parted1, edges1).collect()
    }
    assert inc == full  # bytes-exact, every shard
    # and a query through the packed serve matches the scratch build
    qs = embeddings.where(F.col("vec_id") >= cut).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    served = hnsw.knn_hnsw_prebuilt(parted1, edges1, qs, 10).collect()
    scratch_p, scratch_e = hnsw.hnsw_index(base, P)
    scratch = hnsw.knn_hnsw_prebuilt(scratch_p, scratch_e, qs, 10).collect()
    assert sorted(map(tuple, served)) == sorted(map(tuple, scratch))
    # an interleaved-id chain (even ids indexed, odd ids upserted in
    # two batches): touched shards rebuild from scratch, and every
    # upsert's packed frame still equals the full pack byte for byte
    parted, edges = hnsw.hnsw_index(base.where(F.col("vec_id") % 2 == 0), P)
    hnsw.cached_packed_index(parted, edges)
    odd = base.where(F.col("vec_id") % 2 == 1)
    for batch in (odd.where(F.col("vec_id") % 4 == 1),
                  odd.where(F.col("vec_id") % 4 == 3)):
        parted, edges = hnsw.hnsw_upsert(parted, edges, batch, P)
        packed = caches.get("hnsw_packed", parted, edges, "vec_id", "embedding")
        assert {r["part"]: r.asDict() for r in packed.collect()} == {
            r["part"]: r.asDict()
            for r in hnsw.pack_index(parted, edges).collect()
        }
    assert _edge_set(edges) == _edge_set(scratch_e)


def _stages_of(spark, group, fn):
    """Run ``fn`` under its own Spark job group; return its result and
    the number of stages its jobs ran (stages skipped because their
    shuffle output was reused are not counted)."""
    out, work = _spark_work(spark, group, fn)
    return out, work["stages"]


def _spark_work(spark, group, fn):
    """Run ``fn`` under its own Spark job group; return its result and
    what its jobs did: jobs, stages ran and shuffle bytes read."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # the status store is fed asynchronously by the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()

    def ran(sid):
        # past spark.ui.retainedStages the store evicts SKIPPED stages
        # first (their completion time is -1), so a stage of a finished
        # job that is no longer in the store was skipped
        try:
            return store.lastStageAttempt(sid).status().toString() != "SKIPPED"
        except Py4JJavaError:
            return False

    jobs = tracker.getJobIdsForGroup(group)
    stages = [
        sid for jid in jobs for sid in tracker.getJobInfo(jid).stageIds
        if ran(sid)
    ]
    return out, {
        "jobs": len(jobs),
        "stages": len(stages),
        "shuffle_read": sum(
            store.lastStageAttempt(sid).shuffleReadBytes() for sid in stages
        ),
    }


def _plan_nodes(df):
    """Node count of the optimized logical plan (one line per node)."""
    return len(
        df._jdf.queryExecution().optimizedPlan().toString().splitlines()
    )


def test_upsert_chain_keeps_stages_and_lineage_flat(spark, embeddings):
    """Each upsert returns materialized (parted', edges') leaves, so an
    upsert on an upserted index re-runs none of the earlier upserts'
    ingest kernels: along a chain the stage count of every upsert and
    the plan size of its outputs stay what they were at the first one
    (lazy outputs grew both by one upsert's worth per cycle)."""
    n = embeddings.count()
    cut = split_count(n, 0.95)
    base = embeddings.where(F.col("vec_id") < cut)
    init_cut = split_count(cut, 0.75)
    initial = base.where(F.col("vec_id") < init_cut)

    parted, edges = hnsw.hnsw_index(initial, P)
    hnsw.cached_packed_index(parted, edges)  # a serving session's start
    stages, nodes = [], []
    for c, batch in enumerate(_chain_batches(base, init_cut, cut, 4)):
        (parted, edges), s = _stages_of(
            spark, f"hnsw_upsert.{c}",
            lambda: hnsw.hnsw_upsert(parted, edges, batch, P),
        )
        stages.append(s)
        nodes.append((_plan_nodes(parted), _plan_nodes(edges)))
    assert stages[-1] == stages[0], stages
    assert nodes[-1] == nodes[0], nodes

    cells, edges, cents = hnsw.routed_index(initial)
    hnsw.cached_packed_index(cells, edges)  # a cold index packs in its first upsert
    stages, nodes = [], []
    for c, batch in enumerate(_chain_batches(base, init_cut, cut, 2)):
        (cells, edges), s = _stages_of(
            spark, f"hnsw_routed_upsert.{c}",
            lambda: hnsw.hnsw_routed_upsert(cells, edges, cents, batch),
        )
        stages.append(s)
        nodes.append((_plan_nodes(cells), _plan_nodes(edges)))
    assert stages[-1] == stages[0], stages
    assert nodes[-1] == nodes[0], nodes
    assert cells.count() == base.count()


def test_upsert_chain_runs_few_jobs_and_no_shuffle(spark, embeddings):
    """An upsert into a packed index is one map over its packed rows:
    along a 4-upsert chain each upsert runs at most 2 Spark jobs (the
    batch collect, and the insert map's eager checkpoint, which also
    counts the batch ids each row already holds) and reads no shuffle
    bytes — the vector table, the edge rows and the packed rows stay
    where they are. Hash-sharded and cell-routed alike (the routed
    batch routes on the driver)."""
    n = embeddings.count()
    cut = split_count(n, 0.95)
    base = embeddings.where(F.col("vec_id") < cut)
    init_cut = split_count(cut, 0.75)
    initial = base.where(F.col("vec_id") < init_cut)
    batches = _chain_batches(base, init_cut, cut, 4)

    parted, edges = hnsw.hnsw_index(initial, P)
    hnsw.cached_packed_index(parted, edges)
    for c, batch in enumerate(batches):
        (parted, edges), work = _spark_work(
            spark, f"hnsw_upsert.work.{c}",
            lambda: hnsw.hnsw_upsert(parted, edges, batch, P),
        )
        assert work["jobs"] <= 2 and work["shuffle_read"] == 0, (c, work)

    cells, edges, cents = hnsw.routed_index(initial)
    hnsw.cached_packed_index(cells, edges)
    for c, batch in enumerate(batches):
        (cells, edges), work = _spark_work(
            spark, f"hnsw_routed_upsert.work.{c}",
            lambda: hnsw.hnsw_routed_upsert(cells, edges, cents, batch),
        )
        assert work["jobs"] <= 2 and work["shuffle_read"] == 0, (c, work)
    assert cells.count() == base.count()


def test_chunked_upsert_equals_one_pass(spark, embeddings, monkeypatch):
    """A batch over QUERY_BATCH_MAX rows runs as id-ordered chunks
    through the same insert map and gives the one-pass graph: the same
    edges and the same packed bytes. The batch interleaves with the
    index's ids (scratch shard rebuilds) and then extends them (append
    chunks). A repeated id is still caught in the chunked form."""
    import pytest

    n = embeddings.count()
    cut = split_count(n, 0.95)
    base = embeddings.where(F.col("vec_id") < cut)
    init_cut = split_count(cut, 0.75)
    gap = F.col("vec_id") % 9 == 0
    initial = base.where((F.col("vec_id") < init_cut) & ~gap)
    batch = base.where(
        ((F.col("vec_id") < init_cut) & gap)
        | F.col("vec_id").between(init_cut, init_cut + 19)
    )

    def upsert():
        parted, edges = hnsw.hnsw_index(initial, P)
        parted, edges = hnsw.hnsw_upsert(parted, edges, batch, P)
        packed = caches.get("hnsw_packed", parted, edges, "vec_id", "embedding")
        return _edge_set(edges), {r["part"]: r.asDict() for r in packed.collect()}

    one_pass = upsert()
    monkeypatch.setattr(knn, "QUERY_BATCH_MAX", 7)
    assert batch.count() > 7
    assert upsert() == one_pass
    scratch = hnsw.build_edges(initial.unionByName(batch), P)
    assert one_pass[0] == _edge_set(scratch)
    parted, edges = hnsw.hnsw_index(initial, P)
    with pytest.raises(ValueError, match="duplicate ids within"):
        hnsw.hnsw_upsert(parted, edges, batch.unionByName(batch), P)


def test_routed_upsert_builds_a_cell_new_to_the_index(spark, embeddings):
    """A routed upsert whose batch routes into a cell the index holds no
    rows of builds that cell's graph from its batch rows: the result is
    the frozen-centroid rebuild of the union, edge for edge. Over a
    packed index that path runs 5 Spark jobs, as many as before the
    check rode the insert map: the batch collect, the check-and-insert
    map over the held cells (whose accumulator keys show the cell is
    new), the re-spread's range-bounds sample and its exchange's map
    stage (adaptive execution runs it as a job of its own), and the map
    that builds the new cell."""
    from toy_vector_db_spark.operators import similarity

    n = embeddings.count()
    cut = split_count(n, 0.95)
    base = embeddings.where(F.col("vec_id") < cut)
    init_cut = split_count(cut, 0.75)
    cells0, edges0, cents = hnsw.routed_index(
        base.where(F.col("vec_id") < init_cut)
    )
    empty = cells0.select("part").first()[0]
    kept = F.col("part") != empty
    # one partition, so the bounded batch collect is one job (a limit's
    # take over several partitions may scan them in more than one)
    batch = cells0.where(~kept).select("vec_id", "embedding").unionByName(
        base.where(F.col("vec_id") >= init_cut).select("vec_id", "embedding")
    ).coalesce(1)
    held_cells, held_edges = cells0.where(kept), edges0.where(kept)
    hnsw.cached_packed_index(held_cells, held_edges)
    (cells1, edges1), work = _spark_work(
        spark, "hnsw_routed_upsert.new_cell",
        lambda: hnsw.hnsw_routed_upsert(held_cells, held_edges, cents, batch),
    )
    assert work["jobs"] == 5, work
    assert cells1.where(~kept).count() >= cells0.where(~kept).count() > 0
    assign = similarity.ivf_assign(base, cents).select(
        "vec_id", F.col("centroid_id").cast("int").alias("part")
    )
    scratch = hnsw._edges_from_parted(
        base.select("vec_id", "embedding").join(assign, "vec_id"),
        "vec_id", "embedding",
    )
    assert _edge_set(edges1) == _edge_set(scratch)
    assert cells1.count() == base.count()


def test_search_plan_over_upsert_chain_stays_flat(spark, embeddings):
    """A tombstone search over the third upsert's output plans the same
    shuffles and the same number of nodes as one over the first's: the
    vector table a search scans is one leaf at any chain depth (a lazy
    parted' was a Union per upsert, all of them planned per query)."""
    from toy_vector_db_spark.plans import explain

    n = embeddings.count()
    cut = split_count(n, 0.95)
    base = embeddings.where(F.col("vec_id") < cut)
    init_cut = split_count(cut, 0.75)
    initial = base.where(F.col("vec_id") < init_cut)
    qs = embeddings.where(F.col("vec_id") >= cut).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    dead = base.select("vec_id").where(F.col("vec_id") % 17 == 0)

    def shape(parted, edges):
        nodes = explain._nodes(explain.formatted_plan(
            hnsw.knn_hnsw_deleted(parted, edges, dead, qs, 10)
        ))
        return nodes.count("Exchange"), len(nodes)

    parted, edges = hnsw.hnsw_index(initial, P)
    hnsw.cached_packed_index(parted, edges)
    shapes = []
    for batch in _chain_batches(base, init_cut, cut, 3):
        parted, edges = hnsw.hnsw_upsert(parted, edges, batch, P)
        shapes.append(shape(parted, edges))
    assert shapes[-1] == shapes[0], shapes


def test_delete_filters_tombstones_and_keeps_recall(spark, embeddings):
    """Tombstone delete at the NORMAL serving configuration (8 shards,
    ef=EF_SEARCH): no deleted id may surface, back-filled neighbors come
    from the live set, and recall vs exact-over-live holds the same bar
    as the plain graph (the graph is unchanged — only emission widens by
    t_max and filters)."""
    n = embeddings.count()
    cut = split_count(n, 0.95)
    base = embeddings.where(F.col("vec_id") < cut)
    qs = embeddings.where(F.col("vec_id") >= cut).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    tombstones = base.select("vec_id").where(F.col("vec_id") % 17 == 0)
    dead = {r[0] for r in tombstones.collect()}
    parted, edges = hnsw.hnsw_index(base, P)
    res = hnsw.knn_hnsw_deleted(parted, edges, tombstones, qs, 10)
    rows = res.collect()
    assert rows and all(r["vec_id"] not in dead for r in rows)
    live = base.where(F.col("vec_id") % 17 != 0)
    exact = knn.knn_exact_batch(live, qs, 10)
    rec = (
        evaluation.evaluate_recall(res, exact).agg(F.avg("recall")).first()[0]
    )
    small = base.count() <= 1000
    assert rec >= (0.90 if small else 0.85), f"deleted-graph recall = {rec}"


def test_delete_exhaustive_equals_filtered_exact(spark, embeddings):
    """ef = |base| + the unreachable guard makes the tombstoned search
    provably exact over the live set — the property the driver-hashed
    hnsw_delete_search key rests on."""
    n = embeddings.count()
    cut = split_count(n, 0.95)
    base = embeddings.where(F.col("vec_id") < cut)
    n_base = base.count()
    qs = embeddings.where(F.col("vec_id") >= cut).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    tombstones = base.select("vec_id").where(F.col("vec_id") % 17 == 0)
    parted, edges = hnsw.hnsw_index(base, 1)
    res = hnsw.knn_hnsw_deleted(
        parted, edges, tombstones, qs, 10, ef=n_base, emit=n_base
    ).select("query_id", "vec_id", "rank")
    live = base.where(F.col("vec_id") % 17 != 0)
    exact = knn.knn_exact_batch(live, qs, 10).select(
        "query_id", "vec_id", "rank"
    )
    assert res.exceptAll(exact).count() == 0
    assert exact.exceptAll(res).count() == 0


def test_compact_equals_delete_search(spark, sf_dir):
    """Compaction retires tombstones by REBUILDING the graph over live
    rows; search over the compacted graph must return exactly what
    tombstone search over the old graph returns (both provably exact in
    the registry's degenerate configuration — shared oracle, the
    ivfpq_compact_search pattern)."""
    from toy_vector_db_spark import registry

    deleted = registry.queries()["hnsw_delete_search"](spark, sf_dir)
    compacted = registry.queries()["hnsw_compact_search"](spark, sf_dir)
    assert deleted.exceptAll(compacted).count() == 0
    assert compacted.exceptAll(deleted).count() == 0


def test_streaming_hnsw_ingest_equals_batch_upsert(spark, sf_dir, embeddings):
    """The streaming drain (micro-batch upserts, touched-partition
    rewrites) must leave an edge table identical to the one-shot batch
    upsert — batch boundaries only partition the work."""
    from toy_vector_db_spark.sources.ndjson import split_count as sc
    from toy_vector_db_spark.streaming import ingest

    n = embeddings.count()
    cut = sc(n, 0.95)
    init_cut = sc(cut, 0.75)
    base = embeddings.where(F.col("vec_id") < cut)
    initial = base.where(F.col("vec_id") < init_cut)
    batch = base.where(F.col("vec_id") >= init_cut)
    _, edges_stream = ingest.stream_ingest_hnsw(
        spark, sf_dir, init_cut, cut, P
    )
    parted0, edges0 = hnsw.hnsw_index(initial, P)
    _, edges_batch = hnsw.hnsw_upsert(parted0, edges0, batch, P)
    assert _edge_set(edges_stream) == _edge_set(edges_batch)


def test_streaming_hnsw_drain_carries_the_packed_index(
    spark, sf_dir, monkeypatch
):
    """The drain keeps its index in memory from micro-batch to
    micro-batch: the initial index packs at most once, so a micro-batch
    after the first finds its input's packed leaf and shuffles nothing
    to re-pack it (an index re-read from the sink packs in every
    micro-batch)."""
    from toy_vector_db_spark import registry
    from toy_vector_db_spark.streaming import ingest

    calls = {"pack_index": 0, "hnsw_upsert": 0}
    for name in calls:
        def counted(*a, _f=getattr(hnsw, name), _n=name, **kw):
            calls[_n] += 1
            return _f(*a, **kw)
        monkeypatch.setattr(hnsw, name, counted)
    cut = split_count(registry._emb_count(spark, sf_dir), registry.SPLIT_RATIO)
    lo = split_count(cut, registry.UPSERT_RATIO)
    caches.evict("ingest", spark, sf_dir, lo, cut, "hnsw", P)  # drain anew
    ingest.stream_ingest_hnsw(spark, sf_dir, lo, cut, P)
    assert calls["pack_index"] <= 1 < calls["hnsw_upsert"], calls


def test_hnsw_filtered_predicate_and_recall(spark, embeddings):
    """Label-partitioned graph search: every result satisfies the
    query's label predicate BY CONSTRUCTION (routing is the filter), and
    normal-ef recall vs filtered-exact holds the family bar — on one
    n/|labels| graph the beam is near-exhaustive, so the floor is high."""
    from pyspark.sql import Window

    n = embeddings.count()
    cut = split_count(n, 0.95)
    base = embeddings.where(F.col("vec_id") < cut)
    qs = embeddings.where(F.col("vec_id") >= cut).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("qlabel"),
    )
    parted, edges = hnsw.labeled_index(base)
    res = hnsw.knn_hnsw_filtered(parted, edges, qs, 10)
    joined = (
        res.join(base.select("vec_id", "label"), "vec_id")
        .join(qs.select("query_id", "qlabel"), "query_id")
    )
    assert joined.count() == res.count()
    assert joined.where(F.col("label") != F.col("qlabel")).count() == 0
    scored = knn._scored_product(
        base.select("vec_id", "embedding", "label"), qs,
        "vec_id", "embedding", "query_id", "query_vec",
    ).where(F.col("label") == F.col("qlabel"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("dist").asc(), F.col("vec_id").asc()
    )
    exact = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 10)
        .select("query_id", "vec_id", "dist", "rank")
    )
    rec = (
        evaluation.evaluate_recall(res, exact).agg(F.avg("recall")).first()[0]
    )
    assert rec >= 0.95, f"label-partitioned graph recall = {rec}"


def test_delete_multi_shard_tombstones_do_not_starve_global_cut(
    spark, embeddings
):
    """Round-7 advice item 1: with P>1 shards, tombstones from SEVERAL
    shards can together outrank the live neighbors in the global top-kk
    window — a per-shard-max widening (the round-7 cut) under-counts and
    can starve live rows out of the final top-k. Construct the worst
    case: tombstone exactly the global top-T neighbors of every query
    (hash sharding spreads them over many shards, so T >> per-shard
    max), then assert the exhaustive delete search still equals exact
    search over the live set."""
    n = embeddings.count()
    cut = split_count(n, 0.95)
    base = embeddings.where(F.col("vec_id") < cut)
    n_base = base.count()
    qs = (
        embeddings.where(F.col("vec_id") >= cut)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        .limit(5)
    )
    # the global top-30 of EVERY query becomes a tombstone: spread over
    # all 8 hash shards, so total T is ~8x any single shard's count
    top = knn.knn_exact_batch(base, qs, 30).select("vec_id").distinct()
    tombstones = top
    parted, edges = hnsw.hnsw_index(base, P)
    res = hnsw.knn_hnsw_deleted(
        parted, edges, tombstones, qs, 10, ef=n_base, emit=n_base
    ).select("query_id", "vec_id", "rank")
    live = base.join(tombstones, "vec_id", "left_anti")
    exact = knn.knn_exact_batch(live, qs, 10).select(
        "query_id", "vec_id", "rank"
    )
    assert res.exceptAll(exact).count() == 0
    assert exact.exceptAll(res).count() == 0


def test_upsert_rejects_duplicate_ids(spark, embeddings):
    """Round-7 advice item 3: the ingest is append-only — a batch that
    re-sends an already-indexed id must fail fast instead of silently
    creating a duplicate graph node."""
    import pytest

    base = embeddings.limit(60)
    initial = base.where(F.col("vec_id") < 40)
    parted0, edges0 = hnsw.hnsw_index(initial, P)
    overlapping = base.where(F.col("vec_id") >= 30)  # 30-39 already in
    with pytest.raises(ValueError, match="append-only"):
        hnsw.hnsw_upsert(parted0, edges0, overlapping, P)


def test_routed_upsert_rejects_an_id_held_in_another_cell(spark, embeddings):
    """The append-only check covers every cell, not only the ones the
    batch touches: re-sending an indexed id under a vector that routes
    to a different cell than the one holding it still raises, and the
    caller's index is left as it was."""
    import pytest

    n = embeddings.count()
    initial = embeddings.where(F.col("vec_id") < split_count(n, 0.75))
    cells0, edges0, cents = hnsw.routed_index(initial)
    packed = hnsw.cached_packed_index(cells0, edges0)
    rows = cells0.select("vec_id", "part").collect()
    held_id, held_cell = rows[0]
    other = next(r["vec_id"] for r in rows if r["part"] != held_cell)
    # held_id's own id, other's vector: it routes away from held_cell
    batch = initial.where(F.col("vec_id") == other).select(
        F.lit(held_id).cast("long").alias("vec_id"), "embedding"
    )
    with pytest.raises(ValueError, match="append-only"):
        hnsw.hnsw_routed_upsert(cells0, edges0, cents, batch)
    assert caches.get(
        "hnsw_packed", cells0, edges0, "vec_id", "embedding"
    ) is packed


def test_part_counts_merge_is_order_free_and_retry_safe():
    """The upsert's {part: ids already held} accumulator, without
    Spark: merging is order-free, and applying an update twice, as a
    re-executed task can, never turns a zero count nonzero, a nonzero
    one zero, or changes the key set."""
    import itertools

    acc = hnsw._PartCounts()
    updates = [{0: 0, 1: 2}, {2: 0}, {1: 1, 3: 0}]

    def merged(seq):
        out = acc.zero({})
        for u in seq:
            out = acc.addInPlace(out, dict(u))
        return out

    once = merged(updates)
    assert once == {0: 0, 1: 3, 2: 0, 3: 0}
    assert all(merged(p) == once for p in itertools.permutations(updates))
    for u in updates:
        twice = merged(updates + [u])
        assert twice.keys() == once.keys()
        assert {p for p, c in twice.items() if c} == {
            p for p, c in once.items() if c
        }
    assert acc.zero(once) == {} and once == {0: 0, 1: 3, 2: 0, 3: 0}


def test_upserts_from_one_cached_base_keep_its_pack_warm(spark, embeddings):
    """An upsert leaves the pack of an index a memo owns where it is:
    three upserts of one batch from the same ``cached_index`` base each
    return the same rows, and the 2nd and 3rd run at most 2 Spark jobs
    (the batch collect and the insert map) — none re-packs the base
    cold. The pack an upsert registered for its own output is still
    evicted by the next upsert along a chain."""
    n = embeddings.count()
    cut = split_count(n, 0.95)
    base = embeddings.where(F.col("vec_id") < cut)
    init_cut = split_count(cut, 0.75)
    parted0, edges0 = hnsw.cached_index(
        base.where(F.col("vec_id") < init_cut), "upserts_from_one_base", P
    )
    batch = base.where(F.col("vec_id") >= init_cut)
    key = ("hnsw_packed", "vec_id", "embedding")
    results = []
    for c in range(3):
        (parted, edges), work = _spark_work(
            spark, f"hnsw_upsert.cached_base.{c}",
            lambda: hnsw.hnsw_upsert(parted0, edges0, batch, P),
        )
        if c:
            assert work["jobs"] <= 2 and work["shuffle_read"] == 0, (c, work)
        assert caches.get(key[0], parted0, edges0, *key[1:]) is not None
        packed = caches.get(key[0], parted, edges, *key[1:])
        results.append((
            sorted(map(tuple, parted.collect())), _edge_set(edges),
            {r["part"]: r.asDict() for r in packed.collect()},
        ))
    assert results[1] == results[0] and results[2] == results[0]
    scratch_p, scratch_e = hnsw.hnsw_index(base, P)
    assert results[0][1] == _edge_set(scratch_e)
    assert results[0][2] == {
        r["part"]: r.asDict() for r in hnsw.pack_index(parted, edges).collect()
    }
    # along a chain, the superseded upsert leaf goes
    nxt = embeddings.where(F.col("vec_id") >= cut)
    hnsw.hnsw_upsert(parted, edges, nxt, P)
    assert caches.get(key[0], parted, edges, *key[1:]) is None
    assert caches.get(key[0], parted0, edges0, *key[1:]) is not None


def test_labeled_index_rejects_null_and_uncastable_labels(spark, embeddings):
    """Round-7 advice item 2: a label that casts to NULL (string
    category, or a genuinely NULL label) would silently collapse every
    such row into one NULL-keyed graph — the filter disabled with no
    error. Both the build and the query side must fail fast instead."""
    import pytest

    base = embeddings.limit(40)
    stringy = base.withColumn(
        "label", F.concat(F.lit("cat_"), F.col("label").cast("string"))
    )
    with pytest.raises(ValueError, match="non-int-castable"):
        hnsw.labeled_index(stringy)
    nully = base.withColumn(
        "label",
        F.when(F.col("vec_id") % 7 == 0, F.lit(None)).otherwise(
            F.col("label")
        ),
    )
    with pytest.raises(ValueError, match="non-int-castable"):
        hnsw.labeled_index(nully)
    # query side: the validity assertion is EMBEDDED in the routing
    # projection (zero extra scan, re-evaluates every run — round-8
    # review), so the error surfaces at action time as a Spark job
    # failure carrying the typed message and the offending label
    parted, edges = hnsw.labeled_index(base)
    qs = base.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.concat(F.lit("x"), F.col("label").cast("string")).alias("qlabel"),
    ).limit(3)
    with pytest.raises(Exception, match="non-int-valued"):
        hnsw.knn_hnsw_filtered(parted, edges, qs, 5).collect()


def test_routed_upsert_equals_frozen_centroid_rebuild(spark, embeddings):
    """Round-8 routed-family lifecycle (verdict r7 item 7): ingest into
    the cell-partitioned index under FROZEN centroids must be
    edge-identical to building the per-cell graphs from scratch over the
    full corpus assigned under the SAME frozen centroids — the
    ivfpq_upsert ≡ frozen-rebuild proof transplanted to the graph
    family (the shared _upsert_parted core makes the shard-local
    argument identical; what's new is the centroid shard function)."""
    from toy_vector_db_spark.operators import similarity

    n = embeddings.count()
    cut = split_count(n, 0.95)
    base = embeddings.where(F.col("vec_id") < cut)
    init_cut = split_count(cut, 0.75)
    initial = base.where(F.col("vec_id") < init_cut)
    batch = base.where(F.col("vec_id") >= init_cut)
    cells0, edges0, cents = hnsw.routed_index(initial)
    cells1, edges1 = hnsw.hnsw_routed_upsert(cells0, edges0, cents, batch)
    # scratch rebuild: FULL base assigned under the same frozen centroids
    assign = similarity.ivf_assign(base, cents).select(
        "vec_id", "centroid_id"
    )
    parted = (
        base.select("vec_id", "embedding")
        .join(assign, "vec_id")
        .withColumn("part", F.col("centroid_id").cast("int"))
        .select("vec_id", "embedding", "part")
    )
    scratch = hnsw._edges_from_parted(parted, "vec_id", "embedding")
    assert _edge_set(edges1) == _edge_set(scratch)
    assert cells1.count() == base.count()


def test_routed_delete_exhaustive_equals_filtered_exact(spark, embeddings):
    """Routed tombstone delete in the exhaustive degenerate (all cells
    probed, ef=|base|) must equal exact search over the live set — the
    property the driver-hashed hnsw_routed_delete_search key rests on."""
    n = embeddings.count()
    cut = split_count(n, 0.95)
    base = embeddings.where(F.col("vec_id") < cut)
    n_base = base.count()
    qs = embeddings.where(F.col("vec_id") >= cut).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    tombstones = base.select("vec_id").where(F.col("vec_id") % 17 == 0)
    cells, edges, cents = hnsw.routed_index(base)
    n_cells = cents.count()
    res = hnsw.knn_hnsw_routed_deleted(
        cells, edges, cents, tombstones, qs, 10,
        nprobe=n_cells, ef=n_base, emit=n_base,
    ).select("query_id", "vec_id", "rank")
    live = base.where(F.col("vec_id") % 17 != 0)
    exact = knn.knn_exact_batch(live, qs, 10).select(
        "query_id", "vec_id", "rank"
    )
    assert res.exceptAll(exact).count() == 0
    assert exact.exceptAll(res).count() == 0


def test_routed_compact_equals_routed_delete_search(spark, sf_dir):
    """Routed compaction (round 8) retires tombstones by rebuilding the
    per-cell graphs over live rows under FROZEN centroids; search over
    the compacted index must return exactly what tombstone search over
    the old index returns (both provably exact in the registry's routed
    exhaustive degenerate — shared oracle, the ivfpq_compact_search
    pattern on the third family)."""
    from toy_vector_db_spark import registry

    deleted = registry.queries()["hnsw_routed_delete_search"](spark, sf_dir)
    compacted = registry.queries()["hnsw_routed_compact_search"](spark, sf_dir)
    assert deleted.exceptAll(compacted).count() == 0
    assert compacted.exceptAll(deleted).count() == 0


def test_upsert_rejects_intra_batch_duplicate_ids(spark, embeddings):
    """Review finding (round 8): the append-only guard must also catch
    an id repeated WITHIN one batch (at-least-once sources can replay a
    row into the same micro-batch) — not just batch-vs-index overlap."""
    import pytest

    base = embeddings.limit(60)
    initial = base.where(F.col("vec_id") < 40)
    parted0, edges0 = hnsw.hnsw_index(initial, P)
    fresh = base.where(F.col("vec_id") >= 40)
    doubled = fresh.unionByName(fresh)  # disjoint from index, dup inside
    with pytest.raises(ValueError, match="duplicate ids within"):
        hnsw.hnsw_upsert(parted0, edges0, doubled, P)


def test_upsert_rejects_null_ids_with_the_right_error(spark, embeddings):
    """Review finding (round 9): the fused count/countDistinct check
    ignores NULLs in countDistinct, so a NULL id used to read as a
    within-batch duplicate — the wrong diagnosis (dropDuplicates fixes
    nothing). A null id must raise its OWN typed error."""
    import pytest

    base = embeddings.limit(60)
    initial = base.where(F.col("vec_id") < 40)
    parted0, edges0 = hnsw.hnsw_index(initial, P)
    fresh = base.where(F.col("vec_id") >= 40)
    # null out an id that is PROVABLY in the batch (limit() on a
    # multi-partition frame guarantees no particular id subset)
    victim = fresh.agg(F.min("vec_id")).first()[0]
    nulled = fresh.withColumn(
        "vec_id",
        F.when(F.col("vec_id") == victim, F.lit(None)).otherwise(
            F.col("vec_id")
        ),
    )
    with pytest.raises(ValueError, match="NULL ids"):
        hnsw.hnsw_upsert(parted0, edges0, nulled, P)


def test_labeled_index_rejects_truncating_float_labels(spark, embeddings):
    """Review finding (round 8): try_cast TRUNCATES non-integral
    numerics (2.3 and 2.6 both → part 2), silently MERGING distinct
    labels into one graph — the check must reject fractional labels
    while still accepting int-valued doubles (2.0)."""
    import pytest

    base = embeddings.limit(40)
    fractional = base.withColumn(
        "label", F.col("label").cast("double") + F.lit(0.3)
    )
    with pytest.raises(ValueError, match="non-int-valued"):
        hnsw.labeled_index(fractional)
    int_valued = base.withColumn("label", F.col("label").cast("double"))
    parted, edges = hnsw.labeled_index(int_valued)  # 2.0-style: accepted
    assert parted.count() == 40 and edges.count() > 0


def test_delete_serving_ef_widens_past_tombstone_mass(spark, embeddings):
    """Review finding (round 8): the k+T candidate cut is vacuous if the
    per-shard BEAM still returns only ef rows — with T > ef − k a beam
    full of tombstones could starve the live top-k despite the widened
    window. knn_hnsw_deleted now widens ef to kk as well: tombstone the
    global top-150 neighbors (T ≫ ef−k at the default ef=100) and
    assert every query still gets k live rows with high agreement vs
    exact-over-live at the DEFAULT serving ef."""
    n = embeddings.count()
    cut = split_count(n, 0.95)
    base = embeddings.where(F.col("vec_id") < cut)
    qs = (
        embeddings.where(F.col("vec_id") >= cut)
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        .limit(5)
    )
    top = knn.knn_exact_batch(base, qs, 150).select("vec_id").distinct()
    parted, edges = hnsw.hnsw_index(base, 1)
    res = hnsw.knn_hnsw_deleted(parted, edges, top, qs, 10)  # default ef
    per_q = res.groupBy("query_id").count()
    assert per_q.where(F.col("count") < 10).count() == 0, (
        "a query was starved below k live results"
    )
    live = base.join(top, "vec_id", "left_anti")
    exact = knn.knn_exact_batch(live, qs, 10)
    rec = (
        evaluation.evaluate_recall(res, exact).agg(F.avg("recall")).first()[0]
    )
    assert rec >= 0.9, f"deleted-graph recall under heavy tombstones = {rec}"


def _hex_rows(df):
    return sorted(
        (r["query_id"], r["vec_id"], r["dist"].hex(), r["rank"])
        for r in df.collect()
    )


def test_bounded_and_catalyst_legs_return_identical_rows(
    spark, embeddings, monkeypatch
):
    """The bounded search leg (one map over the packed rows) and the
    Catalyst leg (QUERY_BATCH_MAX = 0: a cogroup of the packed rows with
    the routed queries; every tombstone set is then too large to
    collect, so that leg counts, widens the cut and anti-joins) return
    identical (query_id, vec_id, dist bits, rank) rows for every search
    shape: plain, tombstoned with k + |S| ≤ ef (count skipped) and
    k + |S| > ef (count run), exhaustive, and IVF-routed plain and
    tombstoned. The heavy set holds every query's ef nearest ids, so a
    beam left at ef (a count wrongly skipped) holds almost no live row
    on the one-shard index and starves the queries below k."""
    n = embeddings.count()
    cut = split_count(n, 0.95)
    base = embeddings.where(F.col("vec_id") < cut)
    n_base = base.count()
    qs = embeddings.where(F.col("vec_id") >= cut).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    k, ef = 10, 40
    light = base.select("vec_id").where(F.col("vec_id") % 97 == 0)
    heavy = knn.knn_exact_batch(base, qs, ef).select("vec_id").distinct()
    assert k + light.count() <= ef < k + heavy.count()
    parted, edges = hnsw.hnsw_index(base, 4)
    one_p, one_e = hnsw.hnsw_index(base, 1)
    cells, c_edges, cents = hnsw.routed_index(base)
    cases = {
        "prebuilt": lambda: hnsw.knn_hnsw_prebuilt(
            parted, edges, qs, k, ef),
        "deleted_count_skipped": lambda: hnsw.knn_hnsw_deleted(
            parted, edges, light, qs, k, ef),
        "deleted_count_run": lambda: hnsw.knn_hnsw_deleted(
            one_p, one_e, heavy, qs, k, ef),
        "exhaustive": lambda: hnsw.knn_hnsw_prebuilt(
            parted, edges, qs, k, ef=n_base, emit=n_base),
        "exhaustive_deleted": lambda: hnsw.knn_hnsw_deleted(
            parted, edges, light, qs, k, ef=n_base, emit=n_base),
        "routed": lambda: hnsw.knn_hnsw_routed_prebuilt(
            cells, c_edges, cents, qs, k, ef=ef),
        "routed_deleted": lambda: hnsw.knn_hnsw_routed_deleted(
            cells, c_edges, cents, heavy, qs, k, ef=ef),
    }
    bounded = {name: _hex_rows(run()) for name, run in cases.items()}
    monkeypatch.setattr(knn, "QUERY_BATCH_MAX", 0)
    catalyst = {name: _hex_rows(run()) for name, run in cases.items()}
    for name in cases:
        assert bounded[name] == catalyst[name], name
    n_q = qs.count()
    for name in ("deleted_count_run", "exhaustive_deleted"):
        assert len(bounded[name]) == n_q * k, (name, len(bounded[name]))


def test_upserted_pack_keeps_a_flat_spread_layout(spark, embeddings):
    """Along a 5-upsert chain the incrementally packed serving frame
    keeps the base pack's partition count and its range layout on
    ``part``: the bounded search runs one map task per partition, and
    the bare union had added a partition per upsert with every shard in
    the last one ([0,0,0,0,0,0,0,0,8] after five upserts). A routed
    upsert that opens a cell re-spreads instead of adding the new
    shard's own partition."""
    n = embeddings.count()
    cut = split_count(n, 0.95)
    base = embeddings.where(F.col("vec_id") < cut)
    init_cut = split_count(cut, 0.75)
    parted, edges = hnsw.hnsw_index(base.where(F.col("vec_id") < init_cut), P)
    width = min(P, spark.sparkContext.defaultParallelism)

    def layout(packed):
        counts = dict(
            packed.groupBy(F.spark_partition_id().alias("p")).count().collect()
        )
        return [counts.get(i, 0) for i in range(packed.rdd.getNumPartitions())]

    first = layout(hnsw.cached_packed_index(parted, edges))
    assert len(first) == spark.sparkContext.defaultParallelism
    assert sum(first) == P and max(first) < P
    assert sum(1 for c in first if c) >= width // 2
    assert max(first) - min(first) <= 1, first
    for batch in _chain_batches(base, init_cut, cut, 5):
        parted, edges = hnsw.hnsw_upsert(parted, edges, batch, P)
        packed = caches.get("hnsw_packed", parted, edges, "vec_id", "embedding")
        now = layout(packed)
        assert now == first and max(now) - min(now) <= 1, now

    cells, c_edges, cents = hnsw.routed_index(
        base.where(F.col("vec_id") < init_cut)
    )
    shut = F.col("part") != cells.select("part").first()[0]
    cells, c_edges = cells.where(shut), c_edges.where(shut)
    before = layout(hnsw.cached_packed_index(cells, c_edges))
    batch = base.where(F.col("vec_id") >= init_cut)
    cells, c_edges = hnsw.hnsw_routed_upsert(cells, c_edges, cents, batch)
    assert cells.where(~shut).count() > 0  # the upsert opened the cell
    packed = caches.get("hnsw_packed", cells, c_edges, "vec_id", "embedding")
    now = layout(packed)
    assert len(now) == len(before) and sum(now) == sum(before) + 1, now
    assert max(now) - min(now) <= 1, now
