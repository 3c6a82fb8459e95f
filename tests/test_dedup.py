"""Dedup suite semantics: the injected near-dup twins must be recovered."""

from pyspark.sql import functions as F

from toy_vector_db_spark.operators import dedup


def test_minhash_recovers_injected_pairs(spark, documents):
    corpus = dedup.with_injected_dups(documents.select("doc_id", "text"))
    pairs = dedup.minhash_lsh_pairs(corpus).collect()
    got = {(r.doc_a, r.doc_b) for r in pairs}
    expected = {(i, i + dedup.DUP_OFFSET) for i in range(dedup.DUP_SLICE)}
    # every injected twin pair is found...
    assert expected <= got, f"missed {sorted(expected - got)[:5]}"
    # ...with high-but-imperfect similarity (suffix perturbation)
    by_pair = {(r.doc_a, r.doc_b): r.jaccard for r in pairs}
    for p in expected:
        assert 0.7 <= by_pair[p] < 1.0


def test_lsh_bucket_cap_engages_on_mega_bucket(spark, documents):
    """Skew guard: a synthetic mega-bucket (40 byte-identical docs — same
    signature in EVERY band, so a 40-doc bucket per band) is dropped when
    it exceeds bucket_cap, while small buckets (an injected twin pair)
    still produce their pairs. Uncapped, the same corpus emits the full
    quadratic 40·39/2 pair set."""
    base = documents.select("doc_id", "text").limit(50)
    mega_text = "alpha beta gamma delta epsilon zeta eta theta " * 4
    mega = spark.range(100000, 100040).select(
        F.col("id").cast("int").alias("doc_id"),
        F.lit(mega_text).alias("text"),
    )
    corpus = dedup.with_injected_dups(base).unionByName(mega)

    def is_mega(i):
        return 100000 <= i < 100040

    capped = dedup.minhash_lsh_pairs(corpus, bucket_cap=8).collect()
    capped_ids = {(r.doc_a, r.doc_b) for r in capped}
    # cap engages: zero pairs from the mega-bucket...
    assert not any(is_mega(a) or is_mega(b) for a, b in capped_ids)
    # ...while every injected twin pair (bucket size 2) survives
    expected = {(i, i + dedup.DUP_OFFSET) for i in range(dedup.DUP_SLICE)}
    assert expected <= capped_ids
    # uncapped control: the mega-bucket emits its full quadratic pair set
    uncapped = dedup.minhash_lsh_pairs(corpus, bucket_cap=10**9).collect()
    mega_pairs = {
        (r.doc_a, r.doc_b)
        for r in uncapped
        if is_mega(r.doc_a) or is_mega(r.doc_b)
    }
    assert len(mega_pairs) == 40 * 39 // 2
    assert {(r.doc_a, r.doc_b) for r in uncapped} - mega_pairs == capped_ids


def test_lsh_bucket_cap_oracle_parity_nondefault(
    spark, documents, tmp_path
):
    """Advice r12: the DuckDB oracle threads ``bucket_cap`` parameter-
    parallel with the operator — at a NON-default cap that actually
    engages (a 12-doc byte-identical mega-bucket, cap=8), both engines
    must produce the identical pair set: the mega pairs dropped, the
    injected twins kept, jaccard values equal under the shared stable
    rounding."""
    import duckdb

    from toy_vector_db_spark import oracles_dedup as OD
    from toy_vector_db_spark.functions.rounding import (
        stabilize_sql_rounding,
    )

    base = documents.select("doc_id", "text").limit(50)
    mega_text = "alpha beta gamma delta epsilon zeta eta theta " * 4
    mega = spark.range(100000, 100012).select(
        F.col("id").alias("doc_id"), F.lit(mega_text).alias("text")
    )
    pq = str(tmp_path / "documents_cap.parquet")
    base.unionByName(
        mega.select(
            F.col("doc_id").cast(base.schema["doc_id"].dataType), "text"
        )
    ).coalesce(1).write.mode("overwrite").parquet(pq)
    corpus = dedup.with_injected_dups(
        spark.read.parquet(pq).select("doc_id", "text")
    )
    got = sorted(
        (int(r.doc_a), int(r.doc_b), r.jaccard)
        for r in dedup.minhash_lsh_pairs(corpus, bucket_cap=8).collect()
    )
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW documents AS SELECT * FROM '{pq}/*.parquet'"
    )
    want = sorted(
        (int(a), int(b), j)
        for a, b, j in con.sql(
            stabilize_sql_rounding(OD.minhash_lsh_sql(bucket_cap=8))
        ).fetchall()
    )
    con.close()
    assert got == want and len(got) > 0
    # and the cap engaged on both: zero mega pairs anywhere
    assert not any(
        100000 <= a < 100012 or 100000 <= b < 100012 for a, b, _ in got
    )


def test_lsh_bucket_cap_fixture_parity(spark, documents):
    """The default cap must not engage on the fixture corpus: pair set and
    jaccard values bit-identical to an effectively-uncapped run (pins the
    dedup_minhash_lsh / dup_clusters driver hashes across the cap change)."""
    corpus = dedup.with_injected_dups(documents.select("doc_id", "text"))
    got = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.minhash_lsh_pairs(corpus).collect()
    )
    ref = sorted(
        (r.doc_a, r.doc_b, r.jaccard)
        for r in dedup.minhash_lsh_pairs(corpus, bucket_cap=10**9).collect()
    )
    assert got == ref and len(got) >= dedup.DUP_SLICE


def test_dup_clusters_resolve_twins(spark, documents):
    """Every injected twin must land in its original's cluster with the
    original (smaller id) as keeper; the clustering must be a partition
    (every doc exactly once) and every cluster must keep exactly one doc."""
    corpus = dedup.with_injected_dups(documents.select("doc_id", "text"))
    rows = dedup.dup_clusters(corpus).collect()
    by_doc = {r.doc_id: r for r in rows}
    assert len(by_doc) == corpus.count()
    for i in range(dedup.DUP_SLICE):
        twin = by_doc[i + dedup.DUP_OFFSET]
        assert twin.cluster_id == by_doc[i].cluster_id
        assert not twin.is_keeper
    # exactly one keeper per cluster, and it is the cluster min
    from collections import defaultdict

    clusters = defaultdict(list)
    for r in rows:
        clusters[r.cluster_id].append(r)
    for cid, members in clusters.items():
        keepers = [m for m in members if m.is_keeper]
        assert len(keepers) == 1 and keepers[0].doc_id == cid
        assert min(m.doc_id for m in members) == cid


def test_exact_dedup_group_sizes(spark, documents):
    corpus = dedup.with_injected_dups(
        documents.select("doc_id", "text"), perturb=False
    )
    groups = dedup.dedup_exact(corpus)
    rows = groups.groupBy("n_copies").agg(F.count("*").alias("cnt")).collect()
    n = documents.count()
    # conservation: every doc lands in exactly one group
    assert sum(r.n_copies * r.cnt for r in rows) == n + dedup.DUP_SLICE
    # every injected twin is grouped with its original; the larger SFs
    # also contain NATURAL exact-dup collisions (synthetic text), so
    # assert a floor instead of an exact histogram
    multi = sum(r.cnt for r in rows if r.n_copies >= 2)
    assert multi >= dedup.DUP_SLICE


def test_simhash_twin_distance(spark, documents):
    corpus = dedup.with_injected_dups(documents.select("doc_id", "text"))
    pairs = dedup.simhash_near_pairs(corpus, max_hamming=6).collect()
    got = {(r.doc_a, r.doc_b) for r in pairs}
    expected = {(i, i + dedup.DUP_OFFSET) for i in range(dedup.DUP_SLICE)}
    # suffix perturbation flips few simhash bits; most twins must surface.
    # (byte-band blocking is recall-bounded by design: a pair with ≤6
    # flipped bits spread over all 4 bytes is missed — the standard trade)
    assert len(expected & got) >= int(0.7 * dedup.DUP_SLICE)


def test_span_dedup_keep_first(spark):
    """Keep-first semantics on a hand-built corpus: the repeated 3-word
    span survives only in the earliest (doc_id, pos) slot; docs
    reassemble from surviving spans in position order."""
    from toy_vector_db_spark.operators import dedup

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f"),
            (2, "a b c x y z"),
            (3, "x y z a b c d e f tail"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in dedup.span_dedup_scrub(docs).collect()}
    assert out[1]["clean_text"] == "a b c d e f"
    assert out[1]["n_dropped"] == 0
    # doc 2: "a b c" first occurred in doc 1
    assert out[2]["clean_text"] == "x y z"
    assert out[2]["n_dropped"] == 1
    # doc 3: "x y z" first occurred in doc 2, "a b c" AND "d e f" in
    # doc 1 — only the short tail span is new to the corpus
    assert out[3]["clean_text"] == "tail"
    assert out[3]["n_spans"] == 4 and out[3]["n_dropped"] == 3


def test_span_dedup_adversarial_scale(spark):
    """Round-6 scale gate (verdict r5 item 5): span_dedup_scrub on a
    generated ADVERSARIAL corpus at 10× the fixture row count — every
    document a rotation of one shared token ring (so every span recurs in
    ~every doc) plus one mega-duplicate span in all docs (the C4
    boilerplate hot key, 5000 occurrences of a single span value).
    Asserts (a) global keep-first output invariants hold under extreme
    duplication and (b) the plan's keep-first aggregate stays map-side
    combined and hash-partitioned — the hot span key must NOT collapse
    the exchange onto a single reducer. Measured shuffle sizes for this
    corpus are recorded in SCALE.md (span-dedup row)."""
    from toy_vector_db_spark.operators import dedup

    n_docs, ring = 5000, 96  # 10× the sf0.001 documents fixture
    w = dedup.SPAN_W
    words = [f"w{i}" for i in range(ring)]
    rows = [
        # rotation keeps every w-window of the ring present in every doc
        # (modulo alignment); the trailing hot span duplicates corpus-wide
        (i, " ".join(words[i % ring:] + words[: i % ring]) + " hot hot hot")
        for i in range(n_docs)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.span_dedup_scrub(docs)

    plan = out._jdf.queryExecution().executedPlan().toString()
    # keep-first = min-of-struct aggregate with a partial (map-side)
    # phase; a row_number window would sort the 5000-row hot key in one
    # task. The span-key exchange must hash-partition, never collapse to
    # a single partition (only broadcast/AQE-local shuffles otherwise).
    assert "Window" not in plan
    assert "Exchange SinglePartition" not in plan
    assert "partial_min" in plan or plan.count("SortAggregate") >= 2 or \
        plan.count("HashAggregate") >= 2

    rs = out.collect()
    assert len(rs) == n_docs
    by_id = {r["doc_id"]: r for r in rs}
    # per-doc counters are consistent
    assert all(0 <= r["n_dropped"] <= r["n_spans"] for r in rs)
    # every doc splits into ring/w spans + the hot span
    assert all(r["n_spans"] == ring // w + 1 for r in rs)
    # global invariant: total kept == number of DISTINCT spans in the
    # corpus (each distinct span survives exactly once)
    from pyspark.sql import functions as FF

    spans = docs.select(
        FF.explode(
            FF.transform(
                FF.sequence(
                    FF.lit(0),
                    FF.ceil(
                        FF.size(FF.split("text", " ")) / FF.lit(float(w))
                    ).cast("int") - 1,
                ),
                lambda i: FF.array_join(
                    FF.slice(FF.split(FF.col("text"), " "), i * w + 1, w), " "
                ),
            )
        ).alias("span")
    )
    n_distinct = spans.distinct().count()
    total_kept = sum(r["n_spans"] - r["n_dropped"] for r in rs)
    assert total_kept == n_distinct
    # keep-first: doc 0 is the earliest occurrence of all its spans, so
    # it survives intact; the hot span survives ONLY there
    assert by_id[0]["n_dropped"] == 0
    assert sum("hot hot hot" in r["clean_text"] for r in rs) == 1
    assert "hot hot hot" in by_id[0]["clean_text"]


def test_semdedup_prunes_injected_twins(spark, embeddings):
    """SemDeDup (round 10): exact-copy twins injected at fresh ids must
    be pruned at ANY radius (pair sim 1.0 > eps), and the keep rule's
    tiebreak (equal centroid distance → lower id survives) must keep
    every ORIGINAL: survivors = the untouched corpus, exactly."""
    from pyspark.sql import functions as FF

    from toy_vector_db_spark.operators import dedup, similarity

    emb = embeddings.select("vec_id", "embedding")
    n = emb.count()
    twins = emb.limit(25).select(
        (FF.col("vec_id") + FF.lit(10_000_000)).alias("vec_id"),
        "embedding",
    )
    corpus = emb.unionByName(twins)
    cents = similarity.cached_trained_centroids(corpus)
    out = dedup.semdedup_prune(corpus, cents)
    ids = {r["vec_id"] for r in out.select("vec_id").collect()}
    assert all(i < 10_000_000 for i in ids), "an injected twin survived"
    assert len(ids) <= n
    # the twins must change NOTHING else: a twin sits at its original's
    # exact position, so anything it would prune the original (lower id,
    # same distances) already prunes, and the twin itself is pruned by
    # the original via the id tiebreak — survivors == the twin-free run
    baseline = {
        r["vec_id"]
        for r in dedup.semdedup_prune(emb, cents).select("vec_id").collect()
    }
    assert ids == baseline


def test_semdedup_keep_rule_is_farthest_from_centroid(spark, embeddings):
    """Among a non-tied near-dup pair, the survivor is the member
    FARTHER from its cluster centroid (the paper's most-atypical keep
    rule). Construct one: an original and a slightly centroid-ward
    interpolated copy land in the same cell with sim ≈ 1 > eps; the
    interpolated copy (closer to the centroid) must be pruned."""
    from pyspark.sql import functions as FF

    from toy_vector_db_spark.operators import dedup, similarity

    emb = embeddings.select("vec_id", "embedding")
    cents = similarity.cached_trained_centroids(emb)
    # interpolate row 0's vector 2% toward its centroid → same cell,
    # sim >> eps, strictly SMALLER centroid distance
    r0 = emb.where(FF.col("vec_id") == 0).first()
    import numpy as np

    v = np.array(r0["embedding"], dtype=np.float64)
    crows = {r["centroid_id"]: np.array(r["centroid_vec"]) for r in cents.collect()}
    sims = {
        cid: float(
            max(0.0, v @ c / (np.linalg.norm(v) * np.linalg.norm(c)))
        )
        for cid, c in crows.items()
    }
    own = max(sims, key=lambda cid: (sims[cid], -cid))
    vv = 0.98 * v + 0.02 * crows[own]
    twin = spark.createDataFrame(
        [(20_000_000, [float(x) for x in vv])],
        "vec_id bigint, embedding array<float>",
    )
    corpus = emb.unionByName(twin)
    out = dedup.semdedup_prune(corpus, cents)
    ids = {r["vec_id"] for r in out.select("vec_id").collect()}
    assert 0 in ids, "the farther-from-centroid original must survive"
    assert 20_000_000 not in ids, "the centroid-ward copy must be pruned"


def test_semdedup_kernel_assign_parity(spark, embeddings):
    """Round 11: above SEM_KERNEL_MIN_CELLS, semdedup_prune assigns via
    the Arrow argmin kernel (one emitted row per vector) instead of the
    interpreted crossJoin. The kernel must be BIT-identical to the
    expression form — same unrounded _cd doubles, same (d, centroid_id)
    argmin tie-break — at a cell count that actually engages it."""
    from pyspark.sql import functions as F

    from toy_vector_db_spark.functions import vector as V
    from toy_vector_db_spark.operators import dedup, similarity

    n_cells = dedup.SEM_KERNEL_MIN_CELLS + 16
    cents = similarity.cached_trained_centroids(embeddings, n=n_cells)
    base_m = embeddings.select(
        "vec_id", "embedding", V.magnitude("embedding").alias("_mag")
    )
    cents_rows = [
        (int(r["centroid_id"]), [float(x) for x in r["centroid_vec"]])
        for r in cents.orderBy("centroid_id").collect()
    ]
    kernel = {
        int(r["vec_id"]): (int(r["centroid_id"]), float(r["_cd"]))
        for r in dedup._semdedup_assign_kernel(
            base_m, cents_rows, "vec_id", "embedding"
        ).collect()
    }
    cents_m = cents.withColumn("_c_mag", V.magnitude("centroid_vec"))
    c_sim = F.greatest(
        F.lit(0.0),
        V.dot("embedding", "centroid_vec")
        / (F.col("_mag") * F.col("_c_mag")),
    )
    expr = {
        int(r["vec_id"]): (int(r["centroid_id"]), float(r["_cd"]))
        for r in (
            base_m.crossJoin(F.broadcast(cents_m))
            .withColumn("d", F.lit(1.0) - c_sim)
            .groupBy("vec_id")
            .agg(
                F.min(F.struct(F.col("d"), F.col("centroid_id"))).alias("m")
            )
            .select(
                "vec_id",
                F.col("m.centroid_id").alias("centroid_id"),
                F.col("m.d").alias("_cd"),
            )
            .collect()
        )
    }
    assert kernel == expr  # exact float equality — bit parity

    # and the full prune at the engaged cell count is self-consistent:
    # survivors ∪ pruned = corpus, no survivor has a dominating near-dup
    out = dedup.semdedup_prune(embeddings, cents)
    assert out.count() <= embeddings.count()
    assert out.where(F.col("centroid_id").isNull()).count() == 0


def test_semdedup_centroid_broadcast_parity(spark, embeddings, monkeypatch):
    """Round 12 (verdict r11 item 5): past
    SEM_CENTROID_BROADCAST_MIN_BYTES the assignment kernel ships the
    centroid matrix via SparkContext.broadcast instead of the task
    closure (the paper's ~10^5-cell regime would put a multi-ten-MB
    matrix in every task closure). The broadcast path must be
    bit-identical to the closure path — forced here by zeroing the
    threshold."""
    from toy_vector_db_spark.operators import dedup, similarity

    n_cells = dedup.SEM_KERNEL_MIN_CELLS + 16
    cents = similarity.cached_trained_centroids(embeddings, n=n_cells)
    base_m = embeddings.select("vec_id", "embedding")
    cents_rows = [
        (int(r["centroid_id"]), [float(x) for x in r["centroid_vec"]])
        for r in cents.orderBy("centroid_id").collect()
    ]

    def assign():
        return {
            int(r["vec_id"]): (int(r["centroid_id"]), float(r["_cd"]))
            for r in dedup._semdedup_assign_kernel(
                base_m, cents_rows, "vec_id", "embedding"
            ).collect()
        }

    closure = assign()
    monkeypatch.setattr(dedup, "SEM_CENTROID_BROADCAST_MIN_BYTES", 0)
    assert assign() == closure  # exact float equality — bit parity


def test_semdedup_assign_row_blocking_bit_identical(
    spark, embeddings, monkeypatch
):
    """Round 13 (verdict r12 item 5): the assignment kernel processes
    rows in blocks sized by SEM_ASSIGN_BLOCK_DOUBLES so the
    (rows × cells) distance transient stays bounded at the paper's
    ~10^5-cell regime. Per-row argmin is independent of its neighbors,
    so ANY block size must be bit-identical — forced here down to
    3-row blocks against the whole-batch result."""
    from toy_vector_db_spark.operators import dedup, similarity

    n_cells = dedup.SEM_KERNEL_MIN_CELLS + 16
    cents = similarity.cached_trained_centroids(embeddings, n=n_cells)
    base_m = embeddings.select("vec_id", "embedding")
    cents_rows = [
        (int(r["centroid_id"]), [float(x) for x in r["centroid_vec"]])
        for r in cents.orderBy("centroid_id").collect()
    ]

    def assign():
        return {
            int(r["vec_id"]): (int(r["centroid_id"]), float(r["_cd"]))
            for r in dedup._semdedup_assign_kernel(
                base_m, cents_rows, "vec_id", "embedding"
            ).collect()
        }

    whole = assign()
    # block = max(1, BLOCK_DOUBLES // k): 3·k doubles → 3-row blocks
    monkeypatch.setattr(
        dedup, "SEM_ASSIGN_BLOCK_DOUBLES", 3 * len(cents_rows)
    )
    assert assign() == whole  # exact float equality — bit parity


def test_semdedup_assign_matmul_identical_to_fold_path(
    spark, embeddings, monkeypatch
):
    """Round 14 (verdict r13 item 4): the assignment scan is now ONE
    dgemm with a near-tie parity guard instead of the per-dim fold.
    Setting the tie margin to +inf makes NO margin exceed it, routing
    EVERY row through the exact fold path — the old kernel bit for
    bit. The default (gemm-decided) output must equal that
    all-fold output exactly: same centroid choices, same emitted _cd
    doubles — the survivor-set identity the fast path promises."""
    from toy_vector_db_spark.operators import dedup, similarity

    n_cells = dedup.SEM_KERNEL_MIN_CELLS + 16
    cents = similarity.cached_trained_centroids(embeddings, n=n_cells)
    base_m = embeddings.select("vec_id", "embedding")
    cents_rows = [
        (int(r["centroid_id"]), [float(x) for x in r["centroid_vec"]])
        for r in cents.orderBy("centroid_id").collect()
    ]

    def assign():
        return {
            int(r["vec_id"]): (int(r["centroid_id"]), float(r["_cd"]))
            for r in dedup._semdedup_assign_kernel(
                base_m, cents_rows, "vec_id", "embedding"
            ).collect()
        }

    fast = assign()
    monkeypatch.setattr(dedup, "SEM_MATMUL_TIE_MARGIN", float("inf"))
    assert assign() == fast  # exact float equality — bit parity


def test_semdedup_assign_matmul_tie_break_on_duplicate_centroids(spark):
    """The near-tie guard's reason to exist: EXACTLY-equal centroids
    produce a zero fold-space margin (gemm margin ~1e-16, below the
    tolerance), so the winner must come from the exact fold's
    first-min tie-break — the lowest centroid INDEX in ascending-id
    order, never the gemm's rounding luck. Duplicated and
    1e-13-perturbed centroids both pin this against the Catalyst
    (d, centroid_id) struct-min form."""
    import numpy as np

    from pyspark.sql import functions as F

    from toy_vector_db_spark.functions import vector as V
    from toy_vector_db_spark.operators import dedup

    rng = np.random.default_rng(3)
    vecs = rng.standard_normal((40, 8))
    base = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    # centroids: 0 and 5 identical; 2 and 7 differ by ~1e-13 relative
    C = rng.standard_normal((8, 8))
    C[5] = C[0]
    C[7] = C[2] * (1.0 + 1e-13)
    cents_rows = [(i, [float(x) for x in C[i]]) for i in range(8)]
    base_m = base.select("vec_id", "embedding")
    kernel = {
        int(r["vec_id"]): (int(r["centroid_id"]), float(r["_cd"]))
        for r in dedup._semdedup_assign_kernel(
            base_m, cents_rows, "vec_id", "embedding"
        ).collect()
    }
    cents = spark.createDataFrame(
        cents_rows, "centroid_id long, centroid_vec array<double>"
    ).withColumn("_c_mag", V.magnitude("centroid_vec"))
    c_sim = F.greatest(
        F.lit(0.0),
        V.dot("embedding", "centroid_vec")
        / (V.magnitude("embedding") * F.col("_c_mag")),
    )
    expr = {
        int(r["vec_id"]): (int(r["centroid_id"]), float(r["_cd"]))
        for r in (
            base_m.crossJoin(F.broadcast(cents))
            .withColumn("d", F.lit(1.0) - c_sim)
            .groupBy("vec_id")
            .agg(F.min(F.struct(F.col("d"), F.col("centroid_id"))).alias("m"))
            .select(
                "vec_id",
                F.col("m.centroid_id").alias("centroid_id"),
                F.col("m.d").alias("_cd"),
            )
            .collect()
        )
    }
    assert kernel == expr  # exact float equality — bit parity
    # the duplicate pair is live: anything assigned to the 0/5 vector
    # must have resolved to 0 (first-min), never 5
    assert not any(c == 5 for c, _ in kernel.values())
    assert any(c == 0 for c, _ in kernel.values())


def test_semdedup_prune_kernel_parity(spark, embeddings, monkeypatch):
    """Round 11: above SEM_KERNEL_MIN_CELLS the whole prune — pairwise
    clamped cosine, EXISTS dominance, survivor emission, rounding —
    runs cell-locally in one applyInPandas kernel. Its survivor rows
    must equal the Catalyst self-join form EXACTLY (ids, cells, and
    rounded cent_dist doubles) at an engaged cell count."""
    from toy_vector_db_spark.operators import dedup, similarity

    n_cells = dedup.SEM_KERNEL_MIN_CELLS + 16
    cents = similarity.cached_trained_centroids(embeddings, n=n_cells)
    kernel = sorted(
        map(tuple, dedup.semdedup_prune(embeddings, cents).collect())
    )
    # force the Catalyst self-join path at the same cell count
    monkeypatch.setattr(dedup, "SEM_KERNEL_MIN_CELLS", 10**9)
    catalyst = sorted(
        map(tuple, dedup.semdedup_prune(embeddings, cents).collect())
    )
    assert kernel == catalyst and len(kernel) > 0
    # the prune leg must be engaged, not vacuous
    assert len(kernel) < embeddings.count()
