#!/usr/bin/env python
"""sf1-equivalent scale evidence for the ANN serving families (round 9,
verdict r8 item 4).

The fixtures top out at sf0.1 (1,900 base vectors after the 0.95 split);
the recall gates in tests/test_similarity.py already assert FLOORS at a
10x corpus. This script records the full evidence row the verdict asks
for — recall@10 AND wall-time per family, plus the probed/reranked
fraction — at two scales:

  * ``10x`` (default): the deterministic 19,000-vector corpus the recall
    gates use (10 Gaussian clusters, sigma=2.5, seed 42) — one order of
    magnitude above sf0.1, the "sf1" the driver never materialized. The
    scale-aware rerank budget's fraction term is ACTIVE (R = 1900).
  * ``--cap`` : a 200,000-vector corpus (same generator), past the
    ~164k-vector point where RERANK_CAP = 16384 freezes the budget —
    the constant-cost regime every 100 TB claim in SCALE.md rests on,
    measured instead of extrapolated. Graph families are skipped here
    (an EF_CONSTRUCTION=200 build over 200k rows is a build-cost study,
    not a serving-floor check; the quantizer families are the ones whose
    budget changes regime at this size).

Wall-times are end-to-end action times on the local[N] session after an
untimed warmup pass per family (the bench.py discipline: serving cost,
not cold-cache artifact construction). Floors asserted: >= 0.85 for the
uncompressed/flat paths (IVF probe, PQ/SQ rerank, HNSW), >= 0.70 for the
compressed compositions (IVF-PQ, IVF-SQ, IVF-BQ, BQ, routed HNSW).

  * ``--graphs`` : the graph families only, at 100,000 vectors with
    deployment-scaled shard/cell counts (32 shards / 32 cells) and the
    builds TIMED — the build-cost evidence the quantizer modes don't
    cover (their builds are one agg pass / a bounded k-means).

  * ``--graphs200k`` : the ROUTED graph family at 200,000 vectors with
    cells=64 (constant rows/cell vs the 100k/32 row), build TIMED, the
    cell-size skew ratio (max/mean cell rows — the tail-task driver in
    the cogroup build) recorded, and serving recall at nprobe=8 and
    nprobe=64 — the row that prices the graph family against the
    quantizer families at the same cap-engaged corpus (verdict r9
    item 7).

  * ``--semdedup`` : SemDeDup at 200,000 vectors with a CORPUS-
    PROPORTIONAL cluster count (round 11, verdict r10 item 5): the
    sf0.1 registry key runs 16 cells over 1,900 rows (~119 rows/cell);
    the paper's scale lever is growing the cluster count with the
    corpus (it uses ~10^5 clusters) so rows/cell — and hence the pair
    volume Σ|cell|² — stays density-constant. 200k × 16/1900 → 1,684
    cells. Records the measured pair volume (asserted == Σ c·(c−1)
    over the actual cell histogram), survivor count, and wall.

Usage: python scripts/scale_evidence_sf1.py
           [--cap | --graphs | --graphs200k | --semdedup]
Prints one JSON line per family and a markdown table for SCALE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from toy_vector_db_spark.operators import (  # noqa: E402
    evaluation,
    hnsw,
    knn,
    similarity,
)
from toy_vector_db_spark.session import get_spark  # noqa: E402

K = 10
N_QUERIES = 100
FLAT_FLOOR = 0.85
COMPRESSED_FLOOR = 0.70


def make_corpus(spark, n_draw: int, cut: int):
    """The recall gates' generator (tests/test_similarity.py::
    test_ann_recall_at_10x_scale): 10 Gaussian clusters, sigma=2.5,
    seed 42 — deterministic, heavy overlap so neighbors aren't trivial.
    ``n_draw`` matches the gate EXACTLY in 10x mode (n=20000, base =
    first 19000, queries = next 100) so this script's rows are
    comparable with the documented gate numbers."""
    # materialize through parquet (pyarrow buffers, no per-element Python
    # boxing): createDataFrame over 200k list-of-list rows put the DRIVER
    # JVM into GCLocker thrash — the corpus belongs on disk, like any
    # real input. Atomic write (tmp + rename) so a killed run can never
    # leave a truncated file that a later run silently reuses; the whole
    # generation (rng draws included) is skipped when the cached corpus
    # already exists.
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = f"/tmp/tvdb_scale_corpus_{n_draw}_{cut}.parquet"
    if not os.path.exists(path):
        rng = np.random.default_rng(42)
        d, kc, sigma = 64, 10, 2.5
        centers = rng.normal(0, 1, (kc, d))
        lab = rng.integers(0, kc, n_draw)
        X = (centers[lab] + rng.normal(0, sigma, (n_draw, d))).astype(
            np.float32
        )
        n_keep = cut + N_QUERIES
        flat = pa.array(X[:n_keep].reshape(-1), type=pa.float32())
        offsets = pa.array(
            np.arange(0, (n_keep + 1) * d, d, dtype=np.int32)
        )
        tbl = pa.table({
            "vec_id": pa.array(np.arange(n_keep, dtype=np.int64)),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(lab[:n_keep].astype(np.int32)),
        })
        tmp = f"{path}.tmp.{os.getpid()}"
        pq.write_table(tbl, tmp)
        os.replace(tmp, path)
    emb = spark.read.parquet(path).repartition(32).persist()
    emb.count()
    base = emb.where(F.col("vec_id") < cut)
    qs = emb.where(F.col("vec_id") >= cut).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    return base, qs, cut


def semdedup_scale(spark, base, n_base: int) -> None:
    """SemDeDup 200k evidence row (round 11, verdict r10 item 5): the
    within-cluster pair join's volume is Σ|cell|² — the quantity the
    cluster count controls. Train a corpus-proportional quantizer
    (constant rows/cell vs the sf0.1 key), MEASURE the pair volume,
    assert it equals Σ c·(c−1) over the actual cell histogram, and time
    the full prune. eps stays at the shipped SEM_EPS: the filter runs on
    the join OUTPUT, so the cost row is eps-independent."""
    from toy_vector_db_spark.functions import vector as V
    from toy_vector_db_spark.operators import dedup

    # sf0.1 density: 16 cells / 1900 rows; hold rows/cell constant
    n_cells = max(16, round(n_base * 16 / 1900))
    t0 = time.perf_counter()
    cents = similarity.cached_trained_centroids(base, n=n_cells)
    train_sec = round(time.perf_counter() - t0, 2)

    # the prune's own SHIPPED assignment path (above the kernel
    # threshold at this cell count) — for the histogram and the
    # pair-volume ground truth; re-implementing the expression here
    # would measure a different assignment than the prune uses if the
    # operator's path ever changes (review r11)
    base_m = base.select(
        "vec_id", "embedding", V.magnitude("embedding").alias("_mag")
    )
    cents_rows = [
        (int(r["centroid_id"]), [float(x) for x in r["centroid_vec"]])
        for r in cents.orderBy("centroid_id").collect()
    ]
    assert len(cents_rows) > dedup.SEM_KERNEL_MIN_CELLS, (
        "the scale row must exercise the kernel path the 200k prune uses"
    )
    assigned = dedup._semdedup_assign_kernel(
        base_m, cents_rows, "vec_id", "embedding"
    ).select("vec_id", "centroid_id")
    hist = [
        r["c"]
        for r in assigned.groupBy("centroid_id")
        .agg(F.count("*").alias("c"))
        .collect()
    ]
    expected_pairs = sum(c * (c - 1) for c in hist)
    # measured pair volume: the prune's exact self-join predicate
    e = assigned.alias("a").join(
        assigned.alias("b"),
        (F.col("a.centroid_id") == F.col("b.centroid_id"))
        & (F.col("a.vec_id") != F.col("b.vec_id")),
    )
    measured_pairs = e.count()
    assert measured_pairs == expected_pairs, (
        f"pair volume {measured_pairs} != Σ c(c-1) {expected_pairs}"
    )

    walls = []
    survivors = None
    for _ in range(3):  # first pass doubles as warmup
        t0 = time.perf_counter()
        survivors = dedup.semdedup_prune(base, cents).count()
        walls.append(round(time.perf_counter() - t0, 2))
    row = {
        "family": "semdedup_prune",
        "n_base": n_base,
        "n_cells": len(hist),
        "rows_per_cell_mean": round(n_base / len(hist), 1),
        "cell_size_skew_max_over_mean": round(
            max(hist) / (sum(hist) / len(hist)), 2
        ),
        "pair_volume": measured_pairs,
        "pair_volume_matches_sum_sq": True,
        "pairs_per_row": round(measured_pairs / n_base, 1),
        "survivors": survivors,
        "pruned": n_base - survivors,
        "train_sec": train_sec,
        "prune_sec_min": min(walls[1:]),
        "prune_sec_all": walls,
        "eps": dedup.SEM_EPS,
    }
    print(json.dumps(row), flush=True)
    spark.stop()


def lsh_skew_scale(spark) -> None:
    """Round 12 (verdict r11 item 1): the MinHash-LSH mega-bucket guard,
    measured on a skewed corpus. Takes the sf0.1 documents table and
    injects N_MEGA byte-identical docs — one (band, sig) bucket of size
    N_MEGA in EVERY band, the duplicate-heavy-shard shape that makes the
    band-bucket self-join quadratic. Records wall and pair volume with
    the cap (LSH_BUCKET_CAP) vs uncapped (bucket_cap=None), and asserts
    pair-set parity outside the mega bucket — the cap drops ONLY the
    quadratic bucket."""
    from toy_vector_db_spark.operators import dedup

    n_mega = 3_000
    mega_lo = 50_000_000
    docs = spark.read.parquet(
        "/root/testdata/sf0.1/documents.parquet"
    ).select("doc_id", "text")
    mega_text = " ".join(f"tok{i % 97}" for i in range(64))
    mega = spark.range(mega_lo, mega_lo + n_mega).select(
        F.col("id").alias("doc_id"), F.lit(mega_text).alias("text")
    )
    corpus = docs.unionByName(mega).repartition(32).persist()
    n_docs = corpus.count()

    def run(cap):
        t0 = time.perf_counter()
        rows = dedup.minhash_lsh_pairs(corpus, bucket_cap=cap).collect()
        return time.perf_counter() - t0, {
            (r.doc_a, r.doc_b) for r in rows
        }

    capped_s, capped = run(dedup.LSH_BUCKET_CAP)
    uncapped_s, uncapped = run(None)
    mega_pairs = {
        (a, b) for a, b in uncapped if a >= mega_lo or b >= mega_lo
    }
    # parity: the cap removes EXACTLY the mega bucket's quadratic pair set
    assert capped == uncapped - mega_pairs, "cap dropped non-mega pairs"
    assert len(mega_pairs) == n_mega * (n_mega - 1) // 2
    row = {
        "mode": "lsh_skew",
        "n_docs": n_docs,
        "n_mega": n_mega,
        "cap": dedup.LSH_BUCKET_CAP,
        "capped_sec": round(capped_s, 2),
        "uncapped_sec": round(uncapped_s, 2),
        "capped_pairs": len(capped),
        "uncapped_pairs": len(uncapped),
        "mega_pairs_dropped": len(mega_pairs),
        "parity_outside_bucket": True,
    }
    print(json.dumps(row), flush=True)


def build_1m_scale() -> None:
    """Round 12 (verdict r11 item 8): single-SHARD HNSW build cost at the
    million-row regime the CSR serving assumes. Pure numpy — this is a
    per-executor cost study (one shard = one task), Spark adds nothing.
    Builds ONE LocalHNSW over 1M vectors (the recall gates' generator,
    EF_CONSTRUCTION/M as shipped) in id order, reporting wall per 100k
    SEGMENT — per-insert cost vs n is the linearity evidence: with the
    reusable visited bitmap (round 11) and the hoisted-norm + prefiltered
    beam (round 12) the expected growth is the beam's O(log n) factor,
    not O(n). Emits one JSON line per segment (checkpoint — a partial
    run is still evidence) and a final row with edge count + peak RSS."""
    import resource

    import numpy as np

    from toy_vector_db_spark.operators.hnsw import (
        LocalHNSW,
        deterministic_level,
    )

    n = 1_000_000
    seg = 100_000
    rng = np.random.default_rng(42)
    d, kc, sigma = 64, 10, 2.5
    centers = rng.normal(0, 1, (kc, d))
    lab = rng.integers(0, kc, n)
    X = (centers[lab] + rng.normal(0, sigma, (n, d))).astype(np.float32)
    levels = [deterministic_level(i) for i in range(n)]
    idx = LocalHNSW(X)
    t0 = time.perf_counter()
    for s0 in range(0, n, seg):
        ts = time.perf_counter()
        for i in range(s0, min(s0 + seg, n)):
            idx.insert(i, levels[i])
        w = time.perf_counter() - ts
        print(json.dumps({
            "mode": "build1m_segment",
            "n_done": min(s0 + seg, n),
            "seg_wall_s": round(w, 1),
            "per_insert_us": round(1e6 * w / seg, 1),
            "cum_wall_s": round(time.perf_counter() - t0, 1),
        }), flush=True)
    edges = sum(
        len(v) for adj in idx.neighbors for v in adj.values()
    )
    print(json.dumps({
        "mode": "build1m_total",
        "n": n,
        "wall_s": round(time.perf_counter() - t0, 1),
        "edges": edges,
        "peak_rss_mb": round(
            resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024, 1
        ),
        "top_layer": idx.top_layer,
    }), flush=True)


def semdedup_cells(spark, base, n_base: int, n_cells: int) -> None:
    """Round 12 (verdict r11 item 5) at 10k cells; round 13 (verdict r12
    item 5) extends to ≥50k — the SemDeDup ASSIGNMENT at the paper's
    cell regime over the 200k-row corpus, recording the centroid payload
    bytes and the wall with the payload in a SparkContext.broadcast (the
    shipped path past SEM_CENTROID_BROADCAST_MIN_BYTES) vs forced into
    the task closure (the pre-round-12 path). Centroids are the first
    n_cells corpus vectors (the trainer's own init rule — k-means
    training is bounded by TRAIN_SAMPLE=4096, so a synthetic quantizer;
    assignment cost is independent of centroid provenance). Output
    parity between the two paths is asserted row-count-exact here and
    bit-exact in tests/test_dedup.py."""
    from toy_vector_db_spark.operators import dedup

    cvecs = [
        (int(r[0]), [float(x) for x in r[1]])
        for r in base.select("vec_id", "embedding")
        .where(F.col("vec_id") < n_cells)
        .collect()
    ]
    assert len(cvecs) == n_cells
    cids = np.array([c[0] for c in cvecs], dtype=np.int64)
    C = np.array([c[1] for c in cvecs], dtype=np.float64)
    payload_bytes = cids.nbytes + C.nbytes + C.shape[0] * 8  # + cmag
    base_m = base.select("vec_id", "embedding")

    def run(tag):
        t0 = time.perf_counter()
        n = dedup._semdedup_assign_kernel(
            base_m, cvecs, "vec_id", "embedding"
        ).count()
        assert n == n_base
        w = round(time.perf_counter() - t0, 2)
        # checkpoint per run (round 13: the 50k-cell runs are ~10 min
        # each — a partial study is still evidence)
        print(json.dumps({
            "mode": f"semdedup_assign_{n_cells}_cells_run",
            "path": tag, "wall_sec": w,
        }), flush=True)
        return w

    # at 10k cells the full 1-warmup + 2×2 protocol is cheap; at the
    # 50k regime each run is ~10 min, so one run per path (plus one
    # warmup) is the protocol — walls dwarf warmup noise at that scale
    reps = 2 if n_cells <= 10_000 else 1
    run("warmup")
    bcast_walls = [run("broadcast") for _ in range(reps)]
    saved = dedup.SEM_CENTROID_BROADCAST_MIN_BYTES
    try:
        dedup.SEM_CENTROID_BROADCAST_MIN_BYTES = 10**12  # force closure
        closure_walls = [run("closure") for _ in range(reps)]
    finally:
        dedup.SEM_CENTROID_BROADCAST_MIN_BYTES = saved
    print(json.dumps({
        "mode": f"semdedup_assign_{n_cells}_cells",
        "n_base": n_base,
        "n_cells": n_cells,
        "payload_mb": round(payload_bytes / 2**20, 2),
        "broadcast_engaged": payload_bytes
        >= dedup.SEM_CENTROID_BROADCAST_MIN_BYTES,
        "assign_sec_broadcast": min(bcast_walls),
        "assign_sec_closure": min(closure_walls),
    }), flush=True)
    spark.stop()


def ivfpq_upsert_decomposition(spark, sf_dir: str) -> None:
    """Round 13 (verdict r12 item 6): decompose ivfpq_upsert_search's
    bench wall into its terms at the graded SF. The key's plan is:
    frozen-quantizer artifacts (cached: trained centroids + codebooks +
    the initial slice's cell-keyed codes) + per-run batch assign +
    per-run batch encode + union + the standard knn_ivfpq serving plan
    over the upserted artifact. The bench measures the warm steady
    state, so the per-run terms are exactly assign/encode/search; this
    mode times each in isolation (warm caches, min of 3) plus the full
    key, so a drift-band regression can be attributed to a term instead
    of re-litigated from the total."""
    from toy_vector_db_spark import registry
    from toy_vector_db_spark.operators import similarity
    from toy_vector_db_spark.registry import (
        K,
        SPLIT_RATIO,
        UPSERT_RATIO,
        _split,
    )
    from toy_vector_db_spark.sources.ndjson import split_count

    base, qs = _split(spark, sf_dir)
    n = registry._emb_count(spark, sf_dir)
    cut = split_count(n, SPLIT_RATIO)
    init_cut = split_count(cut, UPSERT_RATIO)
    initial = base.where(F.col("vec_id") < init_cut)
    batch = base.where(F.col("vec_id") >= init_cut)

    def timed(fn, reps=3):
        walls = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            walls.append(round(time.perf_counter() - t0, 3))
        return walls

    # warm every cached artifact + the serving path once, untimed
    full_df = registry.queries()["ivfpq_upsert_search"]
    full_df(spark, sf_dir).collect()
    cents = similarity.cached_trained_centroids(initial)
    books = similarity.trained_pq_codebooks(initial)
    t_assign = timed(
        lambda: similarity.ivf_assign(batch, cents).count()
    )
    t_encode = timed(
        lambda: similarity.encode_codes(batch, books).count()
    )
    cc, _, _ = similarity.ivfpq_upsert(initial, batch)
    t_union = timed(lambda: cc.count())
    # isolate the serving term: search over a fully-materialized artifact
    cc_p = cc.persist()
    cc_p.count()
    t_search = timed(
        lambda: similarity.knn_ivfpq(
            base, qs, K, codes_cells=cc_p, cents=cents, books=books
        ).collect()
    )
    cc_p.unpersist()
    t_full = timed(lambda: full_df(spark, sf_dir).collect())
    print(json.dumps({
        "mode": "ivfpq_upsert_decomposition",
        "sf_dir": sf_dir,
        "assign_sec": t_assign,
        "encode_sec": t_encode,
        "union_count_sec": t_union,
        "search_only_sec": t_search,
        "full_key_sec": t_full,
        "assign_min": min(t_assign),
        "encode_min": min(t_encode),
        "search_only_min": min(t_search),
        "full_key_min": min(t_full),
    }), flush=True)
    spark.stop()


def mm_skew_scale(spark) -> None:
    """Round 12 (verdict r11 item 7): codec tail latency on a payload-
    size-SKEWED corpus, count-round-robin `_spread` vs the size-classed
    spread. The kernel is the JPEG round-trip (mm_decode_jpeg_stats's
    kernel — encode + marker-walk decode + IDCT per payload, the most
    per-byte-expensive codec here). The corpus stacks mega payloads so
    a task's bytes — not its row count — set the stage wall."""
    from pyspark.sql import functions as F

    from toy_vector_db_spark.operators import multimodal as mm

    par = spark.sparkContext.defaultParallelism
    # half as many megas as tasks, each ~400k pixels (~2 s of JPEG
    # round-trip): the count round robin places them by position —
    # birthday collisions stack ≥2 in one task with high probability,
    # doubling the stage tail; the size-classed spread places exactly
    # one per task (pinned in tests/test_mm_spread.py)
    n_mega = max(2, par // 2)
    mega_chars = 9 * 44_000
    rows = [
        (i, ("mega doc " * 44_000) if i < n_mega else "tiny doc words")
        for i in range(par * 30)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string"
    ).coalesce(1).persist()
    docs.count()

    def run(size_col):
        t0 = time.perf_counter()
        n = mm.decode_jpeg_stats(docs, size_col=size_col).count()
        assert n == par * 30
        return round(time.perf_counter() - t0, 2)

    run(None)  # warmup (workers, codec JIT-ish paths)
    count_walls = [run(None) for _ in range(3)]
    sized_walls = [run("payload") for _ in range(3)]
    print(json.dumps({
        "mode": "mm_jpeg_skew",
        "n_docs": par * 30,
        "n_mega": n_mega,
        "mega_chars": mega_chars,
        "count_spread_sec": count_walls,
        "size_spread_sec": sized_walls,
        "count_spread_min": min(count_walls),
        "size_spread_min": min(sized_walls),
    }), flush=True)
    spark.stop()


def ivf_train_decomposition(spark, sf_dir: str) -> None:
    """Round 14 (verdict r13 item 8): decompose ivf_train's bench wall
    into its terms at the graded SF — the most expensive headline key
    (4.33 graded / ~2.2-3.0 quiet in r13) has never had its own split.
    The key's plan is: bounded sample collect (ids < TRAIN_SAMPLE, one
    scan+orderBy+collect job) + the driver-side deterministic Lloyd's
    loop (bit-parity numpy folds, the oracle-shared discipline) +
    warming the serving-side caches the build key owns (assign over the
    full base + the persisted cell-partitioned base table — the bench
    build/search split charges these to the BUILD key) + the 1024-row
    posexplode emit. Times each term in isolation (warm upstream, min
    of 5) plus the full key with its owned caches evicted per rep —
    exactly what a timed bench sample measures."""
    from toy_vector_db_spark import caches, registry
    from toy_vector_db_spark.registry import _split

    base, _ = _split(spark, sf_dir)
    key_fn = registry.queries()["ivf_train"]
    # the store before an ivf_train run: restoring it evicts what the
    # run populates (bench evicts exactly these before each timed sample
    # via warmup-pass ownership)
    cold = caches.snapshot()
    key_fn(spark, sf_dir).collect()  # warm scans + JIT once, untimed

    def evict_owned():
        caches.restore(cold)

    def timed(fn, reps=5):
        walls = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn()
            walls.append(round(time.perf_counter() - t0, 3))
        return walls

    # term 1: the bounded training-sample collect (cold each rep)
    def sample():
        caches.restore(cold)
        similarity._train_sample(base, "vec_id", "embedding")

    t_sample = timed(sample)
    # term 2: the driver-side Lloyd's loop (sample warm; createDataFrame
    # of the 16-row result is part of the term — it is how the trained
    # centroids re-enter Spark)
    similarity._train_sample(base, "vec_id", "embedding")
    warm_sample = caches.snapshot()

    def kmeans():
        caches.restore(warm_sample)
        similarity.cached_trained_centroids(base)

    t_kmeans = timed(kmeans)
    # term 3: the serving-side cache warm the build key owns — assign
    # the FULL base under the trained centroids, persist+count the
    # assignment and the cell-partitioned base table (centroids warm)
    similarity.cached_trained_centroids(base)
    warm_cents = caches.snapshot()

    def cell_build():
        caches.restore(warm_cents)
        similarity.cached_cell_vectors(base)

    t_cells = timed(cell_build)
    # term 4: the emit — everything warm, posexplode of the 16×64
    # literal + collect
    t_emit = timed(lambda: key_fn(spark, sf_dir).collect())
    # the full key as a timed bench sample measures it
    def full():
        evict_owned()
        key_fn(spark, sf_dir).collect()

    t_full = timed(full)
    print(json.dumps({
        "mode": "ivf_train_decomposition",
        "sf_dir": sf_dir,
        "sample_collect_sec": t_sample,
        "kmeans_driver_sec": t_kmeans,
        "cell_cache_build_sec": t_cells,
        "emit_sec": t_emit,
        "full_key_sec": t_full,
        "sample_min": min(t_sample),
        "kmeans_min": min(t_kmeans),
        "cells_min": min(t_cells),
        "emit_min": min(t_emit),
        "full_min": min(t_full),
    }), flush=True)
    spark.stop()


def main() -> None:
    if "--ivftrain" in sys.argv:
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
        spark = get_spark("tvdb-scale-evidence")
        spark.sparkContext.setLogLevel("ERROR")
        ivf_train_decomposition(spark, "/root/testdata/sf0.1")
        return
    if "--build1m" in sys.argv:
        build_1m_scale()
        return
    if "--mmskew" in sys.argv:
        spark = get_spark("tvdb-scale-evidence")
        spark.sparkContext.setLogLevel("ERROR")
        mm_skew_scale(spark)
        return
    if "--semdedup10k" in sys.argv or "--semdedup50k" in sys.argv:
        cut, n_draw = 200_000, 200_000 + N_QUERIES
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
        spark = get_spark("tvdb-scale-evidence")
        spark.sparkContext.setLogLevel("ERROR")
        base, _qs, n_base = make_corpus(spark, n_draw, cut)
        n_cells = 50_000 if "--semdedup50k" in sys.argv else 10_000
        semdedup_cells(spark, base, n_base, n_cells)
        return
    if "--ivfpqupsert" in sys.argv:
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
        spark = get_spark("tvdb-scale-evidence")
        spark.sparkContext.setLogLevel("ERROR")
        ivfpq_upsert_decomposition(spark, "/root/testdata/sf0.1")
        return
    cap_mode = "--cap" in sys.argv
    graphs_mode = "--graphs" in sys.argv
    graphs200k_mode = "--graphs200k" in sys.argv
    semdedup_mode = "--semdedup" in sys.argv
    if "--lshskew" in sys.argv:
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
        spark = get_spark("tvdb-scale-evidence")
        spark.sparkContext.setLogLevel("ERROR")
        lsh_skew_scale(spark)
        return
    if semdedup_mode:
        cut, n_draw = 200_000, 200_000 + N_QUERIES
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
        spark = get_spark("tvdb-scale-evidence")
        spark.sparkContext.setLogLevel("ERROR")
        base, _qs, n_base = make_corpus(spark, n_draw, cut)
        semdedup_scale(spark, base, n_base)
        return
    if graphs200k_mode:
        # round 10 (verdict r9 item 7): routed-build economics at the
        # cap-engaged 200k corpus, cells=64 — the deployment lever is
        # cell count scaling with the corpus, so rows/cell stays ~3.1k
        # (the 100k/32 row's density) and per-cell build cost ~constant
        cut, n_draw = 200_000, 200_000 + N_QUERIES
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
    elif graphs_mode:
        # graph-family scale point: 100k vectors, shard/cell counts
        # scaled with the corpus (32 shards / 32 cells) exactly as a
        # cluster deployment scales them — per-shard insert work stays
        # ~constant as shards ride executors
        cut, n_draw = 100_000, 100_000 + N_QUERIES
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
    elif cap_mode:
        cut, n_draw = 200_000, 200_000 + N_QUERIES
        # 200k vectors through the quantizer pipelines needs more than
        # the 1 GB local-mode default heap (32 concurrent tasks)
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "24g")
    else:
        cut, n_draw = 19_000, 20_000  # 10x = the recall gates' corpus
    spark = get_spark("tvdb-scale-evidence")
    spark.sparkContext.setLogLevel("ERROR")
    base, qs, n_base = make_corpus(spark, n_draw, cut)

    exact = knn.knn_exact_batch(base, qs, K).persist()
    exact.count()

    def recall(df) -> float:
        return round(
            evaluation.evaluate_recall(df, exact)
            .agg(F.avg("recall"))
            .first()[0],
            3,
        )

    r_budget = similarity._rerank_budget(base, K)
    # graphs modes route over 32/64 cells (deployment-scaled), the
    # quantizer modes over the shipped N_CENTROIDS=16
    n_cells = (
        64 if graphs200k_mode else 32 if graphs_mode
        else similarity.N_CENTROIDS
    )
    probe_frac = round(similarity.N_PROBE / n_cells, 3)

    families: list[tuple[str, float, object, object]] = []

    def family(name, floor, fn, pf=None):
        families.append((name, floor, fn, pf))

    if graphs200k_mode:
        t0 = time.perf_counter()
        cells, redges, cents = hnsw.cached_routed_index(
            base, "#scale200k", 64
        )
        build = round(time.perf_counter() - t0, 2)
        # the skew that drives tail tasks in the cogroup build: per-cell
        # row counts (per-cell build cost is ~O(n log n) in cell rows,
        # so the slowest task rides the fattest k-means cell)
        sizes = [
            r["c"]
            for r in cells.groupBy("part")
            .agg(F.count("*").alias("c"))
            .collect()
        ]
        skew = round(max(sizes) / (sum(sizes) / len(sizes)), 2)
        print(json.dumps({
            "build": {
                "hnsw_routed_64cell_sec": build,
                "n_base": n_base,
                "n_cells": len(sizes),
                "cell_size_skew_max_over_mean": skew,
                "max_cell_rows": max(sizes),
            },
        }), flush=True)
        for np_ in (8, 64):
            family(
                f"hnsw_routed_nprobe{np_}",
                COMPRESSED_FLOOR if np_ == 8 else FLAT_FLOOR,
                lambda np_=np_: hnsw.knn_hnsw_routed_prebuilt(
                    cells, redges, cents, qs, K, nprobe=np_
                ),
                pf=round(np_ / 64, 3),
            )

    if graphs_mode:
        # graph families only, with TIMED builds: the quantizer families'
        # scale rows live in the default/--cap modes; what this mode adds
        # is build wall-time + serving recall for the two graph indexes
        # at 100k with deployment-scaled shard/cell counts.
        t0 = time.perf_counter()
        parted, edges = hnsw.cached_index(base, "#scale100k", 32)
        flat_build = round(time.perf_counter() - t0, 2)
        t0 = time.perf_counter()
        cells, redges, cents = hnsw.cached_routed_index(
            base, "#scale100k", 32
        )
        routed_build = round(time.perf_counter() - t0, 2)
        print(json.dumps({
            "build": {"hnsw_flat_32shard_sec": flat_build,
                      "hnsw_routed_32cell_sec": routed_build,
                      "n_base": n_base},
        }), flush=True)

        family(
            "hnsw_flat",
            FLAT_FLOOR,
            lambda: hnsw.knn_hnsw_prebuilt(parted, edges, qs, K),
        )
        family(
            "hnsw_routed",
            COMPRESSED_FLOOR,
            lambda: hnsw.knn_hnsw_routed_prebuilt(
                cells, redges, cents, qs, K
            ),
        )

    if not graphs_mode and not graphs200k_mode:
        # quantizer families (build artifacts session-cached by first
        # call). IVF probe serves from the TRAINED quantizer + the
        # persisted cell-partitioned base, exactly like the registry's
        # knn_ivf key — the bare knn_ivf(base, qs, k) default is the
        # untrained first-K stand-in and would recompute the assignment
        # per call.
        family(
            "ivf_probe",
            FLAT_FLOOR,
            lambda: similarity.knn_ivf(
                base, qs, K,
                cents=similarity.cached_trained_centroids(base),
                cell_vectors=similarity.cached_cell_vectors(base),
            ),
        )
        family(
            "pq_rerank", FLAT_FLOOR,
            lambda: similarity.knn_pq_rerank(base, qs, K),
        )
        family(
            "sq_rerank", FLAT_FLOOR,
            lambda: similarity.knn_sq_rerank(base, qs, K),
        )
        family(
            "bq_rerank",
            COMPRESSED_FLOOR,
            lambda: similarity.knn_bq_rerank(base, qs, K),
        )
        # round 10 (verdict r9 item 3): the 2-bit family's rows in the
        # SAME regimes as its 1-bit sibling — BQ2 exists precisely to
        # answer BQ's capped-regime decay (1-bit bq_rerank measured
        # 0.617 at 200k with no lever), so the cap-engaged table must
        # show whether the second bit holds the floor at frozen R
        family(
            "bq2_rerank",
            COMPRESSED_FLOOR,
            lambda: similarity.knn_bq2_rerank(base, qs, K),
        )
        family(
            "ivfpq", COMPRESSED_FLOOR,
            lambda: similarity.knn_ivfpq(base, qs, K),
        )
        family(
            "ivfsq", COMPRESSED_FLOOR,
            lambda: similarity.knn_ivfsq(base, qs, K),
        )
        family(
            "ivfbq", COMPRESSED_FLOOR,
            lambda: similarity.knn_ivfbq(base, qs, K),
        )
        family(
            "ivfbq2", COMPRESSED_FLOOR,
            lambda: similarity.knn_ivfbq2(base, qs, K),
        )
    if not cap_mode and not graphs_mode and not graphs200k_mode:
        # graph families at the 10x corpus: flat 8-shard + routed
        def _hnsw():
            parted, edges = hnsw.cached_index(base, "#scale10x", 8)
            return hnsw.knn_hnsw_prebuilt(parted, edges, qs, K)

        def _routed():
            cells, edges, cents = hnsw.cached_routed_index(base, "#scale10x")
            return hnsw.knn_hnsw_routed_prebuilt(cells, edges, cents, qs, K)

        family("hnsw_flat", FLAT_FLOOR, _hnsw)
        family("hnsw_routed", COMPRESSED_FLOOR, _routed)

    results = []
    for name, floor, fn, pf in families:
        fn().collect()  # untimed warmup: builds + plan analysis
        # round 10: MIN-OF-2 timed samples — a single sample in a long
        # multi-family session twice recorded 2-3x aged-JVM noise as a
        # family's official wall (pq_rerank 20.3 s in-script vs 7.6 s
        # clean-session); min-of-2 is the contention-robust estimator
        # the bench harness already uses
        walls = []
        df = None
        for _ in range(2):
            t0 = time.perf_counter()
            df = fn()
            df.collect()
            walls.append(time.perf_counter() - t0)
        wall = round(min(walls), 2)
        # score the last TIMED frame (same plan object) — rebuilding the
        # pipeline again via fn() costs another full Spark job
        # per family for identical values
        rec = recall(df)
        row = {
            "family": name,
            "n_base": n_base,
            "recall_at_10": rec,
            "floor": floor,
            "passes": rec >= floor,
            "serve_sec": wall,
            "rerank_budget": r_budget,
            "rerank_frac": round(r_budget / n_base, 4),
            "probe_frac": pf if pf is not None
            else probe_frac if "ivf" in name or "routed" in name
            else None,
            "cap_engaged": r_budget == similarity.RERANK_CAP,
        }
        results.append(row)
        print(json.dumps(row), flush=True)

    print("\n| family | n_base | recall@10 | floor | serve s | "
          "rerank frac | probe frac |")
    print("|---|---|---|---|---|---|---|")
    for r in results:
        pf = r["probe_frac"] if r["probe_frac"] is not None else "—"
        print(
            f"| {r['family']} | {r['n_base']} | {r['recall_at_10']}"
            f" | {r['floor']} | {r['serve_sec']} | {r['rerank_frac']}"
            f" | {pf} |"
        )
    bad = [r["family"] for r in results if not r["passes"]]
    print(f"\ncap_engaged={results[0]['cap_engaged']} "
          f"rerank_budget={r_budget} floors_failed={bad}")
    spark.stop()
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
