"""Structured-Streaming ingest into the vector indexes.

The batch upserts (operators/similarity ``*_upsert``) prove the frozen-
quantizer append contract; this module drives the SAME contract through
the streaming engine: arriving vectors flow readStream → foreachBatch,
each micro-batch is encoded (and, for IVF, assigned) under the frozen
quantizer state and APPENDED as parquet into the index sink directory —
the continuous-ingest shape of a production vector pipeline (source
swaps to Kafka/queue, sink to the cell-partitioned index table,
checkpointing makes it exactly-once). One drain serves every compressed
index (IVF-PQ, SQ8, BQ2: ``_drain_codes`` over a ``FineCodec``); HNSW
has its own shard-append drain. Because per-row assignment/encoding is
deterministic and batch boundaries only partition the work, a drained
index is row-identical to the batch upsert — so search over it shares
the upsert key's DuckDB oracle (asserted by the registry oracles and in
tests).
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession

from toy_vector_db_spark import caches
from toy_vector_db_spark.operators import similarity
from toy_vector_db_spark.sources.fixtures import FIXTURE_DIR


N_STREAM_FILES = 4  # staged source files → ≥4 real micro-batches


def _stream_embeddings_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage the (read-only) embeddings table into a directory the
    streaming file source can watch (the windows._stream_input_dir
    idiom) — split into N_STREAM_FILES range-partitioned files so the
    maxFilesPerTrigger=1 drain runs MULTIPLE genuine micro-batches (a
    single-file stage would collapse the 'stream' into one batch and
    prove nothing about batch-boundary independence)."""
    tag = os.path.basename(os.path.normpath(sf_dir))
    d = os.path.join(FIXTURE_DIR, "stream_embeddings", tag)
    marker = os.path.join(d, "_STAGED")
    src = os.path.join(sf_dir, "embeddings.parquet")
    if not os.path.exists(marker) or os.path.getmtime(marker) < os.path.getmtime(src):
        if os.path.exists(d):
            shutil.rmtree(d)
        (
            spark.read.parquet(src)
            .repartitionByRange(N_STREAM_FILES, "vec_id")
            .write.mode("overwrite")
            .parquet(d)
        )
        with open(marker, "w") as fh:
            fh.write("staged")
    return d


def _drain_codes(
    codec,
    spark: SparkSession,
    sf_dir: str,
    lo: int,
    hi: int,
    state,
    cents: DataFrame | None = None,
) -> DataFrame:
    """CONTINUOUS ingest into a compressed index — the streaming twin of
    ``similarity._upsert`` for any ``similarity.FineCodec``: the arriving
    slice (lo ≤ vec_id < hi) drains readStream → foreachBatch, and each
    micro-batch runs the upsert's batch-encode step
    (``similarity._encode_batch``: encode under the frozen ``state`` and,
    for an IVF index, assign cells under the frozen ``cents``), appending
    the rows as parquet to the index sink. Per-row encode/assign makes
    the drained rows identical to the batch upsert's regardless of batch
    boundaries, so search over them shares the upsert key's DuckDB
    oracle. The sink directory and cache key come from the index tag
    (``codec.name``, ``ivf``-prefixed for a cell-keyed index). Returns
    the ingested rows read back from the sink. The stream is drained
    once per session; reruns read the written artifact — exactly how a
    long-lived ingest pipeline's consumers behave."""
    tag = codec.name if cents is None else f"ivf{codec.name}"

    def drain() -> str:
        sf_tag = os.path.basename(os.path.normpath(sf_dir))
        sink = os.path.join(
            FIXTURE_DIR, "sink_out", f"stream_{tag}", sf_tag, f"{lo}_{hi}"
        )
        if os.path.exists(sink):
            shutil.rmtree(sink)
        os.makedirs(sink, exist_ok=True)

        src_dir = _stream_embeddings_dir(spark, sf_dir)
        schema = spark.read.parquet(src_dir).schema
        arriving = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
            .where(f"vec_id >= {lo} AND vec_id < {hi}")
        )

        def _process(batch_df: DataFrame, _batch_id: int) -> None:
            if batch_df.isEmpty():
                return
            batch = batch_df.select("vec_id", "embedding")
            similarity._encode_batch(codec, batch, state, cents).write.mode(
                "append"
            ).parquet(sink)

        q = (
            arriving.writeStream.foreachBatch(_process)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return sink

    return spark.read.parquet(
        caches.memo("ingest", drain, spark, sf_dir, lo, hi, tag)
    )


def stream_ingest_codes(
    spark: SparkSession,
    sf_dir: str,
    lo: int,
    hi: int,
    cents: DataFrame,
    books: list,
) -> DataFrame:
    """IVF-PQ drain (the streaming twin of ``similarity.ivfpq_upsert``):
    cells under the frozen ``cents``, codes under the frozen ``books``;
    returns the ingested codes⋈cells rows."""
    return _drain_codes(similarity._PQ, spark, sf_dir, lo, hi, books, cents)


def stream_ingest_sq_codes(
    spark: SparkSession, sf_dir: str, lo: int, hi: int, bounds: DataFrame
) -> DataFrame:
    """SQ8 drain (the streaming twin of ``similarity.sq_upsert``): codes
    under the frozen ``bounds``; returns the ingested (vec_id, codes)."""
    return _drain_codes(similarity._SQ, spark, sf_dir, lo, hi, bounds)


def stream_ingest_bq2_codes(
    spark: SparkSession, sf_dir: str, lo: int, hi: int, bounds: DataFrame
) -> DataFrame:
    """BQ2 drain (the streaming twin of ``similarity.bq2_upsert``): codes
    under the frozen |nv|-max ``bounds``; returns the ingested
    (vec_id, codes)."""
    return _drain_codes(similarity._BQ2, spark, sf_dir, lo, hi, bounds)


def stream_ingest_hnsw(
    spark: SparkSession,
    sf_dir: str,
    lo: int,
    hi: int,
    num_partitions: int = 8,
):
    """CONTINUOUS ingest into the HNSW index (round 7): the streaming
    twin of ``hnsw_upsert``, exactly as ``stream_ingest_codes`` twins
    ``ivfpq_upsert``. The arriving slice (lo ≤ vec_id < hi) drains
    readStream → foreachBatch; each micro-batch runs the shard-append
    upsert against the CURRENT index state, carried in memory from the
    previous micro-batch (its packed leaf, so only the first micro-batch
    packs), and only the TOUCHED shard partitions of the edge table are
    rewritten (dynamic partition overwrite — the 100 TB shape: an index
    partition is rewritten only when its shard ingests), while the
    vector table appends.

    Determinism: hnsw_upsert is proven shard-equal to a from-scratch
    build of its union for BOTH its paths (append replay and interleaved
    fallback), so the drained graph is EDGE-IDENTICAL to the one-shot
    batch upsert and to a from-scratch build of the union REGARDLESS of
    the order micro-batches arrive in (asserted in
    tests/test_hnsw_lifecycle.py) — which is why search over it shares
    hnsw_upsert_search's oracle.

    The initial index over ids < ``lo`` is the batch upsert key's
    memoized one, built over the registry split's base, so ``lo`` must
    not pass the split cut. Returns (parted, edges) read back from the
    sink — the same tuple shape every HNSW search entry point takes."""
    from pyspark.sql import functions as F

    from toy_vector_db_spark import registry
    from toy_vector_db_spark.operators import hnsw as H

    def drain() -> str:
        tag = os.path.basename(os.path.normpath(sf_dir))
        sink = os.path.join(
            FIXTURE_DIR, "sink_out", "stream_hnsw", tag, f"{lo}_{hi}"
        )
        if os.path.exists(sink):
            shutil.rmtree(sink)
        pdir = os.path.join(sink, "parted")
        edir = os.path.join(sink, "edges")

        # the plan of registry.q_hnsw_upsert_search's initial frame, so
        # the same store key and the same built index
        initial = registry._split(spark, sf_dir)[0].where(
            F.col("vec_id") < lo
        )
        parted0, edges0 = H.cached_index(
            initial, f"{sf_dir}#hnsw_upsert_init", num_partitions
        )
        parted0.select("vec_id", "embedding", "part").write.partitionBy(
            "part"
        ).parquet(pdir)
        edges0.write.partitionBy("part").parquet(edir)

        src_dir = _stream_embeddings_dir(spark, sf_dir)
        schema = spark.read.parquet(src_dir).schema
        arriving = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
            .where(f"vec_id >= {lo} AND vec_id < {hi}")
        )

        # the index stays warm across micro-batches: each upsert grows
        # the packed leaf the previous one registered for its output
        # (only the first packs the initial index), and the sink is
        # written, never read back, while the stream drains
        index = [parted0, edges0]

        def _process(batch_df: DataFrame, _batch_id: int) -> None:
            if batch_df.isEmpty():
                return
            batch = batch_df.select("vec_id", "embedding")
            index[:] = H.hnsw_upsert(*index, batch, num_partitions)
            batch_p = H._with_part(batch, num_partitions, "vec_id")
            touched = [
                int(r[0]) for r in batch_p.select("part").distinct().collect()
            ]
            # rewrite ONLY the touched shard partitions of the edge table,
            # decoding only their packed rows
            packed = H.cached_packed_index(*index)
            _, edges = H._unpacked(
                packed.where(F.col("part").isin(touched)), index[0],
                "vec_id", "embedding",
            )
            (
                edges.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("part")
                .parquet(edir)
            )
            batch_p.write.mode("append").partitionBy("part").parquet(pdir)

        q = (
            arriving.writeStream.foreachBatch(_process)
            .trigger(availableNow=True)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
            # readers take the index from the sink: release the last leaf
            caches.evict("hnsw_packed", *index, "vec_id", "embedding")
        return sink

    sink = caches.memo(
        "ingest", drain, spark, sf_dir, lo, hi, "hnsw", num_partitions
    )
    return (
        spark.read.parquet(os.path.join(sink, "parted")),
        spark.read.parquet(os.path.join(sink, "edges")),
    )
