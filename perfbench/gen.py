"""Seeded input generator for the serving-and-ingest benchmark.

Every input a run feeds the engine comes from here, is derived from the
run's ``--seed`` alone, and is written as parquet before the timed window
opens. Vectors follow the 10-cluster, sigma=2.5, d=64 Gaussian mixture of
``tests/test_similarity.py::test_ann_recall_at_10x_scale`` (same cluster
centers); query vectors
and upsert rows are fresh draws from the same mixture, so no two requests
share a query vector.

Files (one directory per run):

* ``corpus.parquet``   vec_id, embedding                    base vectors
* ``queries.parquet``  req, query_id, query_vec             every request's queries
* ``upserts.parquet``  chain, cycle, vec_id, embedding      hnsw_ingest micro-batches
* ``tombstones.parquet`` chain, cycle, vec_id               hnsw_ingest deletes

``generate`` returns the plan: the sizes and the request schedule (which
request is a point or a batch, which requests each ingest cycle sends).
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64
CLUSTERS = 10
SIGMA = 2.5
# the mixture itself is fixed (the test's seed); --seed draws the samples,
# so every run sees the same distribution and only the draws differ
CENTERS_SEED = 42


@dataclass(frozen=True)
class Sizes:
    """Everything that shapes a workload's inputs; unused fields stay 0."""

    corpus: int  # base vectors (hnsw_ingest: the initial slice)
    batch: int = 0  # serve: queries in one batch request
    points_per_block: int = 0  # serve: point requests after each batch
    batches_per_block: int = 0  # serve: batch requests opening each block
    blocks: int = 0  # serve: blocks generated (the run stops at --seconds)
    warmup_points: int = 0  # serve: point requests sent before the window
    upsert_rows: int = 0  # ingest: rows per micro-batch
    cycles: int = 0  # ingest: upsert/delete/search cycles per chain
    tombstones: int = 0  # ingest: ids deleted per cycle
    points_per_cycle: int = 0  # ingest: point searches per cycle
    chains: int = 0  # ingest: chains generated (chain 0 is the warm-up)


def _mixture(rng: np.random.Generator, centers: np.ndarray, n: int) -> np.ndarray:
    labels = rng.integers(0, CLUSTERS, n)
    return centers[labels] + rng.normal(0.0, SIGMA, (n, DIM))


def _vec_array(m: np.ndarray) -> pa.Array:
    flat = pa.array(np.ascontiguousarray(m, dtype=np.float64).ravel())
    return pa.ListArray.from_arrays(
        pa.array(np.arange(0, m.size + 1, DIM, dtype=np.int32)), flat
    ).cast(pa.list_(pa.float64()))


def _write(path: str, columns: dict) -> None:
    """Write atomically: a reader never sees a half-written file."""
    tmp = path + ".tmp"
    pq.write_table(pa.table(columns), tmp)
    os.replace(tmp, path)


def _serve_schedule(s: Sizes) -> list[dict]:
    """Warm-up points, then blocks of batches followed by points. The order
    is the same for every seed, so runs differ only in the vectors."""
    kinds = [("point", True)] * s.warmup_points
    block = ["batch"] * s.batches_per_block + ["point"] * s.points_per_block
    kinds += [(kind, False) for _ in range(s.blocks) for kind in block]
    return [{"req": i, "kind": k, "warmup": w} for i, (k, w) in enumerate(kinds)]


def _ingest_schedule(
    rng: np.random.Generator, s: Sizes, first_new_id: int
) -> tuple[list[dict], np.ndarray, np.ndarray]:
    """Cycles of every chain, and the tombstone picks they imply.

    Each chain restarts from the initial index and upserts its own block
    of ascending ids, so no chain can reuse another's artifacts. Within a
    chain every tombstone is drawn from the ids live at that cycle: the
    initial slice plus the chain's upserts so far, minus its earlier
    tombstones."""
    cycles, tomb_rows = [], []
    next_id = first_new_id
    base_ids = np.arange(first_new_id, dtype=np.int64)
    for chain in range(s.chains):
        live = set(base_ids.tolist())
        for cycle in range(s.cycles):
            new_ids = np.arange(next_id, next_id + s.upsert_rows, dtype=np.int64)
            next_id += s.upsert_rows
            live.update(new_ids.tolist())
            picks = rng.choice(
                np.fromiter(sorted(live), dtype=np.int64), s.tombstones,
                replace=False,
            )
            for v in np.sort(picks):
                tomb_rows.append((chain, cycle, int(v)))
                live.discard(int(v))
            cycles.append({"chain": chain, "cycle": cycle})
    req = 0
    for c in cycles:
        c["point_reqs"] = list(range(req, req + s.points_per_cycle))
        req += s.points_per_cycle
    tombs = np.array(tomb_rows, dtype=np.int64).reshape(-1, 3)
    return cycles, tombs, np.arange(first_new_id, next_id, dtype=np.int64)


def generate(out_dir: str, workload: str, seed: int, s: Sizes) -> dict:
    """Write every input of one run to ``out_dir``; return the plan."""
    os.makedirs(out_dir, exist_ok=True)
    centers = np.random.default_rng(CENTERS_SEED).normal(0.0, 1.0, (CLUSTERS, DIM))
    rng = np.random.default_rng(seed)
    base = _mixture(rng, centers, s.corpus)
    _write(os.path.join(out_dir, "corpus.parquet"), {
        "vec_id": pa.array(np.arange(s.corpus, dtype=np.int64)),
        "embedding": _vec_array(base),
    })
    plan: dict = {"workload": workload}
    if workload == "hnsw_ingest":
        cycles, tombs, up_ids = _ingest_schedule(rng, s, s.corpus)
        ups = _mixture(rng, centers, len(up_ids))
        per_chain = s.cycles * s.upsert_rows
        _write(os.path.join(out_dir, "upserts.parquet"), {
            "chain": pa.array((np.arange(len(up_ids)) // per_chain).astype(np.int64)),
            "cycle": pa.array(
                (np.arange(len(up_ids)) % per_chain // s.upsert_rows).astype(np.int64)
            ),
            "vec_id": pa.array(up_ids),
            "embedding": _vec_array(ups),
        })
        _write(os.path.join(out_dir, "tombstones.parquet"), {
            "chain": pa.array(tombs[:, 0]),
            "cycle": pa.array(tombs[:, 1]),
            "vec_id": pa.array(tombs[:, 2]),
        })
        plan["cycles"] = cycles
        n_req = len(cycles) * s.points_per_cycle
        req_sizes = np.ones(n_req, dtype=np.int64)
    else:
        reqs = _serve_schedule(s)
        plan["requests"] = reqs
        req_sizes = np.array(
            [s.batch if r["kind"] == "batch" else 1 for r in reqs], dtype=np.int64
        )
    q = _mixture(rng, centers, int(req_sizes.sum()))
    _write(os.path.join(out_dir, "queries.parquet"), {
        "req": pa.array(np.repeat(np.arange(len(req_sizes), dtype=np.int64), req_sizes)),
        "query_id": pa.array(np.arange(len(q), dtype=np.int64)),
        "query_vec": _vec_array(q),
    })
    return plan


def read_vectors(path: str, id_col: str, vec_col: str) -> tuple[np.ndarray, np.ndarray]:
    """(ids, matrix) of a generated parquet file, for the oracle."""
    t = pq.read_table(path, columns=[id_col, vec_col])
    ids = t.column(id_col).to_numpy()
    flat = t.column(vec_col).combine_chunks().flatten().to_numpy()
    return ids, flat.reshape(len(ids), DIM)
