"""Independent exact top-k oracle and the result checks built on it.

Plain numpy over the generated inputs; it imports nothing from the
engine, so an engine bug cannot pass by agreeing with itself. Distance is
the engine's clamped cosine ``1 - max(cos, 0)``; ties break by id.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

DIST_TOL = 1e-6


def clamped_cosine(queries: np.ndarray, vecs: np.ndarray) -> np.ndarray:
    """(nq, n) matrix of ``1 - max(cos, 0)`` in float64."""
    qn = np.sqrt(np.einsum("ij,ij->i", queries, queries))
    vn = np.sqrt(np.einsum("ij,ij->i", vecs, vecs))
    cos = (queries @ vecs.T) / np.outer(qn, vn)
    return 1.0 - np.maximum(cos, 0.0)


def exact_topk(
    queries: np.ndarray, ids: np.ndarray, vecs: np.ndarray, k: int
) -> tuple[np.ndarray, np.ndarray]:
    """Per query, the k smallest distances, ties by id: (ids, dists)."""
    return _topk(clamped_cosine(queries, vecs), ids, k)


def _topk(d: np.ndarray, ids: np.ndarray, k: int) -> tuple[np.ndarray, np.ndarray]:
    out_ids = np.empty((len(d), k), dtype=np.int64)
    out_d = np.empty((len(d), k))
    for i, row in enumerate(d):
        order = np.lexsort((ids, row))[:k]
        out_ids[i], out_d[i] = ids[order], row[order]
    return out_ids, out_d


@dataclass
class Verdict:
    """Checks of one operation's result against the oracle."""

    recalls: list[float] = field(default_factory=list)
    violations: list[str] = field(default_factory=list)


def check_result(
    rows: list[tuple[int, int, float]],
    qids: np.ndarray,
    qvecs: np.ndarray,
    live_ids: np.ndarray,
    live_vecs: np.ndarray,
    k: int,
    tombstoned: np.ndarray | None = None,
) -> Verdict:
    """Check (query_id, vec_id, dist) rows for the queries ``qids``.

    Hard invariants: exactly k rows per query, no id repeated, every id
    live (which also excludes tombstoned ids), every distance within
    DIST_TOL of the oracle's distance for that id. Recall@k is the share
    of the oracle's top-k ids the result contains."""
    v = Verdict()
    by_q: dict[int, list[tuple[int, float]]] = {int(q): [] for q in qids}
    for q, vid, d in rows:
        if int(q) not in by_q:
            v.violations.append(f"unknown query id {q}")
            continue
        by_q[int(q)].append((int(vid), float(d)))
    pos = {int(i): j for j, i in enumerate(live_ids)}
    dead = set() if tombstoned is None else {int(t) for t in tombstoned}
    dists = clamped_cosine(qvecs, live_vecs)
    want_ids, _ = _topk(dists, live_ids, k)
    for qi, q in enumerate(qids):
        got = by_q[int(q)]
        if len(got) != k:
            v.violations.append(f"query {q}: {len(got)} rows, want {k}")
        if len({g for g, _ in got}) != len(got):
            v.violations.append(f"query {q}: repeated id")
        for vid, d in got:
            if vid in dead:
                v.violations.append(f"query {q}: tombstoned id {vid}")
            elif vid not in pos:
                v.violations.append(f"query {q}: id {vid} not live")
            elif abs(d - dists[qi, pos[vid]]) > DIST_TOL:
                v.violations.append(
                    f"query {q}: id {vid} dist {d!r} != {dists[qi, pos[vid]]!r}"
                )
        v.recalls.append(
            len({g for g, _ in got} & set(want_ids[qi].tolist())) / k
        )
    return v
