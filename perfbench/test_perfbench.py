"""Tests of the benchmark's own parts; none starts Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
from dataclasses import replace

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"[A-Za-z0-9_.-]+")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")


def _digests(d: str) -> dict[str, str]:
    return {
        f: hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
        for f in sorted(os.listdir(d))
    }


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_generator_same_seed_same_bytes(tmp_path, workload):
    sizes = run.sizes_for(workload, 2)
    sizes = replace(sizes, corpus=64)
    a, b, c = (str(tmp_path / x) for x in "abc")
    plan = gen.generate(a, workload, 7, sizes)
    gen.generate(b, workload, 7, sizes)
    gen.generate(c, workload, 8, sizes)
    assert _digests(a) == _digests(b)
    assert _digests(a)["corpus.parquet"] != _digests(c)["corpus.parquet"]
    assert not [f for f in os.listdir(a) if f.endswith(".tmp")]
    # every request gets fresh query vectors
    _, q = gen.read_vectors(os.path.join(a, "queries.parquet"), "query_id", "query_vec")
    assert len(np.unique(q, axis=0)) == len(q)
    assert plan["workload"] == workload


def test_ingest_schedule_tombstones_only_live_ids(tmp_path):
    sizes = replace(run.sizes_for("hnsw_ingest", 2), corpus=40, chains=3)
    plan = gen.generate(str(tmp_path), "hnsw_ingest", 3, sizes)
    ids, _ = gen.read_vectors(str(tmp_path / "upserts.parquet"), "vec_id", "embedding")
    assert (np.diff(ids) > 0).all() and ids[0] == sizes.corpus  # new, ascending
    import pyarrow.parquet as pq

    t = pq.read_table(str(tmp_path / "tombstones.parquet")).to_pydict()
    up = pq.read_table(str(tmp_path / "upserts.parquet"), columns=["chain", "cycle", "vec_id"]).to_pydict()
    for chain in range(sizes.chains):
        live = set(range(sizes.corpus))
        for cycle in range(sizes.cycles):
            live |= {v for ch, cy, v in zip(up["chain"], up["cycle"], up["vec_id"])
                     if ch == chain and cy == cycle}
            dead = [v for ch, cy, v in zip(t["chain"], t["cycle"], t["vec_id"])
                    if ch == chain and cy == cycle]
            assert len(dead) == sizes.tombstones and set(dead) <= live
            live -= set(dead)
    assert len(plan["cycles"]) == sizes.chains * sizes.cycles


def test_oracle_hand_checked_ties():
    q = np.array([[1.0, 0.0]])
    ids = np.array([5, 3, 7, 1, 4])
    vecs = np.array([[2.0, 0.0],   # d 0
                     [1.0, 0.0],   # d 0, ties with 5 -> id 3 first
                     [0.0, 1.0],   # d 1
                     [-1.0, 0.0],  # cos -1 clamps to 0 -> d 1, ties with 7
                     [1.0, 1.0]])  # d 1 - 1/sqrt(2)
    got_ids, got_d = oracle.exact_topk(q, ids, vecs, 5)
    assert got_ids.tolist() == [[3, 5, 4, 1, 7]]
    np.testing.assert_allclose(got_d[0], [0, 0, 1 - 2 ** -0.5, 1, 1], atol=1e-15)


def test_check_result_flags_each_invariant():
    q = np.array([[1.0, 0.0]])
    ids = np.array([1, 2, 3])
    vecs = np.array([[1.0, 0.0], [1.0, 1.0], [0.0, 1.0]])
    d = oracle.clamped_cosine(q, vecs)[0]
    good = [(9, 1, d[0]), (9, 2, d[1])]
    v = oracle.check_result(good, np.array([9]), q, ids, vecs, 2)
    assert not v.violations and v.recalls == [1.0]
    v = oracle.check_result(good[:1], np.array([9]), q, ids, vecs, 2)
    assert "1 rows" in v.violations[0] and v.recalls == [0.5]
    v = oracle.check_result([(9, 1, d[0]), (9, 2, d[1] + 1e-5)], np.array([9]), q, ids, vecs, 2)
    assert "dist" in v.violations[0]
    v = oracle.check_result([(9, 1, d[0]), (9, 4, 0.5)], np.array([9]), q, ids, vecs, 2)
    assert "not live" in v.violations[0]
    live = np.array([True, False, True])
    v = oracle.check_result(good, np.array([9]), q, ids[live], vecs[live], 2,
                            tombstoned=np.array([2]))
    assert "tombstoned" in v.violations[0]


def test_tail_rule_keeps_ten_samples_beyond():
    xs = list(range(40, 0, -1))  # 40 samples, unsorted
    value, pct = run.tail_value(xs)
    assert value == 30 and sum(x > value for x in xs) == 10
    assert pct == pytest.approx(100 * 29 / 39)
    assert run.tail_value(list(range(11))) == (0.0, 0.0)
    with pytest.raises(ValueError):
        run.tail_value(list(range(10)))


def test_metric_names_and_units_are_well_formed():
    units = {**run.END_TO_END, **run.per_layer_units()}
    assert len(units) == len(run.END_TO_END) + len(run.per_layer_units())
    for name, unit in units.items():
        assert NAME.fullmatch(name) and len(name) <= 64 and name[0].isalnum(), name
        assert UNIT.fullmatch(unit), unit
    assert len(run.per_layer_units()) <= 128


def test_benchmark_json_matches_emitted_names():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units()
    assert bench["command"] == ["python3", "perfbench/run.py"]
    assert bench["paths"] == ["perfbench"]
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])
