"""Bench-harness contract tests (round 7, verdict r6 item 1).

Round 6's official bench record was damaged two ways: the single JSON
output line outgrew the driver's 2 kB tail capture ("parsed": null), and
the one-shot build-key policy let a single noisy sample become the
round's hnsw_build number. These tests pin the fixes: the cache
snapshot/restore machinery that makes build keys re-runnable, and the
compact trailing summary line.
"""

import ast
import json
import pathlib

from toy_vector_db_spark import caches

REPO = pathlib.Path(__file__).resolve().parent.parent
PKG = REPO / "toy_vector_db_spark"


def test_no_module_level_cache_dict():
    """Every session memo lives in caches.py's one store, where bench.py
    snapshots and evicts it: a module-level dict bound to a ``*_CACHE``
    name is a memo the store does not see, so a build-key repeat would
    silently turn back into a dict-hit measurement."""
    found = []
    for py in sorted(PKG.rglob("*.py")):
        for node in ast.parse(py.read_text()).body:
            if isinstance(node, ast.Assign):
                targets, value = node.targets, node.value
            elif isinstance(node, ast.AnnAssign):
                targets, value = [node.target], node.value
            else:
                continue
            is_dict = isinstance(value, (ast.Dict, ast.DictComp)) or (
                isinstance(value, ast.Call)
                and getattr(value.func, "id", None) == "dict"
            )
            for t in targets:
                if (
                    is_dict
                    and isinstance(t, ast.Name)
                    and t.id.endswith("_CACHE")
                ):
                    found.append(f"{py.relative_to(PKG).as_posix()}:{t.id}")
    assert not found, f"module-level cache dicts outside caches.py: {found}"


def test_one_pair_kernel_owns_the_emission_loop():
    """The per-partition top-R accumulator (_TopRAcc) and the cell/label
    row mask (_row_mask) belong to ONE Arrow pair kernel
    (knn._pair_kernel); the cosine, PQ-ADC and SQ-ADC scorers plug into
    it. A second function constructing _TopRAcc or calling _row_mask is
    a re-forked copy of the emission loop. Attribution is to the
    outermost enclosing function or method, so a nested kernel closure
    counts for the function that builds it."""
    owners: dict[str, set[str]] = {"_TopRAcc": set(), "_row_mask": set()}

    def called(node):
        f = node.func
        return f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)

    for where, node in _calls_by_outer_function():
        if called(node) in owners:
            owners[called(node)].add(where)
    assert owners == {
        "_TopRAcc": {"knn.py:_pair_kernel"},
        "_row_mask": {"knn.py:_pair_kernel"},
    }, owners


def test_one_compressed_search_tail():
    """Every flat and IVF compressed-index search (PQ, SQ, BQ, BQ2) runs
    ONE pipeline over a FineCodec record: inside similarity.py the exact
    rerank (_exact_rerank) has one calling function, the shared tail
    (_codec_search), and the Arrow pair kernel (knn._pair_kernel) has
    one, the shared candidate step (_candidates). A second caller is a
    re-forked copy of the pipeline."""
    callers: dict[str, set[str]] = {"_exact_rerank": set(), "_pair_kernel": set()}
    for where, node in _calls_by_outer_function():
        f = node.func
        name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
        if where.startswith("similarity.py:") and name in callers:
            callers[name].add(where)
    assert callers == {
        "_exact_rerank": {"similarity.py:_codec_search"},
        "_pair_kernel": {"similarity.py:_candidates"},
    }, callers


def _calls_by_outer_function():
    """(file:function, call node) for every call in the package, each
    attributed to its outermost enclosing function or method (a nested
    closure counts for the function that builds it)."""
    for py in PKG.rglob("*.py"):
        tree = ast.parse(py.read_text())
        tops = []
        for node in tree.body:
            if isinstance(node, ast.ClassDef):
                tops += [
                    (f"{node.name}.{getattr(m, 'name', '')}", m)
                    for m in node.body
                ]
            else:
                tops.append((getattr(node, "name", None), node))
        for name, top in tops:
            if not isinstance(top, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for node in ast.walk(top):
                if isinstance(node, ast.Call):
                    yield f"{py.name}:{name}", node


def test_one_hnsw_search_kernel():
    """LocalHNSW.search (Algorithm 5) has exactly ONE caller outside
    the class: the per-shard loop of the packed-graph search kernel
    (hnsw._prebuilt_search). Fused, routed, filtered and tombstone
    search all feed that kernel; a second caller is a re-forked copy of
    the per-shard search loop. Calls on the ``re`` module are not graph
    searches."""
    callers = [
        where
        for where, node in _calls_by_outer_function()
        if isinstance(node.func, ast.Attribute)
        and node.func.attr == "search"
        and not where.startswith("hnsw.py:LocalHNSW.")
        and not (
            isinstance(node.func.value, ast.Name)
            and node.func.value.id == "re"
        )
    ]
    assert callers == ["hnsw.py:_prebuilt_search"], callers


def test_snapshot_restore_drops_only_new_entries():
    caches.memo("__test__", lambda: [1], "old")
    snap = caches.snapshot()
    caches.memo("__test__", lambda: [2], "new")
    dropped = caches.restore(snap)
    assert dropped == 1
    assert caches.get("__test__", "old") == [1]
    assert caches.get("__test__", "new") is None
    caches.evict("__test__", "old")


def test_added_since_and_drop_track_build_key_ownership():
    """Round 9 (verdict r8 item 1): the warmup pass records which cache
    entries each build key's run CREATED, and the timed loop evicts
    exactly those before every sample — upstream artifacts stay warm.
    added_since must report only post-snapshot entries; drop must evict
    them (idempotently) and leave everything else."""
    caches.memo("__test__", lambda: [0], "upstream")
    snap = caches.snapshot()
    caches.memo("__test__", lambda: [1], "mine")
    added = caches.added_since(snap)
    assert [k for _, k in added] == [("__test__", "mine")]
    assert caches.drop(added) == 1
    assert caches.get("__test__", "mine") is None
    assert caches.get("__test__", "upstream") == [0]
    assert caches.drop(added) == 0  # second evict is a no-op
    caches.evict("__test__", "upstream")


def test_bench_warmup_runs_every_headline_key_untimed():
    """The r8 driver record (ivfpq_upsert_search 10.39 s vs 2.67 s
    steady state) was cold-cache bleed the harness itself produced;
    bench.py must now warm every headline key before the clock starts.
    Statically pin: a warmup loop over `names` that collects each query
    and records build-key ownership BEFORE the timed loop."""
    src = (REPO / "bench.py").read_text()
    assert "owned" in src and "added_since" in src and "caches.drop" in src
    warm = src.index("owned: dict")
    timed = src.index("timings: dict")
    assert warm < timed, "warmup pass must precede the timed loop"


def test_bench_emits_trailing_summary_line():
    """bench.py must end its output with a compact summary JSON line
    (≤2 kB with totals) — statically check the source keeps the
    second-print structure and the size guard."""
    src = (REPO / "bench.py").read_text()
    assert src.count('"headline_queries_total"') >= 2, (
        "bench.py must print the full record AND a trailing summary line"
    )
    assert "SUMMARY_BUDGET = 2000" in src, "summary size guard missing"
    ast.parse(src)  # stays valid python
    # build keys must run more than once now
    assert "runs = 3" in src and "runs = 1" not in src


def test_summary_lines_carry_queries_even_past_budget():
    """Round 8 (verdict r7 item 8): the LAST parseable bench line must
    carry totals AND per-query numbers no matter how the headline set
    grows. Round 11 (verdict r10 item 6): BOTH estimators ride in the
    SAME line as "key": [median, min] pairs — the separate min summary
    of round 10 pushed the combined tail past the driver's 2 kB capture
    and the min record's head was clipped. Pinned at the current
    headline count (single line) and +10/+40/+200 growth (split)."""
    import bench

    # current set: must stay a single line (driver parses exactly one)
    fake_now = {name: 99.99 for name in bench.HEADLINE}
    fake_min = {name: 88.88 for name in bench.HEADLINE}
    lines = bench.summary_lines(fake_now, fake_min, 9999.999, 9999.999, 0.1)
    assert len(lines) == 1 and len(lines[0]) <= bench.SUMMARY_BUDGET
    parsed = json.loads(lines[0])
    assert parsed["value"] == 9999.999
    assert parsed["qfmt"] == "[median,min]"
    assert all(v == [99.99, 88.88] for v in parsed["queries"].values())
    assert set(parsed["queries"]) == set(bench.HEADLINE)

    # current + 10, + 40, and + 200 future keys: per-query pairs must
    # SURVIVE, split or not, with EVERY line within budget and the LAST
    # line carrying totals + a non-empty queries dict. +200 would break
    # a naive half-by-count split, pinning the size-based chunking.
    forced_split = False
    for extra in (10, 40, 200):
        grown = dict(fake_now)
        grown_min = dict(fake_min)
        for i in range(extra):
            grown[f"future_operator_with_long_name_{i:03d}"] = 99.99
            grown_min[f"future_operator_with_long_name_{i:03d}"] = 88.88
        lines = bench.summary_lines(grown, grown_min, 9999.999, 9999.999, 0.1)
        assert all(len(ln) <= bench.SUMMARY_BUDGET for ln in lines), (
            f"+{extra}: line over budget: {max(map(len, lines))}B"
        )
        last = json.loads(lines[-1])
        assert last["metric"] == "headline_queries_total"
        assert last["value"] == 9999.999 and last["queries"]
        union = {}
        for ln in lines:
            union.update(json.loads(ln)["queries"])
        assert set(union) == set(grown), f"+{extra}: split dropped keys"
        assert all(v == [99.99, 88.88] for v in union.values())
        forced_split |= len(lines) > 1
    assert forced_split, "no growth case exercised the split branch"


def test_bench_interleaves_sample_passes():
    """Round 10 (verdict r9 item 2): the timed samples must run as
    interleaved full sweeps (pass loop OUTSIDE the key loop) so a
    transient contention window cannot own all three samples of one key
    — the r9 driver medians for dedup_minhash_lsh (7.33 s vs 2.14 s
    steady state) and ivfpq_partitioned_search (8.95 s vs 4.07 s) were
    exactly that failure. Statically pin the loop nesting."""
    src = (REPO / "bench.py").read_text()
    pass_loop = src.index("for _pass in range(runs):")
    key_loop = src.index("for name in names:", pass_loop)
    append = src.index("samples[name].append", key_loop)
    assert pass_loop < key_loop < append


def test_bench_warns_when_build_key_owns_nothing():
    """Advisor (round 9): a build key whose warmup created no cache
    entries would have every timed sample measure a dict hit. bench.py
    must detect that, warn on stderr, and flag the key in the record."""
    src = (REPO / "bench.py").read_text()
    assert "suspect_builds" in src and "suspect_build_keys" in src
    warn = src.index("owned no cache entries")
    timed = src.index("for _pass in range(runs):")
    assert warn < timed, "ownership check must precede the timed loop"


def test_resolve_names_keys_flag_reuses_eviction_machinery():
    """Round 14 (verdict r13 item 3): `--keys a,b,c` benches exactly
    those keys through the SAME warmup/ownership/eviction machinery —
    resolve_names is the single selection point feeding main()'s loops,
    and the timed loop's build-key branch tests membership in the
    module-level BUILD_KEYS by name, so a subset containing a build key
    still evicts its owned entries before every sample."""
    import pytest

    import bench

    qmap = {n: None for n in bench.HEADLINE}
    qmap["post_window_extra"] = None
    # subset re-orders HEADLINE-first (build before consumer), then
    # registry order for non-headline keys
    names = bench.resolve_names(
        ["bench.py", "--keys", "knn_hnsw,post_window_extra,hnsw_build"],
        qmap,
    )
    assert names == ["hnsw_build", "knn_hnsw", "post_window_extra"]
    # a typo must fail loudly, not bench an empty set
    with pytest.raises(SystemExit):
        bench.resolve_names(["bench.py", "--keys", "no_such_key"], qmap)
    with pytest.raises(SystemExit):
        bench.resolve_names(["bench.py", "--keys"], qmap)
    # default and --all unchanged
    assert bench.resolve_names(["bench.py"], qmap) == [
        n for n in bench.HEADLINE if n in qmap
    ]
    assert bench.resolve_names(["bench.py", "--all"], qmap) == list(qmap)
    # the subset path and the headline path share the eviction branch:
    # main() binds build_keys to the module constant and branches on it
    # inside the (mode-agnostic) timed loop
    src = (REPO / "bench.py").read_text()
    assert "build_keys = BUILD_KEYS" in src
    assert "resolve_names(sys.argv, qmap)" in src
    assert src.count("resolve_names(sys.argv") == 1, (
        "exactly one selection point must feed the bench loops"
    )
    assert "hnsw_build" in bench.BUILD_KEYS


def test_load_gate_blocks_until_quiet_and_flags_contamination(monkeypatch):
    """Round 14 (verdict r13 item 1): bench refuses to start the timed
    work on a loaded machine — it polls /proc/loadavg (bounded) until
    la1 < LOAD_GATE_LA1, and if the deadline expires it proceeds with an
    explicit contaminated flag instead of publishing a silently noisy
    record."""
    import bench

    # quiet machine: passes instantly, no contamination
    monkeypatch.setattr(bench, "_read_la1", lambda: 0.2)
    rec = bench.wait_for_quiet_machine()
    assert rec == {
        "threshold": bench.LOAD_GATE_LA1,
        "waited_sec": 0.0,
        "la1_at_gate": 0.2,
        "contaminated": False,
    }
    # loaded machine + expired deadline: proceeds, flagged
    monkeypatch.setattr(bench, "_read_la1", lambda: 9.9)
    monkeypatch.setattr(bench, "LOAD_GATE_DEADLINE_SEC", 0.2)
    rec = bench.wait_for_quiet_machine()
    assert rec["contaminated"] is True and rec["la1_at_gate"] == 9.9
    assert rec["waited_sec"] > 0
    # unreadable loadavg: no signal is not a reason to refuse to bench
    monkeypatch.setattr(bench, "_read_la1", lambda: None)
    rec = bench.wait_for_quiet_machine()
    assert rec["contaminated"] is False and rec["la1_at_gate"] is None
    # the gate runs BEFORE the Spark session in main (ambient signal)
    src = (REPO / "bench.py").read_text()
    assert src.index("gate = wait_for_quiet_machine()") < src.index(
        "get_spark("
    )
    # and the flag reaches the parsed summary tail
    fake = {name: 99.99 for name in bench.HEADLINE}
    fake_min = {name: 88.88 for name in bench.HEADLINE}
    load = {
        "loadavg_ambient": [9.9, 9.0, 8.0],
        "busy_cpu_frac": 0.9,
        "load_gate": {"contaminated": True},
    }
    lines = bench.summary_lines(
        fake, fake_min, 9999.999, 9999.999, 0.1, load
    )
    blob = "\n".join(lines) + "\n"
    assert len(blob.encode()) <= 2048
    assert json.loads(lines[-1])["contaminated"] is True


def test_summary_fits_driver_tail_at_current_headline_count():
    """Round 11 (verdict r10 item 6): the WHOLE summary — every line
    that must survive in the driver's 2 kB tail capture — has to fit in
    2048 bytes at the current headline count, or the head gets clipped
    exactly like BENCH_r10's min record. Chunking only protects the
    LAST line; full both-estimator coverage needs the total to fit."""
    import bench

    fake = {name: 99.99 for name in bench.HEADLINE}
    fake_min = {name: 88.88 for name in bench.HEADLINE}
    lines = bench.summary_lines(fake, fake_min, 9999.999, 9999.999, 0.1)
    blob = "\n".join(lines) + "\n"
    assert len(blob.encode()) <= 2048, (
        f"summary is {len(blob)}B — outgrows the 2 kB driver tail; "
        "shorten the encoding or trim the headline set"
    )
    # and there is no separate min summary left to race the budget
    src = (REPO / "bench.py").read_text()
    assert "min_summary_lines" not in src
