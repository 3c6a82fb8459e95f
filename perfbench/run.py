"""Serving-and-ingest benchmark for the engine's public index API.

Run from the repository root::

    python3 perfbench/run.py --workload ivfpq_serve --seed 1 --seconds 10 --trace 0

Workloads (closed loop, one client thread, Spark at local[nproc]):

* ``ivfpq_serve`` a seeded interleave of point (1 query) and batch
  requests through ``similarity.knn_ivfpq`` at engine defaults;
* ``hnsw_ingest`` a chain of cycles on an 8-shard HNSW index built on an
  initial slice: ``hnsw.hnsw_upsert`` a micro-batch of new ids, tombstone
  a few live ids, point searches through ``hnsw.knn_hnsw_deleted``. Each
  cycle works on the previous cycle's output; the chain is never reset
  between cycles.

Inputs come from ``gen.py`` (seeded) and are written before the timed
window. Every result is checked against the numpy oracle in
``oracle.py``. The last stdout line is one JSON object: end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``. The run
exits non-zero if any operation fails or breaks an oracle invariant.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import time
from dataclasses import replace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import numpy as np  # noqa: E402

import gen  # noqa: E402
import oracle  # noqa: E402
import tracing  # noqa: E402

K = 10
SHARDS = 8
WORKLOADS = ("ivfpq_serve", "hnsw_ingest")
OPS = ("point", "batch", "upsert")
# the serve window runs past --seconds until it holds this many samples;
# MIN_POINTS is the least the tail rule (10 samples beyond) needs
MIN_POINTS = 11
MIN_BATCHES = 3

SERVE = gen.Sizes(corpus=4000, batch=256, points_per_block=4, batches_per_block=1,
                  warmup_points=1)
INGEST = gen.Sizes(corpus=2000, upsert_rows=32, cycles=4, tombstones=4, points_per_cycle=3)

# --- metric names: BENCHMARK.json lists exactly these --------------------
END_TO_END = {
    "setup_s": "s",
    "point_p50_ms": "ms",
    "point_tail_ms": "ms",
    "batch_p50_ms": "ms",
    "recall_at_10": "ratio",
    "peak_rss_mb": "MB",
}
SETUP_LAYERS = (
    "session.get_spark_s",
    "corpus.load_s",
    "hnsw.cached_index_s",
    "hnsw.cached_packed_index_s",
    "similarity.cached_trained_centroids_s",
    "similarity.trained_pq_codebooks_s",
    "similarity.cached_codes_cells_s",
)
CALL_LAYERS = (
    ("hnsw.knn_hnsw_deleted", ("point",)),
    ("similarity.knn_ivfpq", ("point", "batch")),
)
SPARK_COUNTERS = (
    ("spark.plan_ms", "plan_ms", "ms"),
    ("spark.jobs", "jobs", "count"),
    ("spark.construct_jobs", "construct_jobs", "count"),
    ("spark.stages", "stages", "count"),
    ("spark.tasks", "tasks", "count"),
    ("spark.stage_wall_ms", "stage_wall_ms", "ms"),
    ("spark.executor_run_ms", "executor_run_ms", "ms"),
    ("spark.executor_cpu_ms", "executor_cpu_ms", "ms"),
    ("spark.shuffle_read_bytes", "shuffle_read_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "shuffle_write_bytes", "bytes"),
    ("py4j.calls", "py4j_calls", "count"),
    ("caches.entries_added", "cache_added", "count"),
)


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name -> unit, in report order."""
    units = {name: "s" for name in SETUP_LAYERS}
    for fn, ops in CALL_LAYERS:
        for op in ops:
            units[f"{fn}.construct_ms.{op}"] = "ms"
            units[f"{fn}.collect_ms.{op}"] = "ms"
    units["hnsw.hnsw_upsert_ms"] = "ms"
    for op in OPS:
        units[f"{op}.samples"] = "count"
        for name, _, unit in SPARK_COUNTERS:
            units[f"{name}.{op}"] = unit
        units[f"split.construct_share.{op}"] = "ratio"
        units[f"split.stage_share.{op}"] = "ratio"
        units[f"split.slot_util.{op}"] = "ratio"
    for c in range(1, INGEST.cycles + 1):
        units[f"hnsw.hnsw_upsert_ms.cycle{c}"] = "ms"
        units[f"spark.stages.upsert.cycle{c}"] = "count"
    units["point.tail_pct"] = "percentile"
    units.update({f"raw.{k}": u for k, u in END_TO_END.items() if u in ("s", "ms")})
    units["caches.entries_total"] = "count"
    units["queries.repeated_frac"] = "ratio"
    units["host.steal_frac"] = "ratio"
    units["trace.overhead_frac"] = "ratio"
    return units


# --- statistics -----------------------------------------------------------
def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail_value(xs: list[float], beyond: int = 10) -> tuple[float, float]:
    """(value, percentile) of the highest percentile that still has at
    least ``beyond`` samples above it: the (beyond+1)-th largest sample,
    at percentile 100*(n-beyond-1)/(n-1). Needs n > beyond."""
    n = len(xs)
    if n <= beyond:
        raise ValueError(f"{n} samples: the tail needs more than {beyond}")
    return float(sorted(xs)[n - beyond - 1]), 100.0 * (n - beyond - 1) / (n - 1)


# --- process hygiene ------------------------------------------------------
def _prepare_env(work: str) -> None:
    """Keep every file a run writes under ``work`` and let the Python
    workers import the engine from the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    # no hsperfdata file in the machine's /tmp
    os.environ["SPARK_GRAFT_EXTRA_JAVA_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    # spark-warehouse and other relative-path side files land in the cwd
    os.chdir(work)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop_everything(spark) -> None:
    """Stop Spark, then the gateway JVM, then wait for every descendant."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    left = [p for p in tracing.process_tree(os.getpid()) if p != os.getpid()]
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while left and time.monotonic() < deadline:
        left = [p for p in left if _alive(p)]
        time.sleep(0.1)
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


# --- workloads ------------------------------------------------------------
class Run:
    """State of one benchmark run: session, inputs, tracer, results."""

    def __init__(self, args, work: str, plan: dict) -> None:
        self.args = args
        self.work = work
        self.plan = plan
        self.layers: dict[str, float] = {}
        self.failures: list[str] = []
        self.attempted = 0
        self.recalls: list[float] = []
        self.checks: list[tuple] = []  # (req, rows, chain, cycle), checked after the window

    def _timed(self, name: str, fn):
        t = time.perf_counter()
        out = fn()
        self.layers[name] = time.perf_counter() - t
        return out

    def _path(self, name: str) -> str:
        return os.path.join(self.work, "inputs", f"{name}.parquet")

    def setup(self) -> None:
        """Session, inputs, index build; ``setup_s`` spans all of it."""
        t_setup, ticks = time.perf_counter(), tracing.cpu_ticks()
        from pyspark.sql import functions as F

        from toy_vector_db_spark import caches
        from toy_vector_db_spark.operators import hnsw, similarity
        from toy_vector_db_spark.session import get_spark

        self.F, self.caches, self.hnsw, self.similarity = F, caches, hnsw, similarity
        self.spark = self._timed("session.get_spark_s", lambda: get_spark("perfbench"))
        self.spark.sparkContext.setLogLevel("ERROR")
        self.rss = tracing.RssSampler().start()
        names = ["corpus", "queries"]
        if self.args.workload == "hnsw_ingest":
            names += ["upserts", "tombstones"]

        def load():
            frames = {n: self.spark.read.parquet(self._path(n)).persist() for n in names}
            for df in frames.values():
                df.count()
            return frames

        self.frames = self._timed("corpus.load_s", load)
        base = self.frames["corpus"]
        if self.args.workload == "ivfpq_serve":
            for name, fn in (
                ("similarity.cached_trained_centroids_s", similarity.cached_trained_centroids),
                ("similarity.trained_pq_codebooks_s", similarity.trained_pq_codebooks),
                ("similarity.cached_codes_cells_s", similarity.cached_codes_cells),
            ):
                self._timed(name, lambda fn=fn: fn(base))
        else:
            self.index = self._timed(
                "hnsw.cached_index_s",
                lambda: hnsw.cached_index(base, "perfbench", SHARDS))
            self._timed("hnsw.cached_packed_index_s",
                        lambda: hnsw.cached_packed_index(*self.index))
        self.raw_setup_s = time.perf_counter() - t_setup
        self.setup_s = self.raw_setup_s * (1.0 - tracing.steal_share(ticks, tracing.cpu_ticks()))
        self.tracer = tracing.Tracer(self.spark, bool(self.args.trace), caches)

    def _queries(self, req: int):
        F = self.F
        return self.frames["queries"].where(F.col("req") == req).select(
            "query_id", "query_vec")

    def _request(self, req: int, op: str, fn: str, search, context=(None, None)) -> None:
        """One timed search request: operator call, then its action."""
        self.attempted += 1
        self.tracer.begin(f"q{req}", op, fn)
        try:
            df = search(self._queries(req))
            self.tracer.collect_phase()
            rows = df.collect()
        except Exception as e:  # an engine error is a failed operation
            self.tracer.end(None, failed=True)
            self.failures.append(f"request {req}: {e!r}")
            return
        self.tracer.end(df)
        self.checks.append((req, rows, *context))

    # -- ivfpq_serve -----------------------------------------------------------
    def serve(self) -> None:
        base = self.frames["corpus"]

        def search(q):
            return self.similarity.knn_ivfpq(base, q, K)

        reqs = self.plan["requests"]
        for r in (r for r in reqs if r["warmup"]):
            search(self._queries(r["req"])).collect()
        log("warm-up done")
        t_start = time.perf_counter()
        done = {"point": 0, "batch": 0}
        for r in (r for r in reqs if not r["warmup"]):
            if (time.perf_counter() - t_start >= self.args.seconds
                    and done["point"] >= MIN_POINTS and done["batch"] >= MIN_BATCHES):
                break
            done[r["kind"]] += 1
            self._request(r["req"], r["kind"], "similarity.knn_ivfpq", search)

    # -- hnsw_ingest -----------------------------------------------------------
    def ingest(self) -> None:
        by_chain: dict[int, list[dict]] = {}
        for c in self.plan["cycles"]:
            by_chain.setdefault(c["chain"], []).append(c)
        # warm-up, untimed: one upsert of chain 0
        self._chain([{**by_chain.pop(0)[0], "point_reqs": []}], timed=False)
        log("warm-up done")
        t_start = time.perf_counter()
        for chain in sorted(by_chain):
            if time.perf_counter() - t_start >= self.args.seconds:
                break
            # start from the packed initial index, as a continuing ingest
            # session would (each upsert evicts the packed artifact it
            # supersedes)
            self.hnsw.cached_packed_index(*self.index)
            self._chain(by_chain[chain], timed=True)

    def _chain(self, cycles: list[dict], timed: bool) -> None:
        F, hnsw = self.F, self.hnsw
        ups, tombs = self.frames["upserts"], self.frames["tombstones"]
        parted, edges = self.index
        for c in cycles:
            chain, cycle = c["chain"], c["cycle"]
            batch = ups.where((F.col("chain") == chain) & (F.col("cycle") == cycle)
                              ).select("vec_id", "embedding")
            if not timed:
                parted, edges = hnsw.hnsw_upsert(parted, edges, batch, SHARDS)
            else:
                self.attempted += 1
                self.tracer.begin(f"c{chain}.{cycle}", "upsert", "hnsw.hnsw_upsert",
                                  always=True)
                try:
                    parted, edges = hnsw.hnsw_upsert(parted, edges, batch, SHARDS)
                except Exception as e:
                    self.tracer.end(None, failed=True, cycle=cycle + 1)
                    self.failures.append(f"upsert chain {chain} cycle {cycle}: {e!r}")
                    return  # the chain cannot go on without its index
                self.tracer.end(None, cycle=cycle + 1)
            dead = tombs.where((F.col("chain") == chain) & (F.col("cycle") <= cycle)
                               ).select("vec_id")

            def search(q, parted=parted, edges=edges, dead=dead):
                return hnsw.knn_hnsw_deleted(parted, edges, dead, q, K)

            for req in c["point_reqs"]:
                if timed:
                    self._request(req, "point", "hnsw.knn_hnsw_deleted", search,
                                  (chain, cycle))
                else:
                    search(self._queries(req)).collect()

    # -- verification ----------------------------------------------------------
    def verify(self) -> None:
        """Check every collected result against the oracle."""
        import pyarrow.parquet as pq

        base_ids, base_vecs = gen.read_vectors(self._path("corpus"), "vec_id", "embedding")
        q_req = pq.read_table(self._path("queries"), columns=["req"]).column("req").to_numpy()
        q_ids, q_vecs = gen.read_vectors(self._path("queries"), "query_id", "query_vec")
        if self.args.workload == "hnsw_ingest":
            ut = pq.read_table(self._path("upserts"), columns=["chain", "cycle"])
            u_chain, u_cycle = ut.column("chain").to_numpy(), ut.column("cycle").to_numpy()
            u_ids, u_vecs = gen.read_vectors(self._path("upserts"), "vec_id", "embedding")
            tt = pq.read_table(self._path("tombstones"))
            t_chain, t_cycle, t_ids = (tt.column(c).to_numpy() for c in ("chain", "cycle", "vec_id"))
        for req, rows, chain, cycle in self.checks:
            sel = q_req == req
            live_ids, live_vecs, dead = base_ids, base_vecs, None
            if chain is not None:
                m = (u_chain == chain) & (u_cycle <= cycle)
                dead = t_ids[(t_chain == chain) & (t_cycle <= cycle)]
                all_ids = np.concatenate([base_ids, u_ids[m]])
                all_vecs = np.concatenate([base_vecs, u_vecs[m]])
                keep = ~np.isin(all_ids, dead)
                live_ids, live_vecs = all_ids[keep], all_vecs[keep]
            v = oracle.check_result(
                [(r["query_id"], r["vec_id"], r["dist"]) for r in rows], q_ids[sel], q_vecs[sel],
                live_ids, live_vecs, K, dead)
            self.recalls.extend(v.recalls)
            if v.violations:
                self.failures.append(f"request {req}: " + "; ".join(v.violations[:3]))
        sent = q_vecs[np.isin(q_req, [c[0] for c in self.checks])]
        self.repeated_frac = 1.0 - len(np.unique(sent, axis=0)) / max(len(sent), 1)

    # -- report ----------------------------------------------------------------
    def metrics(self) -> dict[str, tuple[float, str]]:
        recs = [r for r in self.tracer.records if not r.get("failed")]
        by_op = {op: [r for r in recs if r["op"] == op] for op in OPS}
        heavy = by_op["upsert" if self.args.workload == "hnsw_ingest" else "batch"]
        # gated times leave out CPU time the hypervisor gave to other
        # machines; the wall-clock figures are the raw.* layer metrics
        times = {}
        for prefix, key, setup in (("", "unstolen_ms", self.setup_s),
                                   ("raw.", "wall_ms", self.raw_setup_s)):
            points = [r[key] for r in by_op["point"]]
            times[prefix + "setup_s"] = setup
            times[prefix + "point_p50_ms"] = median(points)
            times[prefix + "point_tail_ms"], tail_pct = tail_value(points)
            times[prefix + "batch_p50_ms"] = median([r[key] for r in heavy])
        log("times: " + ", ".join(f"{k} {v:.4g}" for k, v in times.items()))
        if not self.args.trace:
            vals = {
                **times,
                "recall_at_10": float(np.mean(self.recalls)),
                "peak_rss_mb": self.rss.peak_bytes / 2**20,
            }
            return {k: (vals[k], u) for k, u in END_TO_END.items()}
        units = per_layer_units()
        vals = {name: 0.0 for name in units}
        vals.update(self.layers)
        vals.update((k, v) for k, v in times.items() if k.startswith("raw."))
        traced = {op: [r for r in rs if r["traced"]] for op, rs in by_op.items()}
        for fn, ops in CALL_LAYERS:
            for op in ops:
                rs = [r for r in traced[op] if r["fn"] == fn]
                vals[f"{fn}.construct_ms.{op}"] = median([r["construct_ms"] for r in rs])
                vals[f"{fn}.collect_ms.{op}"] = median([r["collect_ms"] for r in rs])
        ups = traced["upsert"]
        vals["hnsw.hnsw_upsert_ms"] = median([r["wall_ms"] for r in ups])
        for c in range(1, INGEST.cycles + 1):
            rs = [r for r in ups if r["cycle"] == c]
            vals[f"hnsw.hnsw_upsert_ms.cycle{c}"] = median([r["wall_ms"] for r in rs])
            vals[f"spark.stages.upsert.cycle{c}"] = median([r["stages"] for r in rs])
        slots = int(os.environ["SPARK_GRAFT_CPUS"])
        for op, rs in traced.items():
            vals[f"{op}.samples"] = len(by_op[op])
            for name, key, _ in SPARK_COUNTERS:
                vals[f"{name}.{op}"] = median([r[key] for r in rs])
            vals[f"split.construct_share.{op}"] = median(
                [r["construct_ms"] / r["wall_ms"] for r in rs])
            vals[f"split.stage_share.{op}"] = median(
                [r["stage_wall_ms"] / r["wall_ms"] for r in rs])
            vals[f"split.slot_util.{op}"] = median(
                [r["executor_run_ms"] / (slots * r["wall_ms"]) for r in rs])
        vals["point.tail_pct"] = tail_pct
        vals["caches.entries_total"] = sum(len(keys) for _, keys in self.caches.snapshot())
        vals["queries.repeated_frac"] = self.repeated_frac
        vals["host.steal_frac"] = median([r["steal"] for r in recs])
        on = median([r["wall_ms"] for r in by_op["point"] if r["traced"]])
        off = median([r["wall_ms"] for r in by_op["point"] if not r["traced"]])
        vals["trace.overhead_frac"] = on / off - 1.0 if off else 0.0
        return {k: (float(vals[k]), u) for k, u in units.items()}


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench +{time.perf_counter() - _T0:.1f}s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def sizes_for(workload: str, seconds: float) -> gen.Sizes:
    """Generate enough requests for --seconds at up to 8 requests/s."""
    if workload == "hnsw_ingest":
        per_chain = INGEST.cycles * (1 + INGEST.points_per_cycle)
        return replace(INGEST, chains=2 + math.ceil(8 * seconds / per_chain))
    per_block = SERVE.points_per_block + SERVE.batches_per_block
    return replace(SERVE, blocks=1 + math.ceil(8 * seconds / per_block))


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and removes its inputs (finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}")
    run = None
    try:
        plan = gen.generate(os.path.join(work, "inputs"), args.workload, args.seed,
                            sizes_for(args.workload, args.seconds))
        log(f"inputs written for seed {args.seed}")
        _prepare_env(work)
        run = Run(args, work, plan)
        run.setup()
        log(f"setup {run.setup_s:.1f} s: " + ", ".join(
            f"{k} {v:.2f}" for k, v in run.layers.items()))
        try:
            if args.workload == "hnsw_ingest":
                run.ingest()
            else:
                run.serve()
        finally:
            run.rss.stop()
            run.tracer.close()
        for r in run.tracer.records:
            log(f"{r['op']} {r['req']}: {r['wall_ms']:.0f} ms "
                f"(construct {r['construct_ms']:.0f} ms, steal {r['steal']:.2f})")
        run.verify()
        log("results checked")
        # a run with failures is wrong: its timings are not reported
        result = {} if run.failures else run.metrics()
        if args.trace:
            out_dir = os.path.join(HERE, ".out")
            os.makedirs(out_dir, exist_ok=True)
            run.tracer.write_spans(os.path.join(
                out_dir, f"{args.workload}-seed{args.seed}-spans.jsonl"))
    finally:
        try:
            if hasattr(run, "spark"):  # also False while run is None
                _stop_everything(run.spark)
                log("spark stopped")
        finally:
            os.chdir(ROOT)
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(os.path.dirname(work))
            except OSError:
                pass  # another run's inputs are still there
    for msg in run.failures[:20]:
        print("FAILED:", msg, file=sys.stderr)
    print(json.dumps({
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in result.items()},
    }))
    return 0 if not run.failures else 1


if __name__ == "__main__":
    sys.exit(main())
