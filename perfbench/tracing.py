"""Tracing from outside the engine, and process-tree memory sampling.

The tracer times the benchmark's own calls into the engine's public
functions and reads Spark's status APIs; it changes no engine code.
Per traced request it records:

* spans: request -> construct / collect, plus the Catalyst phases of the
  final action (analysis + optimization + planning) as ``plan``;
* Spark counters, through one job group for the operator call and one
  for the final action: jobs, stages, tasks, executor run and CPU time,
  shuffle bytes, and the wall time during which at least one stage ran;
* py4j round trips, by wrapping the gateway client's ``send_command``;
* session-cache entries the request added (``caches.snapshot`` /
  ``added_since``).

Spans stay in memory and are written once, when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time

_DONE = {"SUCCEEDED", "FAILED"}


class Py4jCounter:
    """Counts driver->JVM round trips while ``active``."""

    def __init__(self, client) -> None:
        self.calls = 0
        self.active = False
        self._client = client
        self._send = client.send_command

        def counting_send(*args, **kwargs):
            if self.active:
                self.calls += 1
            return self._send(*args, **kwargs)

        client.send_command = counting_send

    def close(self) -> None:
        self._client.send_command = self._send


class Tracer:
    """Per-request layer record; a disabled tracer only keeps latencies."""

    def __init__(self, spark, enabled: bool, caches_mod) -> None:
        self.enabled = enabled
        self.sc = spark.sparkContext
        self.caches = caches_mod
        self.records: list[dict] = []
        self.spans: list[dict] = []
        self._toggle: dict[str, bool] = {}
        self._py4j = Py4jCounter(self.sc._gateway._gateway_client) if enabled else None
        self._cur: dict | None = None

    def close(self) -> None:
        if self._py4j is not None:
            self._py4j.close()

    # -- per request --------------------------------------------------------
    def begin(self, req: str, op: str, fn: str, always: bool = False) -> None:
        """Start a request. In a traced run every other request of an op
        type is traced (``always`` traces each one), so the same run also
        yields untraced latencies to measure the tracing overhead."""
        traced = self.enabled and always
        if self.enabled and not always:
            traced = not self._toggle.get(op, False)
            self._toggle[op] = traced
        self._cur = {"req": req, "op": op, "fn": fn, "traced": traced}
        if traced:
            self._cur["snap"] = self.caches.snapshot()
            self.sc.setJobGroup(f"{req}.construct", fn)
            self._py4j.calls = 0
            self._py4j.active = True
        self._cur["ticks"] = cpu_ticks()
        self._cur["t0"] = time.perf_counter()

    def collect_phase(self) -> None:
        """Between the operator call and the final action."""
        cur = self._cur
        cur["t1"] = time.perf_counter()
        if cur["traced"]:
            self._py4j.active = False
            self.sc.setJobGroup(f"{cur['req']}.collect", cur["fn"])
            self._py4j.active = True

    def end(self, df=None, **extra) -> dict:
        """Finish the request; ``df`` is the frame whose action ran."""
        t2 = time.perf_counter()
        cur = self._cur
        self._cur = None
        steal = steal_share(cur["ticks"], cpu_ticks())
        t1 = cur.get("t1", t2)
        rec = {
            "req": cur["req"], "op": cur["op"], "fn": cur["fn"],
            "traced": cur["traced"],
            "wall_ms": (t2 - cur["t0"]) * 1e3,
            "unstolen_ms": (t2 - cur["t0"]) * 1e3 * (1.0 - steal),
            "construct_ms": (t1 - cur["t0"]) * 1e3,
            "collect_ms": (t2 - t1) * 1e3,
            "steal": steal,
            **extra,
        }
        if cur["traced"]:
            self._py4j.active = False
            rec["py4j_calls"] = self._py4j.calls
            rec["cache_added"] = len(self.caches.added_since(cur.pop("snap")))
            rec["plan_ms"] = _plan_ms(df) if df is not None else 0.0
            c = self._job_metrics(f"{cur['req']}.construct")
            x = self._job_metrics(f"{cur['req']}.collect")
            rec["stage_wall_ms"] = _union_ms(c.pop("intervals") + x.pop("intervals"))
            rec["construct_jobs"] = c["jobs"]
            for key in c:
                rec[key] = c[key] + x[key]
            self.sc.setJobGroup("bench.untraced", "untraced")
            base = cur["t0"]
            self.spans.append({"req": cur["req"], "name": cur["fn"], "parent": None,
                               "start_s": 0.0, "end_s": t2 - base})
            self.spans.append({"req": cur["req"], "name": "construct",
                               "parent": cur["fn"], "start_s": 0.0,
                               "end_s": t1 - base})
            if df is not None:
                self.spans.append({"req": cur["req"], "name": "collect",
                                   "parent": cur["fn"], "start_s": t1 - base,
                                   "end_s": t2 - base,
                                   "plan_ms": rec["plan_ms"]})
        self.records.append(rec)
        return rec

    def _job_metrics(self, group: str) -> dict:
        out = {"jobs": 0, "stages": 0, "tasks": 0, "executor_run_ms": 0,
               "executor_cpu_ms": 0.0, "shuffle_read_bytes": 0,
               "shuffle_write_bytes": 0, "intervals": []}
        tracker = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        jobs = _await_jobs(tracker, group)
        for jid in jobs:
            info = tracker.getJobInfo(jid)
            out["jobs"] += 1
            for sid in info.stageIds if info else []:
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numCompleteTasks() + sd.numFailedTasks()
                out["executor_run_ms"] += sd.executorRunTime()
                out["executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                out["shuffle_read_bytes"] += sd.shuffleReadBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                sub, done = sd.submissionTime(), sd.completionTime()
                if sub.isDefined() and done.isDefined():
                    out["intervals"].append(
                        (sub.get().getTime(), done.get().getTime())
                    )
        return out

    def write_spans(self, path: str) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
        os.replace(tmp, path)


def _await_jobs(tracker, group: str, timeout_s: float = 5.0) -> list[int]:
    """Job ids of ``group`` once the status store has seen them finish
    (listener events are applied asynchronously after the action)."""
    deadline = time.monotonic() + timeout_s
    while True:
        jobs = sorted(tracker.getJobIdsForGroup(group))
        infos = [tracker.getJobInfo(j) for j in jobs]
        if all(i is not None and i.status in _DONE for i in infos):
            return jobs
        if time.monotonic() > deadline:
            raise TimeoutError(f"jobs of {group} did not finish in the status store")
        time.sleep(0.005)


def _plan_ms(df) -> float:
    """Catalyst analysis + optimization + planning of ``df``'s action."""
    phases = df._jdf.queryExecution().tracker().phases()
    total = 0.0
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        if opt.isDefined():
            total += opt.get().durationMs()
    return total


def _union_ms(intervals: list[tuple[int, int]]) -> float:
    """Length of the union of [start, end] intervals (ms)."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return float(total)


def cpu_ticks() -> tuple[int, int]:
    """(steal, demand) jiffies of the whole machine, from /proc/stat:
    time the hypervisor ran something else while a CPU here had work,
    and all time a CPU here had work (running or stolen)."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9])
    return steal, user + nice + system + irq + softirq + steal


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    """Share of the CPU demand between two ``cpu_ticks`` readings that
    the hypervisor gave to other machines."""
    return (end[0] - start[0]) / max(end[1] - start[1], 1)


# ---------------------------------------------------------------------------
# memory

_PAGE = os.sysconf("SC_PAGE_SIZE")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (OSError, IndexError, ValueError):
        return 0  # the process ended between listing and reading


class RssSampler:
    """Peak summed RSS of this process and its descendants (driver
    Python, the JVM, Python workers), sampled from /proc on one thread."""

    def __init__(self, period_s: float = 0.1, rescan_s: float = 1.0) -> None:
        self.peak_bytes = 0
        self._period, self._rescan = period_s, rescan_s
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="rss-sampler", daemon=True)

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def _run(self) -> None:
        root, pids, scanned = os.getpid(), [], 0.0
        while not self._stop.is_set():
            now = time.monotonic()
            if now - scanned >= self._rescan:
                pids, scanned = process_tree(root), now
            self.peak_bytes = max(self.peak_bytes, sum(_rss_bytes(p) for p in pids))
            self._stop.wait(self._period)

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
