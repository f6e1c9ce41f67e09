"""Spans around the engine's public calls, and the reducer that turns
a Spark event log plus streaming progress into per-layer counters.

The client is closed-loop (one call at a time), so every Spark job and
task that starts inside a span's [start, end] interval belongs to that
span. Each span also labels its jobs with `setJobGroup(<span>)` for
readers of the event log; attribution goes by time because streaming
micro-batches run under the stream's own job group.
"""

from __future__ import annotations

import contextlib
import datetime as _dt
import glob
import json
import os
import statistics
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")

# Span names, one per layer boundary the benchmark calls across.
SPANS = (
    "session.start",
    "sources.keel.read",
    "fuzzy.estimator.fit",
    "fuzzy.estimator.transform_wr",
    "fuzzy.estimator.transform_ac",
    "fuzzy.metrics.binary",
    "operators.text.tokens",
    "operators.text.quality_gopher",
    "operators.text.bpe_train_merges",
    "operators.dedup.exact",
    "operators.dedup_near.minhash",
    "operators.dedup_near.substring",
    "operators.similarity.ivf_sq8",
    "streaming.windows.tumbling",
    "streaming.windows.bloom_build",
)
COUNTERS = (
    ("wall_s", "s"),
    ("cpu_s", "s"),
    ("driver_s", "s"),
    ("jobs", "count"),
    ("tasks", "count"),
    ("shuffle_bytes", "bytes"),
    ("wait_s", "s"),
)
WORKLOADS = ("cv_keel", "corpus")
STREAM_SPANS = tuple(s for s in SPANS if s.startswith("streaming."))


# The JVM's JIT-compiler and garbage-collector threads, by name as /proc
# shows it (cut to 15 characters)
_JIT_GC_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "GC Thread#", "G1 ")
# (pid, tid) -> CPU ticks at the last reading, kept after the thread
# exits (the JVM stops idle compiler threads): its time stays in its
# process's total
_jit_gc_ticks: dict[tuple[int, int], int] = {}


def _stat(path: str) -> tuple[str, list[str]]:
    """The name and the fields after it of a /proc stat file."""
    with open(path) as fh:
        stat = fh.read()
    return stat[stat.index("(") + 1 : stat.rindex(")")], stat[stat.rindex(")") + 2 :].split()


def _read_jvm_threads(pid: int) -> None:
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:  # exited since the listing
        return
    for tid in tids:
        try:
            name, f = _stat(f"/proc/{pid}/task/{tid}/stat")
        except OSError:
            continue
        if name.startswith(_JIT_GC_THREADS):
            _jit_gc_ticks[(pid, int(tid))] = int(f[11]) + int(f[12])


def cpu_s() -> tuple[float, float]:
    """CPU seconds used so far by this process and every process under
    it (the Spark JVM, its Python workers, those already reaped), split
    into the engine's work and the JVM's JIT-compiler and GC threads.

    The kernel does not charge time a hypervisor steals from a virtual
    CPU to the process that was waiting, so unlike wall time these do
    not grow when other tenants take the host's cores. The JIT and GC
    threads are split off because their time lands on whichever call
    happens to be running when the compiler or the collector gets to
    work: JIT compilation goes on for several iterations after a warm-up."""
    procs: dict[int, tuple[int, int, bool]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            name, f = _stat(f"/proc/{d}/stat")
        except OSError:  # exited since the listing
            continue
        # fields after "(comm)": state, ppid, ..., utime, stime, cutime, cstime
        procs[int(d)] = (int(f[1]), sum(map(int, f[11:15])), name == "java")
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        _, t, jvm = procs.get(pid, (0, 0, False))
        ticks += t
        if jvm:
            _read_jvm_threads(pid)
        todo += children.get(pid, [])
    jit_gc = sum(_jit_gc_ticks.values())
    return (ticks - jit_gc) / _TICK, jit_gc / _TICK


def steal_s() -> float:
    """CPU seconds the hypervisor has stolen from all virtual CPUs."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK


def per_layer_names() -> list[tuple[str, str, str]]:
    """(name, unit, better) of every per-layer metric."""
    out = [(f"{s}.{c}", u, "lower") for s in SPANS for c, u in COUNTERS]
    out.append(("fuzzy.estimator.fit.cells", "count", "lower"))
    out.append(("fuzzy.estimator.transform.cells_per_row", "cells/row", "lower"))
    # fewer micro-batches is less work, not a speed-up: flag it as worse
    out += [(f"{s}.batches", "count", "higher") for s in STREAM_SPANS]
    out += [(f"{w}.persisted_after", "count", "lower") for w in WORKLOADS]
    return out


class Recorder:
    """Keeps spans in memory; written out when the run ends."""

    def __init__(self) -> None:
        self.sc = None
        self.phase = "setup"
        self.spans: list[dict] = []
        self.gauges: list[dict] = []
        self.progress: StreamProgress | None = None

    @contextlib.contextmanager
    def span(self, name: str):
        if self.sc is not None:
            self.sc.setJobGroup(name, name)
        rec = {"name": name, "phase": self.phase, "t0": time.time()}
        c0 = cpu_s()[0]
        p0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["wall"] = time.perf_counter() - p0
            rec["cpu"] = cpu_s()[0] - c0
            rec["t1"] = time.time()
            self.spans.append(rec)
            if self.progress is not None:
                self.progress.settle()

    def gauge(self, name: str, value: float) -> None:
        self.gauges.append({"name": name, "phase": self.phase, "value": value})


def _utc_seconds(ts: str) -> float:
    d = _dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ")
    return d.replace(tzinfo=_dt.timezone.utc).timestamp()


def attach_progress(spark, rec: Recorder) -> None:
    """Attach a StreamingQueryListener that records every micro-batch."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            rec.progress.started(str(event.id), _utc_seconds(event.timestamp))

        def onQueryProgress(self, event):
            p = event.progress
            rec.progress.batch(str(p.id), p.batchId, p.durationMs.get("triggerExecution", 0), p.numInputRows)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            rec.progress.terminated(str(event.id))

    rec.progress = StreamProgress()
    spark.streams.addListener(_Listener())


class StreamProgress:
    """Listener events arrive on the py4j callback thread."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.queries: dict[str, dict] = {}
        self.done: set[str] = set()

    def started(self, qid: str, t: float) -> None:
        with self._lock:
            self.queries.setdefault(qid, {"t": t, "batches": []})["t"] = t

    def batch(self, qid: str, batch_id: int, trigger_ms: int, rows: int) -> None:
        with self._lock:
            q = self.queries.setdefault(qid, {"t": None, "batches": []})
            q["batches"].append((batch_id, trigger_ms, rows))

    def terminated(self, qid: str) -> None:
        with self._lock:
            self.done.add(qid)

    def settle(self, timeout: float = 10.0) -> None:
        """Wait until every started query's events have arrived."""
        end = time.monotonic() + timeout
        while time.monotonic() < end:
            with self._lock:
                if set(self.queries) <= self.done:
                    return
            time.sleep(0.02)


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def _cell_accumulators(plan: dict, out: set[int], parent: dict | None = None, inside: bool = False) -> None:
    """Accumulator of the cell-explosion row count in one plan tree:
    the output rows of the Filter right above the outermost Generate
    (the build path filters zero-membership labels there), or of that
    Generate itself (the scoring path keeps every candidate)."""
    is_gen = plan.get("nodeName") == "Generate"
    if is_gen and not inside:
        node = parent if parent is not None and parent.get("nodeName") == "Filter" else plan
        for m in node.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(int(m["accumulatorId"]))
    for child in plan.get("children", []):
        _cell_accumulators(child, out, plan, inside or is_gen)


def read_event_log(log_dir: str) -> tuple[list[dict], list[dict], set[int]]:
    jobs: dict[int, dict] = {}
    tasks: list[dict] = []
    cell_accs: set[int] = set()
    # Spark 4 writes a directory per application holding numbered
    # event files (plus an empty status marker)
    for path in sorted(glob.glob(f"{log_dir}/*/events_*")):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]] = {"submit": ev["Submission Time"], "end": None}
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    ti = ev["Task Info"]
                    tm = ev.get("Task Metrics") or {}
                    dur = ti["Finish Time"] - ti["Launch Time"]
                    got = ti.get("Getting Result Time", 0)
                    fetching = ti["Finish Time"] - got if got else 0
                    delay = max(
                        0,
                        dur
                        - tm.get("Executor Run Time", 0)
                        - tm.get("Executor Deserialize Time", 0)
                        - tm.get("Result Serialization Time", 0)
                        - fetching,
                    )
                    shuffle_read = tm.get("Shuffle Read Metrics") or {}
                    shuffle_write = tm.get("Shuffle Write Metrics") or {}
                    tasks.append(
                        {
                            "launch": ti["Launch Time"],
                            "wait_ms": delay + shuffle_read.get("Fetch Wait Time", 0),
                            "shuffle_bytes": shuffle_write.get("Shuffle Bytes Written", 0),
                            "accums": {
                                int(a["ID"]): int(a["Update"])
                                for a in ti.get("Accumulables", [])
                                if "Update" in a and str(a["Update"]).lstrip("-").isdigit()
                            },
                        }
                    )
                elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                    _cell_accumulators(ev["sparkPlanInfo"], cell_accs)
    return list(jobs.values()), tasks, cell_accs


def _span_counters(s: dict, jobs, tasks, cell_accs) -> dict:
    lo, hi = s["t0"] * 1000.0 - 1.0, s["t1"] * 1000.0 + 1.0
    mine_jobs = [j for j in jobs if lo <= j["submit"] <= hi]
    mine_tasks = [t for t in tasks if lo <= t["launch"] <= hi]
    busy = _covered(
        [(max(j["submit"], lo), min(j["end"] or hi, hi)) for j in mine_jobs]
    ) / 1000.0
    return {
        "wall_s": s["wall"],
        "cpu_s": s["cpu"],
        "driver_s": max(0.0, s["wall"] - busy),
        "jobs": len(mine_jobs),
        "tasks": len(mine_tasks),
        "shuffle_bytes": sum(t["shuffle_bytes"] for t in mine_tasks),
        "wait_s": sum(t["wait_ms"] for t in mine_tasks) / 1000.0,
        "cells": sum(v for t in mine_tasks for k, v in t["accums"].items() if k in cell_accs),
    }


def reduce(rec: Recorder, log_dir: str) -> tuple[dict, dict]:
    """Per-layer metrics (medians over the measured calls of each span)
    and the side detail: every span instance with its counters."""
    jobs, tasks, cell_accs = read_event_log(log_dir)
    measured = [s for s in rec.spans if s["phase"] == "measure" or s["name"] == "session.start"]
    detail: dict[str, list[dict]] = {}
    for s in measured:
        c = _span_counters(s, jobs, tasks, cell_accs)
        if s["name"] in STREAM_SPANS and rec.progress is not None:
            qs = [
                q for q in rec.progress.queries.values()
                if q["t"] is not None and s["t0"] - 0.001 <= q["t"] <= s["t1"] + 0.001
            ]
            c["batches"] = sum(len(q["batches"]) for q in qs)
            c["trigger_ms"] = [b[1] for q in qs for b in q["batches"]]
        if "rows" in s:
            c["rows"] = s["rows"]
        detail.setdefault(s["name"], []).append(c)

    def med(name: str, key: str) -> float:
        vals = [c[key] for c in detail.get(name, []) if key in c]
        return float(statistics.median(vals)) if vals else 0.0

    metrics: dict[str, float] = {}
    for s in SPANS:
        for c, _ in COUNTERS:
            metrics[f"{s}.{c}"] = med(s, c)
    metrics["fuzzy.estimator.fit.cells"] = med("fuzzy.estimator.fit", "cells")
    per_row = [
        c["cells"] / c["rows"]
        for s in ("fuzzy.estimator.transform_wr", "fuzzy.estimator.transform_ac")
        for c in detail.get(s, [])
        if c.get("rows")
    ]
    metrics["fuzzy.estimator.transform.cells_per_row"] = (
        float(statistics.median(per_row)) if per_row else 0.0
    )
    for s in STREAM_SPANS:
        metrics[f"{s}.batches"] = med(s, "batches")
    for w in WORKLOADS:
        vals = [g["value"] for g in rec.gauges if g["name"] == f"{w}.persisted_after" and g["phase"] == "measure"]
        metrics[f"{w}.persisted_after"] = float(statistics.median(vals)) if vals else 0.0
    return metrics, detail
