"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload cv_keel --seed 1 --seconds 5 --trace 0

Runs from the root of a source checkout and builds nothing: the engine
is the `chi_frbcs_bigdatacs_spark` package next to this directory.
Every file it writes stays under `.perfbench/` in the checkout: the
generated inputs, Spark's scratch and event-log directories (removed
at exit) and the side artifacts in `.perfbench/results/`. The last
line of standard output is the result JSON; a readable summary goes to
standard error. See perfbench/README.md for the metrics.
"""

from __future__ import annotations

import argparse
import concurrent.futures
import gc
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

import spans as tr

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PREP_REPS = 3
RETAINED_READS = 6

SAMPLED = ("iteration_s", "iteration_cpu_s", "jit_gc_cpu_s", "steal_s")
END_TO_END = (
    ("iteration_cpu_s", "s"),
    ("setup_s", "s"),
    ("retained_mb", "MB"),
)


def _sandbox(work: str, trace: bool) -> None:
    """Point every scratch directory of Python, the JVM and Spark into
    `work`, before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["TZ"] = "UTC"
    # Python workers import the engine whatever their working directory
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    time.tzset()
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # Spark keeps the status of past jobs, stages and SQL executions
        # on the driver's heap, 1,000 of each by default, and trims them
        # only once past that. Kept short, that history reaches its
        # ceiling during the warm-up and stays there, so `retained_mb`
        # does not depend on how many iterations a run got through.
        "spark.ui.retainedJobs": "100",
        "spark.ui.retainedStages": "100",
        "spark.sql.ui.retainedExecutions": "50",
    }
    if trace:
        os.makedirs(os.path.join(work, "events"))
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": os.path.join(work, "events"),
                "spark.eventLog.compress": "false",
            }
        )
    args = [f"--driver-java-options=-Djava.io.tmpdir={tmp}"]
    args += [f"--conf={k}={v}" for k, v in conf.items()]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(map(shlex.quote, args)) + " pyspark-shell"


def _collect_garbage(spark) -> None:
    """Full collections in the driver JVM and in this process, so that
    each iteration starts from the same heap state."""
    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()


def _retained_mb(spark) -> float:
    """Memory the engine still holds at the end of the run: the driver
    JVM's live heap, its old generation after a full collection (cached
    blocks, status and plan bookkeeping). Unlike a peak RSS, it does not
    depend on when the collector last ran."""
    jvm = spark.sparkContext._jvm
    pools = [
        pool
        for pool in jvm.java.lang.management.ManagementFactory.getMemoryPoolMXBeans()
        if "Old Gen" in pool.getName()
    ]
    heap = []
    # Spark drops the broadcast relations of finished plans on its own
    # threads, after the collection that finds them unreachable: on a
    # cv_keel run, reads up to 1.5 s after an iteration sometimes still
    # held a 64 MB long[] that was gone 3 s after it. So collect and
    # read a few times, half a second apart, and keep the smallest read.
    for _ in range(RETAINED_READS):
        _collect_garbage(spark)
        heap.append(sum(pool.getCollectionUsage().getUsed() for pool in pools))
        time.sleep(0.5)
    return min(heap) / float(1 << 20)


def _persisted(spark) -> set[int]:
    """IDs of the RDDs the session holds persisted."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _stop(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Run:
    def __init__(self, args, work: str) -> None:
        import check

        self.args = args
        self.work = work
        self.check = check
        self.rec = tr.Recorder()
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []
        self.inputs: dict[str, dict] = {}

    def fail(self, what: str) -> None:
        self.failed += 1
        self.notes.append(what)
        print(f"perfbench: FAILED {what}", file=sys.stderr)

    def iteration(self, spark, wl, inp, step) -> tuple[dict | None, dict]:
        """One call of `step` (an iteration or the warm-up); returns its
        outputs and its samples."""
        rec = self.rec
        first = len(rec.spans)
        persisted = _persisted(spark)
        _collect_garbage(spark)
        (c0, j0), s0 = tr.cpu_s(), tr.steal_s()
        t0 = time.perf_counter()
        try:
            outs = step(spark, inp, rec)
        except Exception:  # a failed call is counted, the run goes on
            traceback.print_exc()
            outs = None
        wall = time.perf_counter() - t0
        c1, j1 = tr.cpu_s()
        sample = {
            "iteration_s": wall,
            "iteration_cpu_s": c1 - c0,
            "jit_gc_cpu_s": j1 - j0,
            "steal_s": tr.steal_s() - s0,
        }
        spans = rec.spans[first:]
        self.attempted += len(spans)
        if outs is None:
            self.fail(f"{wl.name}: {spans[-1]['name'] if spans else 'iteration'} raised")
        rec.gauge(f"{wl.name}.persisted_after", len(_persisted(spark) - persisted))
        return outs, sample

    def verify(self, wl, ref, outs: dict | None) -> None:
        for problem in ref.problems(outs or {}):
            self.fail(f"{wl.name}/{problem}")

    def setup(self, spark, name: str, reps: int, cold: bool = False):
        """Inputs (made `reps` times, the last set kept), the oracle's
        answers, staging and the workload's warm-ups (none if `cold`),
        whose outputs are checked once the oracle is done. Returns the
        workload, its inputs, the reference outputs and the set-up
        seconds without the session start."""
        import inputs as gen
        import workloads

        wl = workloads.WORKLOADS[name](self.args.seed)
        made = []
        for r in range(reps):
            t0 = time.perf_counter()
            inp = gen.generate(self.args.seed, name, os.path.join(self.work, "in", f"{name}-{r}"))
            made.append(time.perf_counter() - t0)
            if r + 1 < reps:
                shutil.rmtree(inp.sf_dir)
        # the oracle runs in DuckDB beside the staging and warm-up, which
        # keep Spark busy but leave cores free
        with concurrent.futures.ThreadPoolExecutor(1) as pool:
            t0 = time.perf_counter()
            answers = pool.submit(self._oracle, wl, inp)
            self.rec.phase = "setup"
            wl.prepare(spark, inp, self.rec)
            staged = time.perf_counter() - t0
            self.rec.phase = "warmup"
            warm = [
                self.iteration(spark, wl, inp, wl.warm_up)[0]
                for _ in range(0 if cold else wl.warm_ups)
            ]
            warmed = time.perf_counter() - t0 - staged
            want, oracle = answers.result()
            ready = time.perf_counter() - t0
        self.inputs[name] = inp.summary()
        ref = self.check.Reference(want)
        for outs in warm:
            self.verify(wl, ref, outs)
        print(
            f"perfbench: {name} set-up: inputs {statistics.median(made):.2f} s"
            f" (median of {reps}); staging {staged:.2f} s, warm-up"
            f" {warmed:.2f} s, oracle beside them {oracle:.2f} s; in all {ready:.2f} s",
            file=sys.stderr,
        )
        return wl, inp, ref, statistics.median(made) + ready

    def _oracle(self, wl, inp) -> tuple[dict, float]:
        t0 = time.perf_counter()
        con = self.check.duck(inp)
        try:
            return wl.expected(con, inp), time.perf_counter() - t0
        finally:
            con.close()

    def measure(self, spark, wl, inp, ref, seconds: float) -> dict:
        """Closed loop of whole iterations for `seconds`, at least one."""
        self.rec.phase = "measure"
        samples: dict[str, list[float]] = {k: [] for k in SAMPLED}
        start = time.perf_counter()
        while True:
            outs, sample = self.iteration(spark, wl, inp, wl.iterate)
            for k in SAMPLED:
                samples[k].append(sample[k])
            self.verify(wl, ref, outs)
            if time.perf_counter() - start >= seconds:
                return samples

    def main(self) -> dict:
        args = self.args
        _sandbox(self.work, bool(args.trace))
        sys.path.insert(0, ROOT)
        from chi_frbcs_bigdatacs_spark.session import get_spark

        rec = self.rec
        t0 = time.perf_counter()
        with rec.span("session.start"):
            spark = get_spark(
                app_name="chi-frbcs-perfbench",
                master=f"local[{len(os.sched_getaffinity(0))}]",
            )
            spark.sparkContext.setLogLevel("ERROR")
            rec.sc = spark.sparkContext
            rec.sc.setJobGroup("session.start", "session.start")
            spark.range(1).count()
        session_s = time.perf_counter() - t0
        print(f"perfbench: session start {session_s:.2f} s", file=sys.stderr)
        try:
            if args.trace:
                tr.attach_progress(spark, rec)
            wl, inp, ref, setup_s = self.setup(spark, args.workload, PREP_REPS)
            samples = self.measure(spark, wl, inp, ref, args.seconds)
            if args.trace:
                # one cold iteration of every other workload, so that the
                # traced run covers every span
                for other in tr.WORKLOADS:
                    if other != args.workload:
                        owl, oinp, oref, _ = self.setup(spark, other, 1, cold=True)
                        self.measure(spark, owl, oinp, oref, 0.0)
            retained_mb = _retained_mb(spark)
        finally:
            _stop(spark)

        e2e = {k: statistics.median(v) for k, v in samples.items()}
        e2e["setup_s"] = session_s + setup_s
        e2e["retained_mb"] = retained_mb
        side = {
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "inputs": self.inputs,
            "end_to_end": e2e,
            "samples": samples,
            "failures": self.notes,
            "span_wall_s": _span_medians(rec.spans, "measure", "wall"),
            "span_cpu_s": _span_medians(rec.spans, "measure", "cpu"),
            "warm_up_span_wall_s": _span_medians(rec.spans, "warmup", "wall"),
        }
        if args.trace:
            metrics, detail = tr.reduce(rec, os.path.join(self.work, "events"))
            side["per_layer_detail"] = detail
            side["tracing_overhead"] = _overhead(args.workload, e2e)
            units = {n: u for n, u, _ in tr.per_layer_names()}
            out = {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}
        else:
            units = dict(END_TO_END)
            out = {k: {"value": e2e[k], "unit": units[k]} for k in units}
        _save(side)
        for k, m in out.items():
            print(f"  {k:<52} {m['value']:>14.4f} {m['unit']}", file=sys.stderr)
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": out,
        }


def _span_medians(spans: list[dict], phase: str, key: str) -> dict:
    """Median `key` seconds and call count of every span of `phase`."""
    vals: dict[str, list[float]] = {}
    for s in spans:
        if s["phase"] == phase:
            vals.setdefault(s["name"], []).append(s[key])
    return {k: [statistics.median(v), len(v)] for k, v in vals.items()}


def _results_dir() -> str:
    d = os.path.join(ROOT, ".perfbench", "results")
    os.makedirs(d, exist_ok=True)
    return d


def _save(side: dict) -> None:
    tag = "-trace" if side["trace"] else ""
    path = os.path.join(_results_dir(), f"{side['workload']}-seed{side['seed']}{tag}.json")
    with open(path, "w") as fh:
        json.dump(side, fh, indent=1)


def _overhead(workload: str, traced: dict) -> dict:
    """Traced minus untraced end-to-end medians, the untraced side
    being the median over this checkout's untraced runs of the same
    workload (empty when there are none yet)."""
    import glob

    runs = []
    for path in glob.glob(os.path.join(_results_dir(), f"{workload}-seed*.json")):
        if not path.endswith("-trace.json"):
            with open(path) as fh:
                runs.append(json.load(fh)["end_to_end"])
    if not runs:
        return {}
    out = {"untraced_runs": len(runs)}
    for k in SAMPLED:
        done = [r[k] for r in runs if k in r]
        if not done:
            continue
        base = statistics.median(done)
        out[k] = {"traced": traced[k], "untraced": base, "overhead_s": traced[k] - base}
    return out


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    p.add_argument("--workload", required=True, choices=tr.WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "chi_frbcs_bigdatacs_spark", "session.py")):
        print(f"perfbench: the engine package is missing under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench", f"work-{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        result = Run(args, work).main()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
