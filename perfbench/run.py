"""Experiment-analytics benchmark for fast_causal_inference_spark.

Usage (from the repository root)::

    python3 perfbench/run.py --workload ab_small --seed 1 --seconds 10 --trace 0

One closed-loop client drives a workload's call list through the package's
public functions on one ``local[<nproc>]`` session built with the library
defaults (``session.configure_session``).  ``--trace 0`` measures the
end-to-end metrics with tracing off; ``--trace 1`` measures traced passes
(Spark's event log attached, a job description per call, ``/proc`` CPU
readings) between untraced ones, for the per-layer ledger.  The last line
of standard output is one JSON object ``{"correct", "attempted", "failed",
"metrics"}``; the full record (host stamp, per-call path fingerprints,
spans) goes to ``.perfbench_work/records/``.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import subprocess
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import eventlog  # noqa: E402
import gen  # noqa: E402
import host  # noqa: E402
import ledger  # noqa: E402
import procstat  # noqa: E402
import workloads  # noqa: E402

# table rows (experiment) or documents (corpus); see README.md for why
WORKLOADS = {
    "ab_small": {"kind": "experiment", "size": 100_000, "forest": True},
    "ab_large": {"kind": "experiment", "size": 2_200_000, "forest": False},
    "dedup_corpus": {"kind": "corpus", "size": 6_000},
}
# end-to-end metrics printed and recorded but not gated (see README.md)
UNGATED = (("call_p50_s", "s"), ("call_tail_s", "s"),
           ("driver_peak_rss_mb", "MB"), ("failed_frac", "ratio"))
PASS_LIMIT = 20          # measured passes per phase, at most
DEADLINE_S = 150.0       # start no pass after this much wall time


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def tail(samples: list[float]) -> tuple[float, float, int]:
    """``(value, percentile, n)``: the highest percentile (whole percent)
    with at least ten samples beyond it — with fewer than 11 samples,
    the maximum."""
    xs = sorted(samples)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, n
    pct = (n - 10) * 100 // n
    idx = max(0, min(n - 1, -(-pct * n // 100) - 1))
    return xs[idx], float(pct), n


class Bench:
    def __init__(self, args: argparse.Namespace, root: str):
        self.args = args
        self.root = root
        self.spec = WORKLOADS[args.workload]
        self.work = os.path.join(root, ".perfbench_work")
        self.t_start = time.monotonic()
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.spark = None
        self.jvm_pid = None
        self.spans: list[dict] = []
        self.phases: dict[str, float] = {}
        self.t_mark = self.t_start

    # -- session ------------------------------------------------------------
    def build_session(self):
        from pyspark.sql import SparkSession

        from fast_causal_inference_spark.session import configure_session

        local = os.path.join(self.work, "spark-local")
        builder = (SparkSession.builder.appName("perfbench")
                   .master(f"local[{self.cores}]")
                   .config("spark.ui.enabled", "false")
                   .config("spark.ui.showConsoleProgress", "false")
                   .config("spark.local.dir", local)
                   .config("spark.sql.warehouse.dir",
                           os.path.join(self.work, "warehouse"))
                   .config("spark.hadoop.hadoop.tmp.dir", local))
        spark = configure_session(builder).getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = spark.sparkContext._gateway.proc.pid
        return spark

    def open_input(self):
        df = self.spark.read.parquet(self.manifest["data"])
        if self.spec["kind"] == "experiment":
            df.createOrReplaceTempView(workloads.VIEW)
        return df

    def setup(self) -> float:
        """Session build plus one warm-up pass over the real input (its
        results are checked after the timing, like every pass's).

        The ``ab_*`` warm-up runs its independent calls through a pool of
        one thread per core, slowest first: it brings the same JIT, codegen
        and worker pool to steady state as a serial pass, in about two
        thirds of the time, which is what keeps a run inside its budget."""
        t0 = time.perf_counter()
        self.spark = self.build_session()
        self.df = self.open_input()
        p, results = self.warm_up()
        p["idle_wait_s"] = self.quiesce()
        setup_s = time.perf_counter() - t0
        self.settle(p, results)
        self.warmup = p
        return setup_s

    def quiesce(self) -> float:
        """Finish what the warm-up left running before anything is timed: a
        full GC, then wait for the JVM to go idle (the JIT compiles the
        warm-up's hot code on background threads for seconds after it)."""
        self.spark.sparkContext._jvm.System.gc()
        return procstat.wait_idle(self.jvm_pid)

    # -- passes -------------------------------------------------------------
    def calls(self):
        if self.spec["kind"] == "experiment":
            return workloads.ab_calls(self.spec["forest"])
        return workloads.dedup_calls()

    def check(self, name: str, res) -> str | None:
        if self.spec["kind"] == "experiment":
            return checks.check_ab(name, res, self.refs,
                                   self.manifest["data"])
        return checks.check_dedup(name, res, self.refs, self.manifest)

    def cleanup(self) -> None:
        """Release what the calls left cached, outside the timed region, so
        every pass starts from the same state."""
        if self.spec["kind"] == "corpus":
            from fast_causal_inference_spark.datapipe.cachereg import (
                release_dedup_caches,
            )

            release_dedup_caches()
        self.spark.catalog.clearCache()
        for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)

    def persisted(self) -> int:
        return self.spark.sparkContext._jsc.getPersistentRDDs().size()

    def _call(self, name: str, fn, ctx) -> tuple[dict, object]:
        w0 = time.time()
        c0 = time.perf_counter()
        try:
            res, err = fn(ctx), None
        except Exception as exc:        # a failed call is counted, and the
            res = None                  # pass goes on
            err = f"{type(exc).__name__}: {exc}"
            traceback.print_exc(file=sys.stderr)
        c1 = time.perf_counter()
        return {"name": name, "start": w0, "end": time.time(),
                "wall_s": c1 - c0, "error": err}, res

    def warm_up(self) -> tuple[dict, list]:
        if self.spec["kind"] != "experiment":   # dedup calls feed each other
            return self.run_pass("warmup", traced=False)
        ctx = workloads.Ctx(self.spark, self.df)
        calls = sorted(self.calls(),
                       key=lambda c: c[0] not in workloads.SLOW_CALLS)
        t0, p0 = time.time(), time.perf_counter()
        with ThreadPoolExecutor(self.cores) as pool:
            futures = [pool.submit(self._call, name, fn, ctx)
                       for name, fn in calls]
            done = [f.result() for f in futures]
        return ({"label": "warmup", "traced": False, "start": t0,
                 "end": time.time(), "wall_s": time.perf_counter() - p0,
                 "calls": [rec for rec, _ in done]},
                [res for _, res in done])

    def run_pass(self, label: str, traced: bool) -> tuple[dict, list]:
        sc = self.spark.sparkContext
        ctx = workloads.Ctx(self.spark, self.df)
        sampler = self.sampler if traced else None
        calls, results = [], []
        snap0 = sampler.snap() if sampler else None
        t_pass = time.time()
        p0 = time.perf_counter()
        for name, fn in self.calls():
            if traced:
                sc.setJobDescription(f"{self.args.workload}/{label}/{name}")
                before = self.persisted()
                cpu0 = time.process_time()
            rec, res = self._call(name, fn, ctx)
            if traced:
                rec["py_cpu_s"] = time.process_time() - cpu0
                rec["left_persisted"] = self.persisted() - before
                sc.setJobDescription(None)
            calls.append(rec)
            results.append(res)
        wall = time.perf_counter() - p0
        t_end = time.time()
        snap1 = sampler.snap() if sampler else None
        out = {"label": label, "traced": traced, "start": t_pass,
               "end": t_end, "wall_s": wall, "calls": calls}
        if sampler:
            out["cpu"] = {"jvm": snap1.jvm_cpu - snap0.jvm_cpu,
                          "worker": snap1.worker_cpu - snap0.worker_cpu}
        return out, results

    def settle(self, p: dict, results: list) -> None:
        """After a pass, outside its timing: release caches, check every
        result against the reference, count the failures."""
        t0 = time.perf_counter()
        self.cleanup()
        for rec, res in zip(p["calls"], results):
            self.attempted += 1
            if rec["error"] is None:
                try:
                    rec["error"] = self.check(rec["name"], res)
                except Exception as exc:
                    rec["error"] = f"check raised {type(exc).__name__}: {exc}"
            if rec["error"] is not None:
                self.failed += 1
                self.failures.append(f"{p['label']}/{rec['name']}: "
                                     f"{rec['error']}")
        p["settle_s"] = time.perf_counter() - t0

    def measure(self, seconds: float, traced: bool, tag: str) -> list[dict]:
        passes: list[dict] = []
        t0 = time.monotonic()
        while not passes or (
                time.monotonic() - t0 < seconds and len(passes) < PASS_LIMIT
                and time.monotonic() - self.t_start < DEADLINE_S):
            p, results = self.run_pass(f"{tag}{len(passes)}", traced)
            self.settle(p, results)
            passes.append(p)
        return passes

    # -- driver -------------------------------------------------------------
    def prepare(self) -> None:
        self.cores = host.nproc()
        os.makedirs(self.work, exist_ok=True)
        self.stamp = host.stamp(self.root)
        # inputs and references are built (or found) by a child process, so
        # their arrays never count in this process's RSS; here they are
        # then read back from the on-disk cache
        args = (self.spec["kind"], self.args.seed, self.spec["size"],
                os.path.join(self.work, "data"))
        subprocess.run([sys.executable, "-c",
                        f"import sys; sys.path.insert(0, {HERE!r}); "
                        f"import run; run.prepare_input(*{args!r})"],
                       check=True)
        self.manifest, self.refs = prepare_input(*args)

    def mark(self, phase: str) -> None:
        now = time.monotonic()
        self.phases[phase] = now - self.t_mark
        self.t_mark = now
        print(f"perfbench: {phase} {self.phases[phase]:.1f} s",
              file=sys.stderr, flush=True)

    def run(self) -> dict:
        self.prepare()
        self.mark("prepare")
        seconds = float(self.args.seconds)
        record = {"workload": self.args.workload, "seed": self.args.seed,
                  "seconds": seconds, "trace": self.args.trace,
                  "rows": self.manifest["rows"],
                  "input_digest": self.manifest["digest"],
                  "host": self.stamp}
        setup_s = self.setup()
        record["java"] = self.java_version()
        self.mark("setup")
        if not self.args.trace:
            # the RSS peak is taken over the measured passes only
            for pid in (self.jvm_pid, os.getpid()):
                procstat.reset_peak_rss(pid)
            passes = self.measure(seconds, traced=False, tag="p")
            self.mark("measure")
            record["passes"] = [self.warmup] + passes
            metrics = self.end_to_end(setup_s, passes)
        else:
            # untraced passes on both sides of the traced ones, so the
            # overhead estimate does not absorb the JVM's warming drift
            before = self.measure(seconds / 3, traced=False, tag="u")
            self.sampler = procstat.Sampler(self.jvm_pid)
            evdir = os.path.join(self.work, "eventlog",
                                 f"{os.getpid()}-{time.time_ns()}")
            tap = eventlog.Tap(self.spark.sparkContext, evdir)
            try:
                traced = self.measure(seconds / 3, traced=True, tag="t")
            finally:
                tap.close()
            after = self.measure(seconds / 3, traced=False, tag="v")
            self.mark("measure")
            record["passes"] = [self.warmup] + before + traced + after
            metrics = self.per_layer(before + after, traced, tap, record)
        record["metrics"] = metrics
        record["failures"] = self.failures
        record["spans"] = self.spans
        return record

    def java_version(self) -> str:
        return self.spark.sparkContext._jvm.System.getProperty("java.version")

    def end_to_end(self, setup_s: float, passes: list[dict]) -> dict:
        jvm_mb = procstat.peak_rss_mb(self.jvm_pid)
        py_mb = procstat.peak_rss_mb(os.getpid())
        metrics, self.e2e_notes = end_to_end_metrics(
            setup_s, passes, self.manifest["rows"], py_mb)
        self.e2e_notes["driver_peak_rss_mb"] = jvm_mb + py_mb
        self.e2e_notes["failed_frac"] = self.failed / max(self.attempted, 1)
        return metrics

    def per_layer(self, plain: list[dict], traced: list[dict], tap,
                  record: dict) -> dict:
        log = eventlog.parse(tap.path())
        shutil.rmtree(tap.directory, ignore_errors=True)
        self.spans = ledger.spans(log, traced, self.args.workload,
                                  self.args.seed)
        record["fingerprints"] = ledger.fingerprints(log, traced[-1])
        metrics, record["per_pass_ledger"] = ledger.layer_metrics(
            log, plain, traced, self.manifest["rows"], self.cores,
            paired=self.spec["kind"] == "experiment")
        return metrics


def prepare_input(kind: str, seed: int, size: int, root: str
                  ) -> tuple[dict, dict]:
    manifest = gen.materialize(kind, seed, size, root)
    return manifest, checks.load_refs(kind, manifest)


def end_to_end_metrics(setup_s: float, passes: list[dict], rows: int,
                       py_rss_mb: float) -> tuple[dict, dict]:
    """The gated end-to-end metrics of an untraced run, and notes for the
    record: pass quartiles and the per-call latency metrics (median, and
    the tail with its percentile and sample count), which a single pass of
    14-15 calls measures too unsteadily to gate (see README.md).
    ``rows_per_s`` counts one full input read per call."""
    walls = [p["wall_s"] for p in passes]
    call_walls = [c["wall_s"] for p in passes for c in p["calls"]]
    t_val, t_pct, t_n = tail(call_walls)
    pass_s = _median(walls)
    reads = rows * len(passes[0]["calls"])
    notes = {
        "pass_s_quartiles": (statistics.quantiles(walls, n=4)
                             if len(walls) > 1 else walls),
        "passes": len(walls),
        "call_p50_s": _median(call_walls),
        "call_tail_s": t_val,
        "call_tail_percentile": t_pct, "call_tail_samples": t_n,
        "rows_read_per_pass": reads,
    }
    metrics = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "pass_s": {"value": pass_s, "unit": "s"},
        "rows_per_s": {"value": reads / pass_s, "unit": "rows/s"},
        "driver_py_peak_rss_mb": {"value": py_rss_mb, "unit": "MB"},
    }
    return metrics, notes


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM and every process below it, and wait."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = gw.proc
    kids = procstat.descendants(proc.pid)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc.stdin:
        proc.stdin.close()      # the gateway exits on EOF of its stdin
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait(timeout=10)
    deadline = time.monotonic() + 15
    while any(procstat.alive(k) for k in kids):
        if time.monotonic() > deadline:
            for k in kids:
                if procstat.alive(k):
                    os.kill(k, 9)
            break
        time.sleep(0.1)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "fast_causal_inference_spark",
                                       "__init__.py")):
        print("perfbench: run from the repository root (package "
              "fast_causal_inference_spark not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    local = os.path.join(root, ".perfbench_work", "spark-local")
    os.makedirs(local, exist_ok=True)
    # keep every scratch file of Spark and its workers inside the checkout
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = local
    # every JVM the launcher starts: temporary files in the checkout, and
    # no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={local} "
                                       "-XX:+PerfDisableSharedMem")

    bench = Bench(args, root)
    try:
        record = bench.run()
    finally:
        if bench.spark is not None:
            bench.spark.stop()
        shutdown_jvm()
    bench.mark("teardown")
    record["phase_s"] = bench.phases
    if not args.trace:
        record["notes"] = bench.e2e_notes
    rec_dir = os.path.join(root, ".perfbench_work", "records")
    os.makedirs(rec_dir, exist_ok=True)
    rec_path = os.path.join(
        rec_dir, f"{args.workload}-s{args.seed}-t{args.trace}-"
                 f"{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}.json")
    with open(rec_path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for f in bench.failures:
        print(f"FAILED {f}", file=sys.stderr)
    shown = {k: (v["value"], v["unit"]) for k, v in record["metrics"].items()}
    if not args.trace:          # recorded, not gated (see README.md)
        shown.update((k, (record["notes"][k], unit)) for k, unit in UNGATED)
    for name, (value, unit) in shown.items():
        print(f"perfbench: {name} = {value:.6g} {unit}", file=sys.stderr)
    print(f"record: {os.path.relpath(rec_path, root)}", file=sys.stderr)
    print(json.dumps({"correct": bench.failed == 0,
                      "attempted": bench.attempted, "failed": bench.failed,
                      "metrics": record["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
