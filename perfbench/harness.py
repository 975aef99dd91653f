"""One benchmark run: set up, warm up and gate, measure, report.

Started by ``run.py``, which prepares the environment (scratch dirs
inside the checkout, PYTHONPATH, Spark launch options) and owns the
process tree. The last stdout line is the result object; the line
before it is the full record (host stamp, warm-up trajectory, per-call
and per-layer detail).
"""

from __future__ import annotations

import argparse
import json
import math
import os
from concurrent.futures import ProcessPoolExecutor
from multiprocessing import get_context
import statistics
import sys
import threading
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import fixtures  # noqa: E402
import layers  # noqa: E402
from distributed_mapreduce_spark.caching import (  # noqa: E402
    persistent_rdd_ids,
    unpersist_rdd_ids,
)

SETUP_REPS = 3
# With the C1-only JVM (run.py) the second pass is already at its steady
# time; the record's trajectory_pass_s shows it.
WARMUP_PASSES = 1
TAIL_PERCENTILES = (99, 95, 90, 75)
RSS_PERIOD_S = 0.25

LAYER_UNITS = {
    "queries.build_s": "s",
    "queries.eager_jobs": "count",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.task_cpu_s": "s",
    "exec.task_run_s": "s",
    "exec.gc_s": "s",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "operators.s": "s",
    "operators.dedup.s": "s",
    "operators.similarity.s": "s",
    "operators.contamination.s": "s",
    "operators.kv.s": "s",
    "functions.text.s": "s",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.add_batch_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.commit_offsets_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.sinks.store_files": "count",
    "streaming.sinks.store_mb": "MB",
    "sources.manifest.s": "s",
    "kv_serving.files_per_get": "count",
    "caching.leaked_rdds": "count",
    "caching.cached_mb": "MB",
    "jvm.old_gen_peak_mb": "MB",
    "trace.overhead_s": "s",
}
# Self-time metrics: metric name -> traced layer.
SELF_TIME = {
    "operators.dedup.s": "operators.dedup",
    "operators.similarity.s": "operators.similarity",
    "operators.contamination.s": "operators.contamination",
    "operators.kv.s": "operators.kv",
    "functions.text.s": "functions.text",
    "sources.manifest.s": "sources.manifest",
}
STREAM_FIELDS = {
    "streaming.add_batch_s": "addBatch",
    "streaming.wal_commit_s": "walCommit",
    "streaming.commit_offsets_s": "commitOffsets",
    "streaming.query_planning_s": "queryPlanning",
}


# ------------------------------------------------------------ host stamp


def _spin(n: int) -> float:
    t = time.perf_counter()
    acc = 0
    for i in range(n):
        acc += i * i
    return time.perf_counter() - t


def _numpy_work() -> float:
    rng = np.random.default_rng(0)
    a = rng.standard_normal(1_000_000)
    t = time.perf_counter()
    for _ in range(3):
        np.sort(a)
    return time.perf_counter() - t


def host_stamp(cpus: int) -> dict:
    """Cores, JIT tier, load and a fixed-work calibration (medians of 3)."""
    c1 = "TieredStopAtLevel=1" in os.environ.get("PYSPARK_SUBMIT_ARGS", "")
    return {
        "cpus": cpus,
        "jit": "C1" if c1 else "tiered",
        "nproc": len(os.sched_getaffinity(0)),
        "loadavg": list(os.getloadavg()),
        "calib_py_s": statistics.median(_spin(1_000_000) for _ in range(3)),
        "calib_np_s": statistics.median(_numpy_work() for _ in range(3)),
    }


class RssSampler(threading.Thread):
    """Samples the peak resident set of this process and all its
    descendants every RSS_PERIOD_S seconds; `tree()` also gives their
    CPU seconds. (bench.py's `_own_tree_cpu_ticks` walks /proc the same
    way for CPU only.)"""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self._halt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._hz = os.sysconf("SC_CLK_TCK")

    def tree(self) -> tuple[int, float]:
        """(resident bytes, CPU seconds) of this process and all its
        descendants. CPU counts each process's own time and that of its
        children already reaped (cutime, cstime), so Python workers that
        exit during a window are not lost."""
        kids: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        cpu: dict[int, float] = {}
        for e in os.listdir("/proc"):
            if not e.isdigit():
                continue
            try:
                with open(f"/proc/{e}/stat") as f:
                    stat = f.read()
                with open(f"/proc/{e}/statm") as f:
                    pages = int(f.read().split()[1])
            except (OSError, IndexError, ValueError):
                continue
            fields = stat[stat.rindex(")") + 2 :].split()
            kids.setdefault(int(fields[1]), []).append(int(e))
            rss[int(e)] = pages * self._page
            cpu[int(e)] = sum(int(x) for x in fields[11:15]) / self._hz
        total, secs, todo = 0, 0.0, [os.getpid()]
        while todo:
            p = todo.pop()
            total += rss.get(p, 0)
            secs += cpu.get(p, 0.0)
            todo.extend(kids.get(p, ()))
        return total, secs

    def run(self):
        while not self._halt.wait(RSS_PERIOD_S):
            self.peak = max(self.peak, self.tree()[0])

    def reset(self):
        """Forget the peak so far; the peak restarts at the current size."""
        self.peak = self.tree()[0]

    def stop(self):
        self._halt.set()
        self.join()
        self.peak = max(self.peak, self.tree()[0])


# -------------------------------------------------------------- helpers


def quartiles(xs):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def summary(xs, unit):
    lo, med, hi = quartiles(xs)
    return {"value": med, "unit": unit, "q1": lo, "q3": hi, "n": len(xs)}


def tail(xs):
    """The highest of TAIL_PERCENTILES with at least 10 samples beyond
    it, and its value (nearest rank). With too few samples for any of
    them: 100 and the maximum."""
    xs = sorted(xs)
    p = next((p for p in TAIL_PERCENTILES if len(xs) * (100 - p) / 100 >= 10), 100)
    return p, xs[max(0, math.ceil(p / 100 * len(xs)) - 1)]


# ---------------------------------------------------------------- runner


def _steal_s() -> float:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


class Runner:
    def __init__(self, spark, workload, trace: bool, rss):
        self.rss = rss
        self.spark = spark
        self.wl = workload
        self.ledger = layers.JobLedger(spark)
        self.baseline_rdds = persistent_rdd_ids(spark)
        self.tracer = layers.Tracer() if trace else None
        self.stream = layers.StreamStats()
        spark.streams.addListener(self.stream)
        self.n_calls = 0
        self.failures: list[str] = []
        self.attempted = 0

    def enable_tracing(self, on: bool) -> None:
        if self.tracer is None:
            return
        if on and not self.tracer.patched:
            self.tracer.install()
        elif not on and self.tracer.patched:
            self.tracer.uninstall()

    def run_call(self, call, traced: bool) -> dict:
        """One closed-loop call: build the DataFrame, collect it, then
        (untimed) read the counters, release leaked caches and check."""
        spark = self.spark
        cid = self.n_calls
        self.n_calls += 1
        rec = {"call": call.name, "kind": call.kind, "id": cid}
        err = None
        self.stream.reset()
        if traced:
            self.tracer.begin_call(cid, call.name)
        cpu0 = self.rss.tree()[1]
        t0 = time.perf_counter()
        w0 = time.time()
        try:
            df = call.build(spark)
            t1 = time.perf_counter()
            w1 = time.time()
            rows = [tuple(r) for r in df.collect()]
            t2 = time.perf_counter()
        except Exception as e:  # a failed call is counted, not fatal
            t1 = t2 = time.perf_counter()
            w1 = time.time()
            df, rows = None, None
            err = f"{call.name}: {type(e).__name__}: {str(e)[:300]}"
        cpu1 = self.rss.tree()[1]
        if traced:
            self.tracer.end_call()
        rec.update(latency_s=t2 - t0, build_s=t1 - t0, exec_s=t2 - t1, start=w0,
                   tree_cpu_s=cpu1 - cpu0)
        stats = self.ledger.take(with_stages=True)
        jobs = stats.pop("job_list")
        rec.update(stats)
        rec["eager_jobs"] = sum(1 for j in jobs if j["submit_ms"] <= w1 * 1e3)
        rec["stream"] = self.stream.reset()
        if traced:
            if df is not None:
                rec["catalyst"] = layers.catalyst_phases(df)
            rec["jobs_by_layer"] = self.tracer.attribute_jobs(jobs)
            if call.kind == "get" and df is not None:
                rec["files"] = len(df.inputFiles())
        leaked = persistent_rdd_ids(spark) - self.baseline_rdds
        rec["leaked_rdds"] = len(leaked)
        rec["cached_mb"] = sum(layers.rdd_sizes_mb(spark, leaked).values())
        unpersist_rdd_ids(spark, leaked)
        spark.catalog.clearCache()
        if err is None:
            err = call.check(df.columns, rows)
        if call.after is not None:
            call.after()
        for k in ("store_bytes", "store_files", "in_bytes", "rows"):
            if k in call.info:
                rec[k] = call.info[k]
        self.attempted += 1
        if err is not None:
            self.failures.append(err)
        rec["ok"] = err is None
        return rec

    def run_pass(self, rng, traced: bool) -> dict:
        self.enable_tracing(traced)
        steal0 = _steal_s()
        calls = [self.run_call(c, traced) for c in self.wl.calls(rng)]
        steal1 = _steal_s()
        out = {
            "traced": traced,
            "pass_s": sum(c["latency_s"] for c in calls),
            "jobs": sum(c["jobs"] for c in calls),
            "stages": sum(c["stages"] for c in calls),
            "batches": sum(c["stream"]["batches"] for c in calls),
            "tree_cpu_s": sum(c["tree_cpu_s"] for c in calls),
            "steal_s": steal1 - steal0,
            "calls": calls,
        }
        if traced:
            ids = {c["id"] for c in calls}
            out["self_s"] = self.tracer.self_times(ids)
        return out


def pass_layers(p: dict) -> dict:
    """Per-layer totals of one traced pass."""
    calls = p["calls"]
    out = {
        "queries.build_s": sum(c["build_s"] for c in calls),
        "queries.eager_jobs": sum(c["eager_jobs"] for c in calls),
        "exec.s": sum(c["exec_s"] for c in calls),
        "exec.jobs": sum(c["jobs"] for c in calls),
        "exec.stages": sum(c["stages"] for c in calls),
        "exec.tasks": sum(c["tasks"] for c in calls),
        "caching.leaked_rdds": sum(c["leaked_rdds"] for c in calls),
        "caching.cached_mb": sum(c["cached_mb"] for c in calls),
        "streaming.sinks.store_files": sum(c.get("store_files", 0) for c in calls),
        "streaming.sinks.store_mb": sum(c.get("store_bytes", 0) for c in calls) / 1e6,
    }
    for f in layers.STAGE_FIELDS:
        out["exec." + f] = sum(c[f] for c in calls)
    for phase in ("analysis", "optimization", "planning"):
        out[f"catalyst.{phase}_s"] = sum(
            c.get("catalyst", {}).get(phase, 0.0) for c in calls
        )
    out["streaming.batches"] = sum(c["stream"].get("batches", 0) for c in calls)
    out["streaming.input_rows"] = sum(c["stream"].get("input_rows", 0) for c in calls)
    for name, field in STREAM_FIELDS.items():
        out[name] = sum(c["stream"].get(field, 0.0) for c in calls)
    for name, layer in SELF_TIME.items():
        out[name] = p["self_s"].get(layer, 0.0)
    out["operators.s"] = sum(
        v for k, v in p["self_s"].items() if k.startswith("operators.")
    )
    gets = [c["files"] for c in calls if "files" in c]
    out["kv_serving.files_per_get"] = statistics.mean(gets) if gets else 0.0
    return out


def e2e_metrics(setup_s: float, passes: list, peak_rss: int, failed: int,
                attempted: int) -> tuple[dict, dict]:
    calls = [c for p in passes for c in p["calls"]]
    lat = [c["latency_s"] for c in calls]
    p_tail, v_tail = tail(lat)
    m = {
        "setup_s": {"value": setup_s, "unit": "s"},
        "pass_s": summary([p["pass_s"] for p in passes], "s"),
        # Median call of each pass, then the median over passes. Pooled
        # over all calls, the median of pipeline's two queries would fall
        # in the gap between them (the slowest of one, the fastest of the
        # other) and swing with either.
        "call_p50_s": summary(
            [statistics.median(c["latency_s"] for c in p["calls"]) for p in passes],
            "s"),
        "call_tail_s": {"value": v_tail, "unit": "s", "percentile": p_tail,
                        "n": len(lat)},
        "task_cpu_s": summary(
            [sum(c["task_cpu_s"] for c in p["calls"]) for p in passes], "s"
        ),
        "cpu_s": summary([p["tree_cpu_s"] for p in passes], "s"),
        "peak_rss_mb": {"value": peak_rss / 1e6, "unit": "MB"},
        "failed_ratio": {"value": failed / attempted, "unit": "ratio"},
    }
    extra = {}
    folds = [c for c in calls if c["kind"] == "kv_fold"]
    if folds:
        gets = [c["latency_s"] * 1e3 for c in calls if c["kind"] == "get"]
        g_tail, g_v = tail(gets)
        extra = {
            "kv_ops_per_s": summary(
                [c["rows"] / c["latency_s"] for c in folds], "1/s"),
            "get_p50_ms": summary(gets, "ms"),
            "get_tail_ms": {"value": g_v, "unit": "ms", "percentile": g_tail,
                            "n": len(gets)},
            "store_amp": summary(
                [c["store_bytes"] / c["in_bytes"] for c in folds], "ratio"),
        }
    return m, extra


def per_call(passes: list) -> dict:
    """Median latency, build and exec seconds and counters per call name."""
    by: dict[str, list] = {}
    for p in passes:
        for c in p["calls"]:
            by.setdefault(c["call"], []).append(c)
    return {
        n: {
            "n": len(cs),
            "latency_s": statistics.median(c["latency_s"] for c in cs),
            "build_s": statistics.median(c["build_s"] for c in cs),
            "exec_s": statistics.median(c["exec_s"] for c in cs),
            "jobs": sorted({c["jobs"] for c in cs}),
            "stages": sorted({c["stages"] for c in cs}),
            "task_cpu_s": statistics.median(c["task_cpu_s"] for c in cs),
        }
        for n, cs in sorted(by.items())
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    import workloads
    from distributed_mapreduce_spark.session import get_spark

    t_main = time.perf_counter()
    phase_s = {}
    cpus = int(os.environ["SPARK_GRAFT_CPUS"])
    rss = RssSampler()
    rss.start()
    host = host_stamp(cpus)
    wl = workloads.WORKLOADS[args.workload]()
    rng = np.random.default_rng([args.seed, 0x5EED])

    # Set-up, several times: session (the first launches the JVM),
    # fixture tables, workload staging. Only the last one is kept.
    setup_reps = []
    spark = None
    for r in range(SETUP_REPS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = get_spark(app_name="perfbench")
        fx = os.path.join(args.work, f"fixtures{r}")
        fixtures.write_fixtures(fx)
        wl.setup(spark, fx, args.work)
        setup_reps.append(time.perf_counter() - t0)

    phase_s["setup"] = time.perf_counter() - t_main
    runner = Runner(spark, wl, bool(args.trace), rss)
    # Oracle results, untimed, from a child process: DuckDB's memory
    # stays out of this process.
    t_gate = time.perf_counter()
    with ProcessPoolExecutor(1, mp_context=get_context("spawn")) as pool:
        wl.gate(pool.submit(workloads.oracle_results, args.workload, fx).result())
    phase_s["oracles"] = time.perf_counter() - t_gate

    # Warm-up; every call of every pass is also checked against its
    # oracle. The JVM's first pass runs 3-4x slower than later ones; the
    # warm-up time goes into setup_s.
    warm = [runner.run_pass(rng, traced=False) for _ in range(WARMUP_PASSES)]
    if hasattr(wl, "gate_served"):
        runner.attempted += 1
        err = wl.gate_served(spark)
        if err:
            runner.failures.append(err)
        runner.ledger.take(with_stages=False)  # the gate's jobs belong to no call
    setup_s = statistics.median(setup_reps) + sum(p["pass_s"] for p in warm)
    # peak_rss_mb and the old-generation peak cover the measured passes only
    old_gen = layers.OldGenPeak(spark)
    old_gen.reset()
    rss.reset()

    # Measured passes: as many as fill the window at the workload's
    # nominal pass time, a fixed number for given --seconds. A traced
    # run alternates traced and untraced passes, so tracing overhead is
    # measured within it.
    n_passes = max(2 if args.trace else 1, round(args.seconds / wl.nominal_pass_s))
    t_meas = time.perf_counter()
    passes = [
        runner.run_pass(rng, traced=bool(args.trace) and i % 2 == 0)
        for i in range(n_passes)
    ]
    measure_s = time.perf_counter() - t_meas
    old_gen_peak_mb = old_gen.peak_mb()
    runner.enable_tracing(False)
    rss.stop()

    failed = len(runner.failures)
    untraced = [p for p in passes if not p["traced"]] or passes
    e2e, serve = e2e_metrics(setup_s, untraced, rss.peak, failed, runner.attempted)
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "scale": fixtures.SCALE,
        "trace": args.trace,
        "host": host,
        "host_after": {"loadavg": list(os.getloadavg())},
        "setup_reps_s": setup_reps,
        "warmup_calls_s": [{c["call"]: c["latency_s"] for c in p["calls"]}
                           for p in warm],
        "trajectory_pass_s": [p["pass_s"] for p in warm + passes],
        "counters_per_pass": [
            {k: p[k] for k in ("traced", "jobs", "stages", "batches", "tree_cpu_s",
                                "steal_s", "pass_s")}
            for p in warm + passes
        ],
        "measure_s": measure_s,
        "passes": len(passes),
        "old_gen_peak_mb": old_gen_peak_mb,
        "metrics": {**e2e, **serve},
        "per_call": per_call(untraced),
        "failures": runner.failures[:20],
    }
    reported = record["metrics"]
    if args.trace:
        traced = [p for p in passes if p["traced"]]
        per_pass = [pass_layers(p) for p in traced]
        lay = {k: statistics.median(pp[k] for pp in per_pass)
               for k in per_pass[0]}
        lay["jvm.old_gen_peak_mb"] = old_gen_peak_mb
        lay["trace.overhead_s"] = (
            statistics.median(p["pass_s"] for p in traced)
            - statistics.median(p["pass_s"] for p in untraced)
        )
        record["layers"] = {k: {"value": v, "unit": LAYER_UNITS[k]}
                            for k, v in lay.items()}
        record["layers_per_pass"] = per_pass
        record["jobs_by_layer"] = _sum_dicts(
            c["jobs_by_layer"] for p in traced for c in p["calls"])
        record["self_s_by_layer"] = _sum_dicts(p["self_s"] for p in traced)
        reported = record["layers"]
        with open(os.path.join(args.out, f"trace_{args.workload}_s{args.seed}.json"),
                  "w") as f:
            json.dump({"spans": runner.tracer.spans,
                       "calls": [c for p in traced for c in p["calls"]]}, f)
    t_stop = time.perf_counter()
    spark.stop()
    phase_s["stop"] = time.perf_counter() - t_stop
    phase_s["main"] = time.perf_counter() - t_main
    record["phase_s"] = phase_s

    with open(os.path.join(
            args.out, f"result_{args.workload}_s{args.seed}_t{args.trace}.json"),
            "w") as f:
        json.dump(record, f, indent=1, default=str)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        names = [m["name"] for m in json.load(f)["per_layer" if args.trace else "end_to_end"]]
    metrics = {n: {"value": reported[n]["value"], "unit": reported[n]["unit"]}
               for n in names}
    print(json.dumps(record, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": runner.attempted,
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


def _sum_dicts(ds) -> dict:
    out: dict = {}
    for d in ds:
        for k, v in d.items():
            out[k] = out.get(k, 0) + v
    return dict(sorted(out.items()))


if __name__ == "__main__":
    sys.exit(main())
