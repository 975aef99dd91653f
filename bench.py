#!/usr/bin/env python
"""Benchmark harness (driver contract): run every registered query at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and print the result JSON:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"<name>": sec, ...}, "sf": 0.1,
     "passes": N, "spread": {"<name>": max/min, ...},
     "load_avg": [1m, 5m, 15m], "pass_loads": [...],
     "methodology": "..."}

Two stdout lines are printed (full record first, then a compact
summary line) so that a tail-truncating capture still records the
headline number. Since r17 the compact line CARRIES the per-query
minima ("queries"): r16's PERF comparator came back empty because the
compact line omitted them and the full artifact had been overwritten
by a later same-round run at different cpus — per-query driver
visibility is part of the contract. The compact line still omits
"spread"/"samples"/"pass_loads" detail (those live in the artifacts).
The full record is written BOTH to ./bench_last.json (stable name,
backwards compatible) and to an immutable per-run name
./bench_<tier>_c<cpus>.json so same-round runs at different core
counts cannot clobber each other; "full_artifact" points at the
per-run file.

Tiers: the default run times the 50 REGISTERED queries (the driver
contract). `python bench.py --tier shadow` (or SPARK_GRAFT_BENCH_TIER=
shadow) times the shadow tier instead — full record to
bench_shadow_last.json, floors via
`scripts/quiet_floor.py --floors scripts/quiet_floors_shadow.json`.

Host drift instrumentation: every pass record carries /proc/pressure
cpu+io avg10/avg60 and mean CPU MHz before ("host") and after
("host_after") the pass, so cross-round total swings can be attributed
to frequency scaling or CPU/IO steal without re-running. Since r12
every pass is also BRACKETED by fixed-work calibration probes
("calib"/"calib_after": single-thread spin, fork-per-core spin,
256 MiB memory reduction) — constant work whose wall time can only
grow if the host is slower, making the r11 class of probe-invisible
whole-host slowdown detectable from the artifact alone: a pass whose
calibration deviates >15% above the floors file's recorded baseline at
both ends is marked loud (see scripts/quiet_floor.py).

Load-aware passes: before each pass the harness probes EXTERNAL CPU
pressure (/proc/stat deltas while idle — 1-min loadavg is polluted by
our own just-finished local[32] pass) and sleep-retries within a
bounded budget ($SPARK_GRAFT_BENCH_MAX_WAIT_S, default 900 s) when
other tenants are using > cores/4. If every planned pass still ran
loud, up to $SPARK_GRAFT_BENCH_EXTRA_RUNS (default 2) extra passes are
appended. Per-pass loads are recorded in-band.

Timing methodology:
- one warm SparkSession for the whole run (JVM startup excluded — the
  reference's baseline is per-job wall clock on a warm machine, and at
  100 TB session startup is amortized to nothing);
- each query is forced end-to-end with the noop sink
  (df.write.format("noop")): full plan execution, rows never cross to
  the driver, no disk write skew;
- per-query time = plan construction + execution, measured around the
  action; reported as the MIN over SPARK_GRAFT_BENCH_RUNS interleaved
  passes (default 3) — the noise-floor estimator for a host with
  unpredictable external load (it converges on the plan's true cost
  and cannot under-report it). Three passes, not two: measured JIT
  warm-up trajectories (see "samples" in bench_last.json) show the
  streaming family and the dedup joins still dropping 10-30% from
  pass 0 to pass 2, so min-of-2 systematically recorded a half-warm
  cost for OUR plans — warm-up noise, not plan work.
"""

from __future__ import annotations

import json
import os
import sys
import time


def force(df) -> None:
    """Execute the full plan without collecting to the driver."""
    df.write.format("noop").mode("overwrite").save()


def _cores() -> int:
    try:
        return int(os.environ["SPARK_GRAFT_CPUS"])
    except (KeyError, ValueError):
        return os.cpu_count() or 1


def _own_tree_cpu_ticks() -> int:
    """utime+stime (USER_HZ ticks) summed over this process and every
    live descendant — the Spark JVM and its Python workers are child
    processes, so 'the bench is idle' must mean the whole tree, not
    just this driver."""
    children: dict[int, list[int]] = {}
    cpu: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                raw = f.read()
        except OSError:
            continue  # raced with process exit
        # fields after the parenthesized comm (which may contain spaces)
        fields = raw[raw.rindex(")") + 2 :].split()
        pid = int(entry)
        ppid = int(fields[1])  # field 4 overall
        cpu[pid] = int(fields[11]) + int(fields[12])  # utime + stime
        children.setdefault(ppid, []).append(pid)
    total = 0
    stack = [os.getpid()]
    while stack:
        pid = stack.pop()
        total += cpu.get(pid, 0)
        stack.extend(children.get(pid, ()))
    return total


def _external_busy_cores(sample_s: float = 4.0) -> float:
    """Measure EXTERNAL CPU pressure: non-idle cores used by processes
    OUTSIDE this bench's process tree across a ``sample_s`` window
    where the bench driver sits idle.

    1-min loadavg cannot gate passes after the first one — our own
    local[32] pass drives it above any sane threshold for ~2 min after
    it ends, so a loadavg gate would sleep on our own wake. /proc/stat
    deltas alone are not enough either: the Spark JVM is a separate
    child process that may still burn cores (GC, shuffle-file cleanup)
    right after a pass, so its tree's utime+stime delta is subtracted
    from the non-idle delta — what remains is the other tenants (this
    box shares hardware; see BASELINE.md). Falls back to loadavg if
    /proc is unreadable.
    """
    def snap() -> tuple[int, int]:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        idle = vals[3] + (vals[4] if len(vals) > 4 else 0)  # idle + iowait
        return sum(vals), idle

    try:
        t0, i0 = snap()
        own0 = _own_tree_cpu_ticks()
        time.sleep(sample_s)
        t1, i1 = snap()
        own1 = _own_tree_cpu_ticks()
        dt, di = t1 - t0, i1 - i0
        if dt <= 0:
            return 0.0
        ext = max(0, (dt - di) - max(0, own1 - own0))
        return round(ext / dt * _cores(), 2)
    except OSError:
        return round(os.getloadavg()[0], 2)


# ── Fixed-work calibration probe (VERDICT r11 #1) ────────────────────
# Two rounds running, the driver's headline bench number was inflated
# ~1.3× by a whole-host slow window that read QUIET on every in-band
# probe (ext_busy ~0, psi ~0, MHz steady) — co-tenant cache/membandwidth
# pressure or hypervisor steal without guest accounting. Only a judge
# rerun could prove it. The fix: every pass brackets itself with a
# probe of CONSTANT work — a single-thread LCG spin (scalar pipeline
# speed), a fork-per-core spin of larger constant work (whole-machine
# CPU throughput), and a single-thread 256 MiB reduction (memory
# bandwidth) — and records the wall times in pass_loads. Constant work
# cannot run slower without the host being slower, so a uniformly slow
# window is visible IN THE ARTIFACT: scripts/quiet_floor.py marks a
# pass loud when a probe metric deviates >15% above the floors file's
# recorded calibration baseline at BOTH ends of the pass (both ends, so
# a transient post-pass JVM settle can't false-flag; a sustained slow
# window inflates both). bench.py applies the same rule at run time so
# a calibration-loud pass triggers the existing extra-pass machinery.
_CALIB_SPIN_ITERS = 2_000_000  # ~0.19 s on this host; min-of-3
_CALIB_NT_ITERS = 8_000_000  # ~1.1 s across 32 forks; single shot
_CALIB_MEM_DOUBLES = 32 * 1024 * 1024  # 256 MiB (past L3); min-of-3
_CALIB_RATIO = 1.15  # keep in sync with scripts/quiet_floor.py
# Only the CPU spins drive loudness; calib_mem_s is a recorded
# diagnostic — it drifts monotonically within a run with the bench's
# own JVM memory state (measured +22%/+48% in the first two calibrated
# runs), so it cannot distinguish external slowness from a warm JVM.
# Keep in sync with quiet_floor.CALIB_LOUD_KEYS.
_CALIB_LOUD_KEYS = ("calib_1t_s", "calib_nt_s")


def _calib_spin(n_iter: int) -> int:
    x = 1
    for _ in range(n_iter):
        x = (x * 1103515245 + 12345) & 0x7FFFFFFF
    return x


def _calib_spin_after(event, n_iter: int) -> None:
    event.wait()
    _calib_spin(n_iter)


def _calibration_probe() -> dict:
    """Run the fixed-work probes; ~2 s total. Best-effort per metric —
    a metric whose machinery is unavailable (no fork, no numpy) is
    omitted rather than fatal (the deviation rule only compares
    metrics present on both sides). A metric that IS measurable but
    deadline-hit records its elapsed lower bound instead — omission
    under load would fail open (see the nt deadline note below)."""
    out: dict = {}
    out["calib_1t_s"] = round(
        min(_timed(_calib_spin, _CALIB_SPIN_ITERS) for _ in range(3)), 4
    )
    try:
        import multiprocessing

        # barrier-synced: children fork first and wait on an event, so
        # the timed window is pure spin — including the sequential
        # fork stagger made the metric's idle spread ~18%, over the
        # deviation threshold (measured; synced form is ~8%)
        ctx = multiprocessing.get_context("fork")
        ev = ctx.Event()
        procs: list = []
        try:
            for _ in range(_cores()):
                p = ctx.Process(target=_calib_spin_after, args=(ev, _CALIB_NT_ITERS))
                p.start()
                procs.append(p)
            time.sleep(0.3)  # let every child reach the event wait
            t0 = time.perf_counter()
            ev.set()
            # bounded joins (r12 ADVICE): a child wedged under exactly
            # the host pressure this probe exists to detect must not
            # hang the whole bench. If any child misses the (very
            # generous) deadline, record the elapsed time anyway — a
            # LOWER bound on the true spin (~100x the quiet baseline),
            # so the pass reads calibration-LOUD. Omitting the metric
            # would fail OPEN: quiet_floor's deviation rule only
            # compares metrics present on both sides, so the loudest
            # possible host state would read as quiet and could seed a
            # polluted first floor.
            deadline = t0 + 120.0
            for p in procs:
                p.join(timeout=max(0.0, deadline - time.perf_counter()))
                if p.is_alive():  # pragma: no cover - wedged child
                    break
            out["calib_nt_s"] = round(time.perf_counter() - t0, 4)
        finally:
            # a start() that fails mid-list (ENOMEM under exactly the
            # pressure this probe exists to detect) must not leave
            # earlier children parked on an event nobody sets — the
            # non-daemon children would hang interpreter shutdown
            ev.set()
            for p in procs:
                if p.is_alive():
                    p.join(timeout=10)
                if p.is_alive():  # pragma: no cover - stuck child
                    p.terminate()
                    p.join(timeout=5)
    except Exception:  # pragma: no cover - fork unavailable
        pass
    try:
        import numpy as np

        # fill, don't zeros: np.zeros maps every page to the kernel's
        # shared zero page, so a reduce over it measures L1 cache, not
        # RAM bandwidth — the fill forces real resident pages
        arr = np.empty(_CALIB_MEM_DOUBLES, dtype=np.float64)
        arr.fill(1.0)
        out["calib_mem_s"] = round(
            min(_timed(np.add.reduce, arr) for _ in range(3)), 4
        )
        del arr
    except Exception:  # pragma: no cover - numpy unavailable
        pass
    return out


def _timed(fn, *args) -> float:
    t0 = time.perf_counter()
    fn(*args)
    return time.perf_counter() - t0


def _calib_baseline(tier: str = "registered") -> dict:
    """The recorded calibration baseline (min over quiet runs,
    maintained by scripts/quiet_floor.py update) from the floors file
    MATCHING the tier being benched — registered and shadow runs are
    judged by quiet_floor.py against their own files' baselines, so
    the runtime check must read the same one or the two enforcement
    points can disagree on the same pass. Empty dict until the first
    quiet run seeds it — the rule is then vacuous."""
    fname = (
        "quiet_floors.json" if tier == "registered" else "quiet_floors_shadow.json"
    )
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "scripts", fname
    )
    try:
        with open(path) as f:
            cal = json.load(f).get("_meta", {}).get("calibration", {})
        return {
            k: v["s"]
            for k, v in cal.items()
            if isinstance(v, dict) and isinstance(v.get("s"), (int, float))
        }
    except (OSError, ValueError):
        return {}


def _calib_deviant_keys(probe: dict, baseline: dict) -> set:
    return {
        k
        for k, b in baseline.items()
        if k in _CALIB_LOUD_KEYS
        and isinstance(probe.get(k), (int, float))
        and probe[k] > _CALIB_RATIO * b
    }


def _host_state() -> dict:
    """Host drift instrumentation (VERDICT r5 #4): kernel pressure-stall
    averages and mean CPU frequency, recorded per pass so a judge can
    attribute a cross-round total swing to frequency scaling or
    CPU/IO steal without re-running. Best-effort — absent /proc files
    simply omit their fields."""
    out: dict = {}
    for kind in ("cpu", "io"):
        try:
            with open(f"/proc/pressure/{kind}") as f:
                line = f.readline()  # "some avg10=... avg60=... avg300=... total=..."
            d = dict(kv.split("=") for kv in line.split()[1:])
            out[f"psi_{kind}_avg10"] = float(d["avg10"])
            out[f"psi_{kind}_avg60"] = float(d["avg60"])
        except (OSError, KeyError, ValueError):
            pass
    try:
        mhz = [
            float(line.split(":")[1])
            for line in open("/proc/cpuinfo")
            if line.startswith("cpu MHz")
        ]
        if mhz:
            out["cpu_mhz_mean"] = round(sum(mhz) / len(mhz))
    except (OSError, ValueError):
        pass
    return out


def _await_quiet(wait_budget: list[float], threshold: float) -> dict:
    """Pre-pass load gate (VERDICT r4 #2): probe external load and, while
    it exceeds ``threshold`` busy cores, sleep in 60 s slices until the
    shared ``wait_budget`` (seconds, mutated in place) runs out. Returns
    the per-pass load record that goes into the artifact in-band."""
    rec = {
        "load_1m": round(os.getloadavg()[0], 2),
        "ext_busy_cores": _external_busy_cores(),
        "waited_s": 0,
        "host": _host_state(),
    }
    while rec["ext_busy_cores"] > threshold and wait_budget[0] > 0:
        step = min(60.0, wait_budget[0])
        print(
            f"  (external load {rec['ext_busy_cores']} busy cores > "
            f"{threshold}; sleeping {step:.0f}s, budget {wait_budget[0]:.0f}s)",
            file=sys.stderr,
        )
        time.sleep(step)
        wait_budget[0] -= step
        rec["waited_s"] += int(step)
        rec["load_1m"] = round(os.getloadavg()[0], 2)
        rec["ext_busy_cores"] = _external_busy_cores()
    rec["loud"] = rec["ext_busy_cores"] > threshold
    return rec


def _warm_streaming(spark) -> None:
    """Run each stateful streaming operator class once over a tiny
    (24-row, 2-chunk) synthetic replay so one-time machinery costs are
    paid before any timed pass."""
    import datetime
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from distributed_mapreduce_spark.operators.kv import ops_projection
    from distributed_mapreduce_spark.streaming.joins import interval_join
    from distributed_mapreduce_spark.streaming.replay import (
        ephemeral_dir,
        event_stream,
        run_available_now,
    )
    from distributed_mapreduce_spark.queries.streaming_queries import (
        STREAM_SHUFFLE_PARTITIONS,
    )
    from distributed_mapreduce_spark.streaming.stateful import kv_state_stream
    from distributed_mapreduce_spark.streaming.windows import tumbling_counts

    wdir = ephemeral_dir("bench_warm_")
    base = datetime.datetime(2024, 1, 1)
    n = 24
    tbl = pa.table(
        {
            "event_id": pa.array(range(n), pa.int64()),
            "ts": pa.array(
                [base + datetime.timedelta(minutes=10 * i) for i in range(n)],
                pa.timestamp("us"),
            ),
            "user_id": pa.array([i % 3 for i in range(n)], pa.int64()),
            "event_type": pa.array(
                ["click" if i % 2 == 0 else "purchase" for i in range(n)]
            ),
            "value": pa.array([float(i) for i in range(n)]),
            "props": pa.array(["{}"] * n),
        }
    )
    now = time.time()
    for c in range(2):
        path = f"{wdir}/chunk_{c:04d}.parquet"
        pq.write_table(tbl.slice(c * n // 2, n // 2), path)
        os.utime(path, (now + c, now + c))

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(STREAM_SHUFFLE_PARTITIONS))
    try:
        ev = lambda: event_stream(spark, wdir)  # noqa: E731
        run_available_now(tumbling_counts(ev(), "1 hour"), "complete")
        run_available_now(
            interval_join(
                ev().where(F.col("event_type") == "click"),
                ev().where(F.col("event_type") == "purchase"),
            ),
            "append",
        )
        run_available_now(
            kv_state_stream(ops_projection(ev()).where(F.col("op") != "get")),
            "update",
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        shutil.rmtree(wdir, ignore_errors=True)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = -1.0

    # Tier selection (VERDICT r5 #2): the driver's default run times the
    # 50 REGISTERED queries; `--tier shadow` (or SPARK_GRAFT_BENCH_TIER=
    # shadow) times the shadow tier instead, writing its full
    # record to bench_shadow_last.json — perf regressions in the shadow
    # half of the surface are otherwise invisible.
    tier = os.environ.get("SPARK_GRAFT_BENCH_TIER", "registered")
    if "--tier" in sys.argv:
        i = sys.argv.index("--tier") + 1
        # a trailing `--tier` falls through to the friendly usage error
        tier = sys.argv[i] if i < len(sys.argv) else "<missing>"
    if tier not in ("registered", "shadow"):
        print(f"unknown tier {tier!r} (registered|shadow)", file=sys.stderr)
        return 2

    from distributed_mapreduce_spark.caching import cache_scope
    from distributed_mapreduce_spark.registry import all_queries, shadow_queries
    from distributed_mapreduce_spark.session import get_spark

    spark = get_spark(app_name="bench")
    queries = all_queries() if tier == "registered" else shadow_queries()

    # Warm the engine before timing: first-job executor spin-up, shuffle
    # machinery, and the Python-worker pool (fork + pandas import per
    # core) otherwise get charged to whichever query happens to run
    # first. A warm engine is also the honest cluster analog — at real
    # scale executors and workers are long-lived.
    from pyspark.sql import functions as F

    n = spark.sparkContext.defaultParallelism
    warm = spark.range(n * 1000).repartition(n)
    force(warm.groupBy((F.col("id") % 7).alias("k")).count())

    def _identity(batches):
        yield from batches

    force(warm.mapInPandas(_identity, schema="id bigint"))

    # One tiny query through the broadcast-join + hash-expression +
    # distinct-agg machinery: the first query using each of these pays
    # one-time class-loading/codegen-cache costs (~5 s measured) that
    # otherwise land on whichever query sorts first alphabetically.
    dim = spark.range(10).select(F.col("id").alias("k"))
    probe = spark.range(2000).select(
        (F.col("id") % 10).alias("k"), F.md5(F.col("id").cast("string")).alias("h")
    )
    force(
        probe.join(F.broadcast(dim), "k")
        .groupBy("k")
        .agg(F.countDistinct("h").alias("n"))
    )

    # Touch every fixture table once (footer read + file-index cache),
    # so the alphabetically-first query isn't charged the cold scans.
    from distributed_mapreduce_spark.sources import TABLES, table

    for t in TABLES:
        table(spark, sf_dir, t).count()

    # Streaming machinery warmup (same rationale as the codegen/
    # broadcast warmups above): the first streaming query of a session
    # pays one-time costs — streaming-execution class loading, the
    # state-store provider, the Python state-protocol server — worth
    # several seconds that belong to no query's plan. Pre-pay them with
    # a 24-row synthetic replay through each stateful operator class
    # the st family uses (windowed agg, stream-stream join, Python
    # stateful fold). Best-effort: a failure here only de-warms pass 0.
    try:
        _warm_streaming(spark)
    except Exception as exc:  # pragma: no cover - warmup must never kill bench
        print(f"  (streaming warmup skipped: {exc})", file=sys.stderr)

    # Untimed full execution of the st family before pass 1 (VERDICT r5
    # #3): the tiny-replay warmup above pays the class-loading costs,
    # but the r5 artifact still showed the st queries dropping 10-20%
    # from pass 0 to pass 2 — per-plan state-store and codegen warm-up
    # that only the real queries at the real sf exercise. Each timed
    # pass rebuilds streaming state from scratch, so a prior untimed
    # execution cannot change any result. Best-effort, same rationale
    # as _warm_streaming.
    for name in sorted(queries):
        if name.startswith("st_"):
            try:
                with cache_scope(spark):
                    force(queries[name](spark, sf_dir))
            except Exception as exc:  # pragma: no cover
                print(f"  (st warmup {name} skipped: {exc})", file=sys.stderr)

    # Per-query time = min over SPARK_GRAFT_BENCH_RUNS executions
    # (default 3). This box shares hardware with unpredictable external
    # load (observed: load-avg ~10 with zero local processes, inflating
    # individual queries 2-10x at random); the minimum is the standard
    # noise-floor estimator — it converges on the true cost of OUR plan
    # while never under-reporting it (a query cannot run faster than
    # its work). Runs interleave whole passes (A B C, A B C) so a noise
    # burst cannot inflate both samples of the same query.
    runs = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")))
    # Load-aware passes (VERDICT r4 #2): gate each pass on EXTERNAL load
    # (self-load-free /proc/stat probe; threshold cores/4 busy cores),
    # sleep-retry within a bounded shared budget, and if a pass still ran
    # loud, append up to SPARK_GRAFT_BENCH_EXTRA_RUNS extra passes so the
    # min-of-passes floor gets a shot at a quiet window. All per-pass
    # loads are recorded in-band ("pass_loads").
    threshold = float(
        os.environ.get("SPARK_GRAFT_BENCH_LOAD_THRESHOLD", _cores() / 4)
    )
    wait_budget = [float(os.environ.get("SPARK_GRAFT_BENCH_MAX_WAIT_S", "900"))]
    extra_allowed = max(0, int(os.environ.get("SPARK_GRAFT_BENCH_EXTRA_RUNS", "2")))
    samples: dict[str, list[float]] = {name: [] for name in queries}
    pass_loads: list[dict] = []
    calib_base = _calib_baseline(tier)
    last_probe: list = [None]  # back-to-back passes share the boundary probe

    def run_pass() -> None:
        rec = _await_quiet(wait_budget, threshold)
        pass_loads.append(rec)
        # Fixed-work calibration BEFORE the pass (reuse the previous
        # pass's post-probe when no sleep intervened — the host state
        # it measured is seconds old and probes aren't free).
        rec["calib"] = (
            last_probe[0]
            if last_probe[0] is not None and rec["waited_s"] == 0
            else _calibration_probe()
        )
        for name in sorted(queries):
            with cache_scope(spark):
                t0 = time.perf_counter()
                force(queries[name](spark, sf_dir))
                samples[name].append(time.perf_counter() - t0)
            # Per-QUERY storage hygiene (was per-pass until r7), released
            # by the scope's exit, outside the timed span:
            # operators that persist() intermediates (jaccard/minhash/
            # simhash/contam/kmeans) and iterative operators that
            # localCheckpoint (CC, PageRank, BPE — RDD-level storage
            # catalog.clearCache never frees; observed r6: ev_q13
            # 4.4→11.2→25.2 s across passes from orphan blocks)
            # would otherwise tax every LATER query in the pass with
            # their storage: adding one more persisting query to the
            # tier measurably inflated unrelated Arrow-lane queries
            # downstream of it (observed r7: dedup_q15's persisted
            # shingle expansion took ev_q13 from ~1.1 s to ~3.2 s on
            # every pass). Each query is independent, so each timed
            # sample now runs against a clean storage state — the
            # same state its floor was recorded against.
        # Re-probe AFTER the pass and OR it into the quietness label: a
        # tenant that arrived mid-pass inflates the samples even though
        # the pre-pass probe was quiet, and quiet_floor.py's merge
        # invariant (floors are never load-inflated) leans on this
        # label. A burst that starts and ends strictly inside the pass
        # can still slip through; the post-probe closes the common case
        # of load that arrives and stays.
        rec["ext_busy_cores_after"] = _external_busy_cores()
        rec["loud"] = rec["loud"] or rec["ext_busy_cores_after"] > threshold
        rec["host_after"] = _host_state()
        # Fixed-work calibration AFTER the pass; a pass is calibration-
        # loud when some metric deviates >15% above the recorded
        # baseline at BOTH ends (sustained slow window — the class the
        # ext_busy/psi/MHz probes were blind to in r11).
        rec["calib_after"] = _calibration_probe()
        last_probe[0] = rec["calib_after"]
        if calib_base:
            dev = sorted(
                _calib_deviant_keys(rec["calib"], calib_base)
                & _calib_deviant_keys(rec["calib_after"], calib_base)
            )
            rec["calib_loud_metrics"] = dev
            if dev:
                print(
                    f"  (pass calibration-loud: {dev} > "
                    f"{_CALIB_RATIO}x baseline at both ends)",
                    file=sys.stderr,
                )
                rec["loud"] = True

    for _ in range(runs):
        run_pass()
    # Every query's min needs at least one quiet sample: keep adding
    # passes (bounded) until some pass ran quiet end-to-end. The shared
    # wait budget is usually spent by now (that's WHY every pass ran
    # loud), so replenish it — an extra pass that cannot wait for quiet
    # would start straight into the same sustained load it is trying to
    # dodge.
    while all(p["loud"] for p in pass_loads) and extra_allowed > 0:
        print("  (all passes ran loud; running an extra pass)", file=sys.stderr)
        extra_allowed -= 1
        wait_budget[0] = max(wait_budget[0], 300.0)
        run_pass()
    runs = len(pass_loads)

    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    for name in sorted(queries):
        timings[name] = round(min(samples[name]), 3)
        spreads[name] = round(max(samples[name]) / max(min(samples[name]), 1e-9), 2)
        print(
            f"  {name}: {timings[name]:.2f}s (x{spreads[name]:.1f} spread)",
            file=sys.stderr,
        )

    total = round(sum(timings.values()), 3)
    # Methodology metadata so a judge can read run quality off the
    # artifact (VERDICT r3 item 1): per-query max/min spread across
    # passes (≫1 ⇒ external-load noise on that query's samples), pass
    # count, and host load averages (1/5/15 min at end of run; this box
    # shares hardware — load ≫ SPARK_GRAFT_CPUS means the min-of-passes
    # floor itself may still be inflated). Since r3, caches are cleared
    # between passes, so every number is a COLD per-pass cost —
    # comparable to r3+, not to the warm-flattered r1/r2 files.
    metric = (
        "total_query_set_runtime"
        if tier == "registered"
        else "shadow_query_set_runtime"
    )
    artifact = (
        "bench_last.json" if tier == "registered" else "bench_shadow_last.json"
    )
    # Immutable per-run artifact (VERDICT r16 #1): the driver benches the
    # same round at several core counts; each run overwriting
    # bench_last.json destroyed the 32-core per-query evidence in r16.
    run_artifact = f"bench_{tier}_c{_cores()}.json"
    full = {
        "metric": metric,
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "passes": runs,
        "spread": spreads,
        "load_avg": [round(x, 2) for x in os.getloadavg()],
        "pass_loads": pass_loads,
        # raw per-pass samples (pass order): lets quiet-floor analysis
        # and cross-round judges see warm-up trajectories and which
        # pass the min came from, without re-running.
        "samples": {n: [round(s, 3) for s in v] for n, v in sorted(samples.items())},
        "methodology": "min over cold interleaved passes (cache_scope release after every query); load-gated passes (ext_busy_cores threshold %.1f); fixed-work calibration probes bracket each pass (loud if >%.2fx floors-file baseline at both ends)"
        % (threshold, _CALIB_RATIO),
    }
    print(json.dumps(full))
    # The full line above has grown past what the driver's tail-capture
    # retains (BENCH_r04.json kept only its tail ⇒ "parsed": null), so:
    # (a) persist the full record to a committed repo file, and
    # (b) emit a LAST, compact line that survives any tail truncation
    #     and still satisfies the one-JSON-line contract on its own.
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    for fname in (artifact, run_artifact):
        try:
            with open(os.path.join(repo_dir, fname), "w") as f:
                json.dump(full, f, indent=1, sort_keys=True)
                f.write("\n")
        except OSError as exc:  # pragma: no cover - never kill the run
            print(f"  ({fname} not written: {exc})", file=sys.stderr)
    print(
        json.dumps(
            {
                "metric": metric,
                "value": total,
                "unit": "sec",
                # per-query minima IN the compact line (VERDICT r16 #1):
                # the driver's comparator reads this line, so per-query
                # regressions/geomeans are only computable if it carries
                # the map. ~1.8 KB for 50 queries — well inside the
                # driver's observed ~3 KB tail-capture window, and the
                # compact line is LAST so a truncated head cannot cut it.
                "queries": timings,
                "total_s": total,
                "sf": sf,
                "passes": runs,
                "cpus": _cores(),
                "load_avg": full["load_avg"],
                "pass_loads": [
                    [p["load_1m"], p["ext_busy_cores"]] for p in pass_loads
                ],
                "full_artifact": run_artifact,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
