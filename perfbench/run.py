#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload pipeline --seed 1 --seconds 10 --trace 0

Runs one workload of the spark-graft package in this checkout on
local[<all cores>] and prints, as the last stdout line, one JSON object
with `correct`, `attempted`, `failed` and `metrics` (the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`). The
line before it is the full record, also written to perfbench/out/.

All scratch state (fixture tables, Spark local dirs, JVM temp files,
stream checkpoints and stores) lives under perfbench/.work/ and is
removed at exit. The harness runs in its own process group; every
process of the group is stopped before this script returns.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("pipeline", "ingest-serve")
TIME_LIMIT_S = 170
DRIVER_MEM = "2g"


def _stop_group(pgid: int) -> None:
    """Kill what is left of the harness's process group (the JVM outlives
    its Python parent by a second or two of shutdown hooks, and its
    scratch dirs are removed here anyway); wait until the group is
    empty."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "distributed_mapreduce_spark", "__init__.py")):
        print(
            f"perfbench: no distributed_mapreduce_spark package under {ROOT}; "
            "run from the root of a spark-graft checkout",
            file=sys.stderr,
        )
        return 2

    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    out = os.path.join(HERE, "out")
    tmp = os.path.join(work, "tmp")
    for d in (tmp, os.path.join(work, "local"), out):
        os.makedirs(d, exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    env = dict(
        os.environ,
        PYTHONPATH=ROOT,
        TMPDIR=tmp,
        DMR_FORCE_DISK="1",
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_CPUS=cpus,
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
        # C1-only JIT: a run's JVM lives about a minute. Under the default
        # tiered C2 a pipeline pass still speeds up by 25% between passes 5
        # and 9, and the quartile spread of pass_s over seeds was 0.23;
        # with C1 the second pass is already at its steady time. C1 code is
        # slower than C2 code (on 4 cores a pipeline pass takes about 4.4 s
        # against about 3.3 s), so JVM-side time weighs more here than in a
        # long-lived driver; the record's `host.jit` field says so and
        # compare.py repeats it. A fixed-size heap (-Xms = driver memory)
        # keeps G1's heap sizing, and with it pass times and peak memory,
        # from differing between runs (spread of peak_rss_mb 0.02 against
        # 0.14 with an adaptive heap).
        PYSPARK_SUBMIT_ARGS=(
            f"--driver-java-options \"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-XX:TieredStopAtLevel=1 -Xms{DRIVER_MEM}\" "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"
        ),
    )
    cmd = [
        sys.executable,
        os.path.join(HERE, "harness.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--work", work,
        "--out", out,
    ]
    proc = subprocess.Popen(cmd, env=env, cwd=work, start_new_session=True)
    try:
        rc = proc.wait(timeout=TIME_LIMIT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIME_LIMIT_S} s", file=sys.stderr)
        rc = 124
    except KeyboardInterrupt:
        rc = 130
    finally:
        _stop_group(proc.pid)
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    return rc


if __name__ == "__main__":
    sys.exit(main())
