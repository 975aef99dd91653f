#!/usr/bin/env python3
"""Compare benchmark results of two commits, metric by metric.

    python3 perfbench/compare.py BASE.json [BASE.json ...] -- NEW.json [NEW.json ...]

Each file is a full record written by run.py (perfbench/out/result_*.json).
Results are grouped by workload; for every metric the medians of both
sides, their quartile spread and the ratio new/base are printed, and a
metric that got worse by more than its BENCHMARK.json bound is flagged.

Refuses (exit 2) to compare records taken at different `cpus` or JIT
tiers, from different workloads, or with and without tracing: those
measure different work.

The benchmark's JVM runs C1-only (see run.py). C1 code is slower than
the tiered C2 code a long-lived driver runs, so a gain from moving work
out of the JVM (into Python or NumPy) reads larger here than it would
be; the comparison says so when the records are C1.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(paths):
    recs = []
    for p in paths:
        with open(p) as f:
            recs.append(json.load(f))
    return recs


def _key(rec):
    return (rec["workload"], rec["host"]["cpus"], rec["host"]["jit"], rec["trace"])


def _spread(xs):
    """Quartile distance as a share of the median (0 for fewer than two
    values or a zero median)."""
    med = statistics.median(xs)
    if len(xs) < 2 or med == 0:
        return 0.0
    q = statistics.quantiles(xs, n=4)
    return (q[2] - q[0]) / med


def main(argv) -> int:
    if "--" not in argv:
        print(__doc__, file=sys.stderr)
        return 2
    cut = argv.index("--")
    base, new = _load(argv[:cut]), _load(argv[cut + 1 :])
    if not base or not new:
        print("compare: need at least one record on each side", file=sys.stderr)
        return 2
    keys = {_key(r) for r in base + new}
    if len(keys) != 1:
        print(
            "compare: refused, the records differ in workload, cpus, JIT tier or "
            f"tracing: {sorted(keys, key=str)}",
            file=sys.stderr,
        )
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    section = "layers" if base[0]["trace"] else "metrics"
    worse = 0
    for name in sorted(base[0][section]):
        b = [r[section][name]["value"] for r in base if name in r[section]]
        n = [r[section][name]["value"] for r in new if name in r[section]]
        if not b or not n:
            continue
        mb, mn = statistics.median(b), statistics.median(n)
        ratio = mn / mb if mb else float("nan")
        flag = ""
        m = bounds.get(name)
        if m is not None:
            lower = m["better"] == "lower"
            if (ratio > 1 + m["bound"]) if lower else (ratio < 1 - m["bound"]):
                flag = "  WORSE than bound"
                worse += 1
        print(
            f"{name:28s} base {mb:12.4f} (spread {_spread(b):.3f}, n={len(b)})  "
            f"new {mn:12.4f} (spread {_spread(n):.3f}, n={len(n)})  "
            f"new/base {ratio:.3f}{flag}"
        )
    if base[0]["host"]["jit"] == "C1":
        print(
            "note: measured with a C1-only JVM; JVM-side time weighs more than "
            "under tiered C2, so a gain from moving work from the JVM into "
            "Python or NumPy is overstated here (C2 control: a pipeline pass "
            "took about 3.3 s against 4.4 s on 4 cores)"
        )
    return 1 if worse else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
