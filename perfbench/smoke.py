#!/usr/bin/env python3
"""Smoke check of the benchmark itself.

    python3 perfbench/smoke.py

Runs every workload of BENCHMARK.json for one second, untraced and
traced, and checks the result contract: the last stdout line has exactly
`correct`, `attempted`, `failed` and `metrics`; every metric named in
BENCHMARK.json is printed, finite, and carries its unit; the run was
correct. It also checks that the full record carries every end-to-end
metric with a unit. Exit status 0 when every check passes.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def check_run(spec: dict, workload: str, trace: int) -> list[str]:
    cmd = [*spec["command"], "--workload", workload, "--seed", "0",
           "--seconds", "1", "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    where = f"{workload} trace={trace}"
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        return [f"{where}: exit {p.returncode}; stderr tail: {p.stderr[-800:]}"]
    res, record = json.loads(lines[-1]), json.loads(lines[-2])
    errs = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"{where}: result keys {sorted(res)}")
    if res.get("correct") is not True or res.get("failed") != 0:
        errs.append(f"{where}: not correct: {record.get('failures')}")
    if not isinstance(res.get("attempted"), int) or res["attempted"] < 1:
        errs.append(f"{where}: attempted={res.get('attempted')!r}")
    wanted = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = res.get("metrics", {})
    if set(got) != set(wanted):
        errs.append(f"{where}: metrics {sorted(got)} != {sorted(wanted)}")
    for name, unit in wanted.items():
        m = got.get(name, {})
        v = m.get("value")
        if not isinstance(v, (int, float)) or not math.isfinite(v):
            errs.append(f"{where}: {name} value {v!r}")
        if m.get("unit") != unit:
            errs.append(f"{where}: {name} unit {m.get('unit')!r} != {unit!r}")
    for name, m in record["metrics"].items():
        if not (isinstance(m.get("value"), (int, float)) and math.isfinite(m["value"])
                and m.get("unit")):
            errs.append(f"{where}: record metric {name} = {m}")
    return errs


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    errs = []
    for w in spec["workloads"]:
        for trace in (0, 1):
            e = check_run(spec, w["name"], trace)
            print(f"{w['name']} trace={trace}: {'ok' if not e else 'FAILED'}", flush=True)
            errs += e
    for e in errs:
        print(e, file=sys.stderr)
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())
