"""Steadiness self-check: run one workload `--sets` times over seeds
1..`--seeds` and report, per end-to-end metric, each set's median and
quartile spread (IQR / median) against the bound in BENCHMARK.json,
plus the drift of each set's median from the first set's.

The gate is the acceptance rule the benchmark is held to: every spread
within its bound except that of `setup_s`, and every metric's drift,
`setup_s` included, within its bound. `setup_s` is one JVM start per
run, so its spread is reported and flagged but does not fail the check.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys


def steady(args) -> int:
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    sets = []
    for s in range(args.sets):
        values: dict[str, list[float]] = {k: [] for k in bounds}
        for seed in range(1, args.seeds + 1):
            cmd = [
                *spec["command"], "--workload", args.workload, "--seed", str(seed),
                "--seconds", str(spec["run_seconds"]), "--trace", "0",
            ]
            out = subprocess.run(cmd, capture_output=True, text=True)
            if out.returncode != 0:
                print(out.stderr[-2000:], file=sys.stderr)
                return 1
            res = json.loads(out.stdout.strip().splitlines()[-1])
            for k in bounds:
                values[k].append(res["metrics"][k]["value"])
            print(f"set {s} seed {seed}: " + json.dumps({k: round(v[-1], 4) for k, v in values.items()}),
                  flush=True)
        sets.append(values)
    return report(args.workload, sets, bounds)


def report(workload: str, sets: list[dict], bounds: dict) -> int:
    ok = True
    for k, m in bounds.items():
        first = statistics.median(sets[0][k])
        for s, set_values in enumerate(sets):
            values = set_values[k]
            q1, med, q3 = statistics.quantiles(values, n=4)
            spread = (q3 - q1) / med
            worse = (med - first) / first if m["better"] == "lower" else (first - med) / first
            flag = ""
            if spread > m["bound"]:
                flag = " SPREAD>BOUND"
                if k == "setup_s":
                    flag += " (not gated)"
                else:
                    ok = False
            if worse > m["bound"]:
                flag, ok = flag + " DRIFT>BOUND", False
            print(f"{workload} {k:12s} set {s}: median {med:.4f} {m['unit']} "
                  f"spread {spread:.3f} (bound {m['bound']}, target < {m['bound'] / 3:.3f}) "
                  f"drift {worse:+.3f}{flag}")
    return 0 if ok else 1
