#!/usr/bin/env python3
"""Repository benchmark: the shipped pipeline and the operator suite,
end to end and layer by layer.

    python3 perfbench/run.py --workload ship_routed --seed 1 --seconds 5 --trace 0

Run from the root of a checkout. The last stdout line is one JSON
object {"correct", "attempted", "failed", "metrics"}: with --trace 0
the end-to-end metrics of BENCHMARK.json, with --trace 1 its per-layer
metrics. The line before it stamps nproc, the source revision and the
Spark version. Exit code 0 only when every output check passed.

Load model: closed loop, one client. Each run is a fresh driver
process (local[2]: 2 task slots + 2 Python workers on a 4-core host),
which first runs one cold pass, then warm passes back to back until
--seconds have elapsed (at least one). Timings are medians over the
warm passes; cold_pass_s is the first pass; setup_s is the measured
process's time from spawn to a ready session with the input opened
(one sample per run: each further sample is another JVM start, which
the run-time budget of 22 runs per workload cannot carry). Input
generation happens before, in its own process, and is cached under
.perfbench/inputs/.

With --trace 1 the run adds one traced pass after the warm passes: the
same public calls, each wrapped in a span (spans are kept in memory
and written to .perfbench/traces/ at the end), plus the counters of
Spark's status stores for the last warm pass.

Steadiness self-check (two sets of seeded runs of this tree, spread
and median drift per metric against BENCHMARK.json's bounds):

    python3 perfbench/run.py --steady --workload ship_routed --sets 2

Pins: `--record-pins` adds the run's outputs to perfbench/pins.json
where no pin exists yet (ship_routed: per-seed events/anomalies/
drifts/TPR; operator_suite: per-query row checksums); existing pins
are checked as always.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402
import sparkstats  # noqa: E402

SLOTS = 2  # local[2]
SHUFFLE_PARTITIONS = 2 * SLOTS  # session.py's "~2-3x total executor cores"
DRIVER_MEM = "2g"  # the program default, 24g, exceeds the RAM of a 15 GB host
RUN_DEADLINE_S = 170
PROTO = "@@perfbench "


def _env(root: str, work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env.update(
        {
            # executors import the program from the checkout
            "PYTHONPATH": os.pathsep.join([root, HERE]),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_GRAFT_SHUFFLE_PARTITIONS": str(SHUFFLE_PARTITIONS),
            "SPARK_LOCAL_DIRS": tmp,
            "TMPDIR": tmp,
            # every JVM, spark-submit's launcher included: scratch files
            # stay in the checkout
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "PYTHONHASHSEED": "0",
        }
    )
    return env


def _session():
    from log_project_spark.session import get_spark

    return get_spark(master=f"local[{SLOTS}]", extra_conf={"spark.ui.showConsoleProgress": "false"})


def _revision(root: str) -> str:
    """git HEAD when the checkout is a repository, else a digest of
    the program's source files."""
    if os.path.exists(os.path.join(root, ".git")):
        try:
            out = subprocess.run(
                ["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
            )
            if out.returncode == 0:
                return out.stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    h = hashlib.sha256()
    paths = [os.path.join(root, "__spark_entry__.py")]
    for d, _dirs, names in os.walk(os.path.join(root, "log_project_spark")):
        paths += [os.path.join(d, n) for n in names if n.endswith(".py")]
    for p in sorted(paths):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return "src-" + h.hexdigest()[:16]


def _spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def _emit(obj: dict) -> None:
    print(PROTO + json.dumps(obj), flush=True)


# --------------------------------------------------------------------------
# the measured process


def worker(args) -> None:
    from workloads import WORKLOADS, Spans, load_pins, save_pins

    spark = _session()
    wl = WORKLOADS[args.workload](spark, args.input, args.seed, args.work)
    setup_s = time.time() - args.spawn_ts

    sid = os.getsid(0)
    store = sparkstats.StatusStore(spark)
    all_pins = load_pins()
    pins = all_pins.setdefault(args.workload, {})
    failed, attempted, errors = 0, 0, []

    def attempt(i: int):
        """One pass: timed, counted, then checked outside the clock. A
        pass that raises counts as failed and the run goes on."""
        nonlocal attempted, failed
        attempted += 1
        # status-store counters only where they are reported: warm passes of a traced run
        counted = args.trace and i > 0
        mark = store.mark() if counted else None
        cpu0 = sparkstats.session_cpu_s(sid)
        try:
            wall, result = wl.run(i)
            cpu = sparkstats.session_cpu_s(sid) - cpu0
            stats = sparkstats.summarize(store, store.executions_since(mark)) if counted else None
            errs = wl.check(result, pins, args.record_pins, once=(i == 0))
        except Exception as e:  # noqa: BLE001 - reported, not swallowed
            wall = cpu = stats = None
            errs = [f"{type(e).__name__}: {str(e)[:3000]}"]
        if errs:
            failed += 1
            errors.extend(f"pass {i}: {e}" for e in errs)
            wall = None
        return wall, cpu, stats

    cold, _, _ = attempt(0)
    walls, cpus, layer_stats = [], [], {}
    t_end = time.perf_counter() + args.seconds
    i = 1
    while True:
        wall, cpu, stats = attempt(i)
        if wall is not None:
            walls.append(wall)
            cpus.append(cpu)
            layer_stats = stats
        i += 1
        if time.perf_counter() >= t_end:
            break

    out = {
        "setup_s": setup_s,
        "cold_pass_s": cold,
        "walls": walls,
        "cpus": cpus,
        "rows": wl.rows,
        "spark_version": spark.version,
    }
    if args.trace and walls:
        spans = Spans()
        layer, errs = wl.traced(store, spans, statistics.median(walls), pins)
        attempted += 1
        if errs:
            failed += 1
            errors.extend(f"traced pass: {e}" for e in errs)
        out["layer"] = {**layer_stats, **layer}
        out["spans"] = spans.items
    out["peak_rss_mb"] = sparkstats.session_peak_rss_mb(sid)
    out.update(attempted=attempted, failed=failed, errors=errors)
    if args.record_pins and not failed:
        save_pins(all_pins)
    _emit(out)
    # no spark.stop(): the launcher kills the whole session
    os._exit(0)


# --------------------------------------------------------------------------
# launcher


class ChildFailed(RuntimeError):
    pass


def _run_worker(args, deadline: float) -> dict:
    """Run the measured process (this script with --worker) in a new
    session; return its protocol line. Every process of the session is
    stopped before returning. Nothing in it holds state worth a graceful
    shutdown: outputs were checked and scratch is removed by the
    launcher."""
    cmd = [
        sys.executable, os.path.abspath(__file__), "--worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--root", args.root, "--input", args.input, "--work", args.work,
        "--spawn-ts", repr(time.time()), *(["--record-pins"] if args.record_pins else []),
    ]
    proc = subprocess.Popen(
        cmd, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        env=_env(args.root, args.work), cwd=args.root, start_new_session=True,
    )
    try:
        stdout, _ = proc.communicate(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        sparkstats.kill_session(proc.pid)
        proc.wait()
        raise ChildFailed("the measured process exceeded the run deadline")
    finally:
        sparkstats.kill_session(proc.pid)
    lines = [ln for ln in stdout.splitlines() if ln.startswith(PROTO)]
    if proc.returncode != 0 or not lines:
        raise ChildFailed(f"the measured process exited with {proc.returncode}")
    return json.loads(lines[-1][len(PROTO):])


def _ensure_input(args) -> None:
    if inputs.is_complete(args.input):
        return
    os.makedirs(os.path.dirname(args.input), exist_ok=True)
    sys.path.insert(0, args.root)
    if args.workload == "ship_routed":
        inputs.write_routed(args.seed, args.root, _env(args.root, args.work))
    else:
        inputs.write_operator_suite(args.seed, args.input)
    if not inputs.is_complete(args.input):
        raise ChildFailed("input generation failed")


def launch(args) -> int:
    deadline = time.time() + RUN_DEADLINE_S
    args.root = os.getcwd()
    if not (
        os.path.isfile(os.path.join(args.root, "log_project_spark", "__init__.py"))
        and os.path.isfile(os.path.join(args.root, "__spark_entry__.py"))
    ):
        print("perfbench: run from the root of a checkout of the program", file=sys.stderr)
        return 2
    args.input = inputs.input_dir(args.root, args.workload, args.seed)
    args.work = os.path.join(args.root, ".perfbench", "work", str(os.getpid()))
    os.makedirs(args.work, exist_ok=True)
    try:
        _ensure_input(args)
        w = _run_worker(args, deadline)
    except ChildFailed as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    finally:
        shutil.rmtree(args.work, ignore_errors=True)

    for e in w["errors"]:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
    if w["cold_pass_s"] is None or not w["walls"]:
        print("perfbench: no pass completed", file=sys.stderr)
        return 1
    context = {
        "workload": args.workload,
        "seed": args.seed,
        "nproc": len(os.sched_getaffinity(0)),
        "revision": _revision(args.root),
        "spark_version": w["spark_version"],
        "master": f"local[{SLOTS}]",
        "shuffle_partitions": SHUFFLE_PARTITIONS,
        "setup_s": w["setup_s"],
        "cold_pass_s": w["cold_pass_s"],
        "warm_walls": w["walls"],
        "errors": w["errors"],
    }
    if args.trace:
        trace_dir = os.path.join(args.root, ".perfbench", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        with open(os.path.join(trace_dir, f"{args.workload}-s{args.seed}.json"), "w") as f:
            json.dump({"context": context, "spans": w["spans"], "layer": w["layer"]}, f, indent=1)
    spec = _spec(args.root)
    if args.trace:
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        values = w["layer"]
    else:
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        wall = statistics.median(w["walls"])
        values = {
            "rows_per_s": w["rows"] / wall,
            "pass_wall_s": wall,
            "cold_pass_s": w["cold_pass_s"],
            "cpu_s": statistics.median(w["cpus"]),
            "setup_s": w["setup_s"],
            "peak_rss_mb": w["peak_rss_mb"],
        }
    result = {
        "correct": w["failed"] == 0,
        "attempted": w["attempted"],
        "failed": w["failed"],
        "metrics": {k: {"value": values.get(k, 0), "unit": u} for k, u in units.items()},
    }
    print("# context " + json.dumps(context))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=("ship_routed", "operator_suite"), required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, help="default: run_seconds of BENCHMARK.json")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record-pins", action="store_true")
    p.add_argument("--steady", action="store_true")
    p.add_argument("--seeds", type=int, default=10)
    p.add_argument("--sets", type=int, default=2)
    p.add_argument("--worker", action="store_true")
    p.add_argument("--root")
    p.add_argument("--input")
    p.add_argument("--work")
    p.add_argument("--spawn-ts", type=float)
    args = p.parse_args()
    if args.worker:
        sys.path.insert(0, args.root)
        worker(args)
        return 0
    if args.seconds is None:
        args.seconds = _spec(os.getcwd())["run_seconds"]
    if args.steady:
        from steady import steady

        return steady(args)
    return launch(args)


if __name__ == "__main__":
    sys.exit(main())
