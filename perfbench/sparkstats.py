"""Counters read from outside the program: the JVM status stores and
/proc.

Spark keeps `SQLAppStatusStore` (one entry per SQL execution, with its
plan and SQL metrics) and `AppStatusStore` (stage and task summaries)
even with the UI disabled, so a pass can be profiled after the fact
without touching program code. SQL metric values arrive formatted
("total (min, med, max ...)\\n5.8 MiB (...)"); the totals are parsed
back to bytes / seconds at the precision Spark prints.
"""

from __future__ import annotations

import os
import re
import signal
import time

KERNEL_NODE = "MapInArrow"  # the calibrate kernel's physical node

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_STAGE = re.compile(r"\(stage (\d+)\.(\d+): task \d+\)")


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric, in bytes, seconds or units."""
    line = text.split("\n")[-1].strip()
    head = line.split(" (")[0].split()
    if len(head) == 2 and head[1] in _SIZE:
        return float(head[0].replace(",", "")) * _SIZE[head[1]]
    if len(head) == 2 and head[1] in _TIME:
        return float(head[0].replace(",", "")) * _TIME[head[1]]
    return float(head[0].replace(",", ""))


def _scala_list(seq) -> list:
    it = seq.iterator()
    out = []
    while it.hasNext():
        out.append(it.next())
    return out


class StatusStore:
    """Reads the executions one block of driver code caused: take a
    `mark()` before it, then `executions_since(mark)` after it."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext._jsc.sc()
        self.sql = spark._jsparkSession.sharedState().statusStore()

    def _drain(self) -> None:
        # the listener bus is asynchronous: wait until it has applied
        # every event of the actions that already returned
        self.sc.listenerBus().waitUntilEmpty()

    def mark(self) -> int:
        self._drain()
        return int(self.sql.executionsCount())

    def executions_since(self, mark: int) -> list[dict]:
        self._drain()
        out = []
        for e in _scala_list(self.sql.executionsList())[mark:]:
            names = {m.accumulatorId(): m.name() for m in _scala_list(e.metrics())}
            raw = {}
            vals = self.sql.executionMetrics(e.executionId())
            for kv in _scala_list(vals):
                name = names.get(kv._1())
                if name is not None:
                    raw.setdefault(name, []).append(kv._2())
            out.append({"kernel": KERNEL_NODE in e.physicalPlanDescription(), "metrics": raw})
        return out

    def stage_skew(self, stage: tuple[int, int]) -> float:
        """max / median task duration of one stage attempt."""
        gw = self.spark.sparkContext._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summ = self.sc.statusStore().taskSummary(stage[0], stage[1], q)
        if summ.isEmpty():
            return 1.0
        dur = summ.get().duration()
        med, hi = float(dur.apply(0)), float(dur.apply(1))
        return hi / med if med > 0 else 1.0


def summarize(store: StatusStore, execs: list[dict]) -> dict:
    """Fold a pass's executions into the `pipeline.*` counters and the
    kernel stage's task skew."""

    def total(name: str) -> float:
        return sum(parse_metric(v) for e in execs for v in e["metrics"].get(name, []))

    # the kernel stage: where the slowest Python task of the pass ran
    worst, stage = -1.0, None
    for e in execs:
        for v in e["metrics"].get("time to run Python workers", []):
            m = _STAGE.search(v)
            if m and parse_metric(v) > worst:
                worst, stage = parse_metric(v), (int(m.group(1)), int(m.group(2)))
    return {
        "pipeline.sql_executions": len(execs),
        "pipeline.kernel_executions": sum(e["kernel"] for e in execs),
        "pipeline.py_bytes_sent": total("data sent to Python workers"),
        "pipeline.py_bytes_returned": total("data returned from Python workers"),
        "pipeline.py_run_s": total("time to run Python workers"),
        "pipeline.py_init_s": total("time to initialize Python workers"),
        "pipeline.shuffle_bytes": total("shuffle bytes written"),
        "calibrate.task_skew": store.stage_skew(stage) if stage else 1.0,
    }


def _session_pids(sid: int) -> list[int]:
    """Live processes of one session. The session, not the process
    group: PySpark's Python daemon moves itself into a group of its own
    (`os.setpgid(0, 0)`), but it and the workers it forks stay in the
    session the measured process was started in."""
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                rest = f.read().decode("ascii", "replace")
        except OSError:
            continue
        fields = rest[rest.rindex(")") + 2:].split()
        if int(fields[3]) == sid and fields[0] != "Z":  # zombies hold no resources
            pids.append(int(name))
    return pids


def session_cpu_s(sid: int) -> float:
    """utime+stime of the session's live processes (the driver, its
    JVM, the Python daemon and the workers it forked) plus cutime+cstime,
    the time of children they reaped: a Python worker that exits between
    two readings moves its time into its parent's and is still counted."""
    clk = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _session_pids(sid):
        try:
            with open(f"/proc/{pid}/stat", "rb") as f:
                rest = f.read().decode("ascii", "replace")
        except OSError:
            continue
        fields = rest[rest.rindex(")") + 2:].split()
        total += sum(int(v) for v in fields[11:15])
    return total / clk


def session_peak_rss_mb(sid: int) -> float:
    """Sum of VmHWM (peak resident set) over the session's live processes."""
    kb = 0
    for pid in _session_pids(sid):
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024.0


def kill_session(sid: int, timeout_s: float = 30.0) -> None:
    """SIGKILL every process of the session and wait until none is
    left."""
    t = time.time() + timeout_s
    while time.time() < t:
        pids = _session_pids(sid)
        if not pids:
            return
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)
