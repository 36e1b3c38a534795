"""The two workloads: what one pass runs, what it must output, and how
a traced pass splits it into layers.

A workload object is built in the measured process right after the
session: its constructor only opens the input (that is the end of
set-up). `run(i)` is one timed pass and returns its wall plus whatever
the checks need; `check(...)` runs outside the clock (pass 0, the cold
pass, also gets the once-per-run checks).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from datetime import datetime

from pyspark.sql import functions as F
from pyspark.sql import types as T

from inputs import (
    ROUTED_TURNS,
    STREAM_ALPHA,
    STREAM_CONV_LEN,
    STREAM_CONVS,
    STREAM_DELTA,
    STREAM_WARMUP,
    STREAM_WINDOW,
)

HERE = os.path.dirname(os.path.abspath(__file__))
PINS_PATH = os.path.join(HERE, "pins.json")

# One query per operator module the pipeline never calls, favouring
# the n-gram / tokenizer / calibrator paths. Every run is a fresh
# process with a cold pass, and dozens of runs per workload must fit in
# an hour, so the suite carries seven: dsir_select (dsir) and
# lm_perplexity (lm_score) are left out, each costs 2-5 s warm and more
# cold, as much as the other seven together.
QUERIES = (
    "decontam_hits",  # decontam + dedup.with_shingles
    "repetition_stats",  # text_analysis
    "minhash_signatures",  # parse.word_tokens_col + n-gram lambdas
    "ivf_assign",  # similarity
    "conformal_per_user",  # calibrate, per-user groups
    "sessionize_events",  # sessionize
    "stratified_sample_k",  # sampling
)
TABLES = ("events", "documents", "embeddings")

# Closure tolerance of the traced ship_routed pass: the per-pass layer
# self times should add up to the untraced median pass wall within 25 %.
# Both sides are timings from different passes on a shared host, so a
# miss is reported (trace.closure, a warning) and does not fail the run.
CLOSURE_TOL = 0.25


def load_pins() -> dict:
    with open(PINS_PATH) as f:
        return json.load(f)


def save_pins(pins: dict) -> None:
    with open(PINS_PATH, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")


def row_checksum(df) -> list:
    """Order-independent (row count, xor of per-row xxhash64). Doubles
    are rounded to 6 places so a different summation order cannot flip
    a last bit."""
    cols = []
    for field in df.schema.fields:
        c = df[field.name]
        if isinstance(field.dataType, (T.DoubleType, T.FloatType)):
            c = F.round(c, 6)
        cols.append(c)
    r = df.agg(F.count(F.lit(1)).alias("n"), F.bit_xor(F.xxhash64(*cols)).alias("x")).first()
    return [int(r["n"]), None if r["x"] is None else int(r["x"])]


def _xor_rows(table) -> tuple[int, int]:
    """Order-independent (rows, xor of a per-row digest) of an Arrow
    table, computed outside Spark."""
    import hashlib

    x = 0
    for row in zip(*(table.column(c).to_pylist() for c in table.column_names)):
        x ^= int.from_bytes(hashlib.blake2b(repr(row).encode(), digest_size=8).digest(), "little")
    return table.num_rows, x


class Spans:
    """In-memory spans (name, start, end, parent); written once at the
    end of the run."""

    def __init__(self):
        self.items: list[dict] = []
        self.t0 = time.perf_counter()

    def add(self, name: str, start: float, end: float, parent: str | None, **attrs) -> None:
        self.items.append(
            {"name": name, "start": start - self.t0, "end": end - self.t0, "parent": parent, **attrs}
        )


def _force(df) -> None:
    """Run a lazy frame to completion without collecting it."""
    df.write.format("noop").mode("overwrite").save()


def _dir_files_bytes(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


class ShipRouted:
    """The shipped `run_pipeline(out_dir=..., compute_tpr=True)`,
    baseline (iforest) mode, warmup=20 / window=200."""

    name = "ship_routed"

    def __init__(self, spark, in_dir: str, seed: int, work: str):
        from log_project_spark.config import PipelineConfig

        self.spark, self.seed, self.work = spark, seed, work
        self.in_path = os.path.join(in_dir, "transcripts")
        self.inp = spark.read.parquet(self.in_path)
        self.cfg = PipelineConfig(mode="baseline", warmup=20, window=200)
        self.rows = ROUTED_TURNS

    def run(self, i: int):
        from log_project_spark.pipeline import run_pipeline

        out = os.path.join(self.work, f"sinks_{i}")
        t0 = time.perf_counter()
        res = run_pipeline(self.spark, self.inp, self.cfg, out_dir=out, compute_tpr=True)
        return time.perf_counter() - t0, (res.metrics, out)

    def check(self, result, pins: dict, record: bool, once: bool) -> list[str]:
        """Read the written sinks back from disk (pyarrow, no Spark job)."""
        import pyarrow.dataset as ds

        m, out = result
        errs = []
        got = {k: m[k] for k in ("events", "anomalies", "drifts", "tpr_at_1pct_fpr")}
        if got["events"] != self.rows:
            errs.append(f"events {got['events']} != input rows {self.rows}")
        pinned = pins.get(str(self.seed))
        if pinned is None and record:
            pins[str(self.seed)] = got
        elif pinned is not None and pinned != got:
            errs.append(f"run metrics {got} != pinned {pinned}")
        cols = ["conv_id", "turn_idx", "text"]
        written = ds.dataset(out, format="parquet", partitioning="hive").to_table(
            columns=["sink", "is_drift", "is_anom", *cols]
        )
        sinks = {}
        for sink, drift, anom in zip(*(written.column(c).to_pylist() for c in ("sink", "is_drift", "is_anom"))):
            n, d, a = sinks.get(sink, (0, 0, 0))
            sinks[sink] = (n + 1, d + bool(drift), a + bool(anom))
        if set(sinks) != {"anomalous", "drifting", "nominal"}:
            errs.append(f"sinks not all non-empty: {sinks}")
        if sinks.get("anomalous", (0, 0, 0))[0] != m["anomalies"] or sum(a for _, _, a in sinks.values()) != m["anomalies"]:
            errs.append(f"anomalous sink {sinks} != anomalies {m['anomalies']}")
        if sum(n for n, _, _ in sinks.values()) != m["events"]:
            errs.append(f"sink rows {sinks} do not add up to events {m['events']}")
        if sum(d for _, d, _ in sinks.values()) != m["drifts"]:
            errs.append(f"drift flags on disk {sinks} != drifts {m['drifts']}")
        if once and _xor_rows(written.select(cols)) != _xor_rows(ds.dataset(self.in_path).to_table(columns=cols)):
            errs.append("written (conv_id, turn_idx, text) checksum != input checksum")
        shutil.rmtree(out, ignore_errors=True)
        return errs

    def traced(self, store, spans: Spans, untraced_wall: float, pins: dict) -> tuple[dict, list[str]]:
        """The calls `run_pipeline` composes, in its order, each forced
        on its own. Prefix layers (parse, enrich, calibrate) are timed
        as the wall of forcing the cumulative prefix minus the previous
        prefix; every consumer call (write, flag counts, TPR) re-runs
        the whole prefix once per kernel execution it triggers (nothing
        is cached), so its self time is its wall minus that many
        calibrate prefixes, and the prefix layers' per-pass self time is
        their per-execution time times the kernel executions of the
        pass. By construction the per-pass self times then add up to
        fit + write + flag counts + TPR, which is compared with the
        untraced pass wall (CLOSURE_TOL)."""
        from pyspark.sql import Observation

        from log_project_spark import synth
        from log_project_spark.operators import aggregate as agg
        from log_project_spark.operators import enrich as enrich_ops
        from log_project_spark.operators import route as route_ops
        from log_project_spark.operators import scoring
        from log_project_spark.operators.calibrate import calibrate
        from log_project_spark.pipeline import parse_stage

        spark, cfg = self.spark, self.cfg
        out = os.path.join(self.work, "sinks_traced")
        walls: dict[str, float] = {}
        kernels: dict[str, int] = {}
        root_start = time.perf_counter()

        def span(name, fn):
            mark = store.mark()
            t0 = time.perf_counter()
            value = fn()
            t1 = time.perf_counter()
            walls[name] = t1 - t0
            kernels[name] = sum(e["kernel"] for e in store.executions_since(mark))
            spans.add(name, t0, t1, "run_pipeline", kernel_executions=kernels[name])
            return value

        role_dim, tool_dim = synth.role_dim(spark), synth.tool_dim(spark)
        obs = Observation("parsed")
        parsed = parse_stage(self.inp)
        span("parse_stage", lambda: _force(parsed.observe(obs, F.count(F.lit(1)).alias("rows"))))
        enriched = enrich_ops.enrich_roles_tools(parsed, role_dim, tool_dim)
        span("enrich_roles_tools", lambda: _force(enriched))
        model = span("fit_baseline_model", lambda: scoring.fit_baseline_model(enriched, cfg))
        scored = calibrate(
            enriched.drop("tokens"),
            cfg,
            order_cols=("turn_idx",),
            batch_score_fn=scoring.make_broadcast_scorer(model),
            batch_score_input="norm_text",
        )
        span("calibrate", lambda: _force(scored))
        span("write_fanout", lambda: route_ops.write_fanout(scored, out))
        flags = span("flag_counts", lambda: route_ops.flag_counts(scored).first())
        tpr, _thr = span("tpr_at_fpr", lambda: agg.tpr_at_fpr(scored, "score", "label", target_fpr=0.01))
        root_end = time.perf_counter()
        spans.add("run_pipeline", root_start, root_end, None)

        consumers = ("write_fanout", "flag_counts", "tpr_at_fpr")
        n_exec = sum(kernels[c] for c in consumers)
        p_parse = walls["parse_stage"]
        p_enrich = walls["enrich_roles_tools"] - p_parse
        p_cal = walls["calibrate"] - walls["enrich_roles_tools"]
        prefix = walls["calibrate"]
        files, size = _dir_files_bytes(out)
        metrics = {
            "events": int(flags["n_total"]),
            "anomalies": int(flags["n_anom"] or 0),
            "drifts": int(flags["n_drift"] or 0),
            "tpr_at_1pct_fpr": f"{tpr:.4f}",
        }
        errs = self.check((metrics, out), pins, record=False, once=False)
        layer = {
            "parse.self_s": p_parse * n_exec,
            "parse.rows_out": int(obs.get["rows"]),
            "enrich.self_s": p_enrich * n_exec,
            "scoring.fit_s": walls["fit_baseline_model"],
            "scoring.fit_texts": min(
                enriched.select("norm_text").distinct().count(), cfg.fit_sample_rows
            ),
            "calibrate.self_s": p_cal * n_exec,
            "calibrate.groups": self.inp.select("conv_id").distinct().count(),
            "route.write_s": walls["write_fanout"] - kernels["write_fanout"] * prefix,
            "route.files": files,
            "route.bytes": size,
            "route.flag_counts_s": walls["flag_counts"] - kernels["flag_counts"] * prefix,
            "aggregate.tpr_s": walls["tpr_at_fpr"] - kernels["tpr_at_fpr"] * prefix,
            "trace.overhead_s": (root_end - root_start) - untraced_wall,
        }
        self_sum = sum(
            layer[k]
            for k in (
                "parse.self_s", "enrich.self_s", "scoring.fit_s", "calibrate.self_s",
                "route.write_s", "route.flag_counts_s", "aggregate.tpr_s",
            )
        )
        layer["trace.closure"] = self_sum / untraced_wall
        if abs(layer["trace.closure"] - 1.0) > CLOSURE_TOL:
            print(
                f"perfbench: warning: layer self times sum to {self_sum:.3f} s, untraced pass "
                f"{untraced_wall:.3f} s (tolerance {CLOSURE_TOL:.0%})",
                file=sys.stderr,
            )
        return layer, errs


class OperatorSuite:
    """QUERIES, each forced once per pass through an order-independent
    row checksum, then the streaming replay: `scored_stream` +
    `route_foreach_batch` over pre-scored turns, one turn-band file per
    micro-batch (maxFilesPerTrigger=1, availableNow)."""

    name = "operator_suite"

    def __init__(self, spark, in_dir: str, seed: int, work: str):
        import pyarrow.parquet as pq

        import __spark_entry__ as entry
        from log_project_spark.config import PipelineConfig

        self.spark, self.work = spark, work
        self.sf = os.path.join(in_dir, "tables")
        self.tables = {t: spark.read.parquet(os.path.join(self.sf, f"{t}.parquet")) for t in TABLES}
        self.stream_dir = os.path.join(in_dir, "stream")
        self.stream_cfg = PipelineConfig(
            alpha=STREAM_ALPHA, window=STREAM_WINDOW, warmup=STREAM_WARMUP, adwin_delta=STREAM_DELTA
        )
        pool = entry.queries()
        self.queries = {n: pool[n] for n in QUERIES}
        self.rows = STREAM_CONVS * STREAM_CONV_LEN + sum(
            pq.ParquetFile(os.path.join(self.sf, f"{t}.parquet")).metadata.num_rows for t in TABLES
        )
        with open(os.path.join(in_dir, "stream_expected.json")) as f:
            self.expected_sinks = json.load(f)

    def _replay(self, out: str):
        from log_project_spark.streaming.stream_pipeline import route_foreach_batch, scored_stream

        stream = (
            self.spark.readStream.schema("conv_id string, turn_idx int, score double")
            .option("maxFilesPerTrigger", 1)
            .parquet(self.stream_dir)
        )
        q = (
            scored_stream(stream, self.stream_cfg)
            .writeStream.foreachBatch(route_foreach_batch(os.path.join(out, "sinks")))
            .option("checkpointLocation", os.path.join(out, "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return [p for p in q.recentProgress if p.numInputRows > 0]

    def run(self, i: int):
        walls, sums = {}, {}
        for name, fn in self.queries.items():
            t0 = time.perf_counter()
            sums[name] = row_checksum(fn(self.spark, self.sf))
            walls[name] = time.perf_counter() - t0
        out = os.path.join(self.work, f"stream_{i}")
        t0 = time.perf_counter()
        progress = self._replay(out)
        walls["stream_replay"] = time.perf_counter() - t0
        return sum(walls.values()), (walls, sums, progress, out)

    def check(self, result, pins: dict, record: bool, once: bool) -> list[str]:
        import pyarrow.dataset as ds

        _walls, sums, _progress, out = result
        errs = []
        for name, got in sums.items():
            if name not in pins and record:
                pins[name] = got
            elif name not in pins:
                errs.append(f"{name}: no pinned checksum")
            elif pins[name] != got:
                errs.append(f"{name}: checksum {got} != pinned {pins[name]}")
        sinks = ds.dataset(os.path.join(out, "sinks"), format="parquet", partitioning="hive")
        streamed = {}
        for sink in sinks.to_table(columns=["sink"]).column("sink").to_pylist():
            streamed[sink] = streamed.get(sink, 0) + 1
        if streamed != self.expected_sinks:
            errs.append(f"streamed sinks {streamed} != per-event oracle {self.expected_sinks}")
        shutil.rmtree(out, ignore_errors=True)
        return errs

    def traced(self, store, spans: Spans, untraced_wall: float, pins: dict) -> tuple[dict, list[str]]:
        """Spans per query and per micro-batch; streaming counters
        from StreamingQueryProgress."""
        root_start = time.perf_counter()
        _wall, result = self.run(-1)
        walls, _sums, progress, _out = result
        # the run() timers are the query spans; lay them end to end
        t = root_start
        for name, w in walls.items():
            spans.add(name, t, t + w, "operator_suite")
            t += w
        stream_start = t - walls["stream_replay"]

        def stamp(p) -> float:
            return datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()

        for p in progress:
            s = stream_start + stamp(p) - stamp(progress[0])
            spans.add(f"micro_batch_{p.batchId}", s, s + p.batchDuration / 1000.0, "stream_replay")
        root_end = time.perf_counter()
        spans.add("operator_suite", root_start, root_end, None)
        errs = self.check(result, pins, record=False, once=False)

        batch_ms = sorted(p.batchDuration for p in progress)
        ops = [p.stateOperators[0] for p in progress if p.stateOperators]
        last = ops[-1] if ops else None
        layer = {f"query.{n}_s": walls[n] for n in QUERIES}
        layer.update(
            {
                "streaming.replay_s": walls["stream_replay"],
                "streaming.batches": len(progress),
                "streaming.batch_ms_p50": batch_ms[(len(batch_ms) - 1) // 2] if batch_ms else 0,
                "streaming.batch_ms_max": batch_ms[-1] if batch_ms else 0,
                "streaming.state_rows": last.numRowsTotal if last else 0,
                "streaming.state_bytes": last.memoryUsedBytes if last else 0,
                "streaming.state_commit_ms": sum(o.commitTimeMs for o in ops),
                "trace.overhead_s": (root_end - root_start) - untraced_wall,
            }
        )
        return layer, errs


WORKLOADS = {w.name: w for w in (ShipRouted, OperatorSuite)}
