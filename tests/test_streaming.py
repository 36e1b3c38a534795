"""Structured Streaming pipeline: micro-batch outputs must equal the
batch kernel's outputs on the same input (streaming/batch parity),
including state carried across micro-batches."""

import os

import pytest
from pyspark.sql import functions as F

from log_project_spark import synth
from log_project_spark.config import PipelineConfig
from log_project_spark.operators.calibrate import calibrate
from log_project_spark.pipeline import parse_stage
from log_project_spark.operators.scoring import with_len_score
from log_project_spark.streaming.stream_pipeline import scored_stream


@pytest.fixture(scope="module")
def fixture_dir(spark, tmp_path_factory):
    """Transcripts split into 4 parquet files, each a contiguous
    turn_idx range per conv (so file-by-file arrival preserves
    per-conv turn order, the streaming contract)."""
    root = tmp_path_factory.mktemp("stream_src")
    t = synth.transcripts(spark, 1200, n_convs=12, anom_ratio=0.05, seed=7)
    scored = with_len_score(parse_stage(t), text_col="norm_text")
    base = scored.select("conv_id", "turn_idx", "score")
    n_chunks = 4
    chunk = F.floor(F.col("turn_idx") / 30)  # ~30 turns per conv per chunk
    for c in range(n_chunks):
        (
            base.where(chunk == c)
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(root / f"chunk_{c}"))
        )
    return root, base


@pytest.mark.parametrize("drift_detector", ["adwin", "none"])
@pytest.mark.parametrize("calibration", ["conformal", "no_calib"])
def test_streaming_matches_batch_kernel(
    spark, fixture_dir, tmp_path, calibration, drift_detector
):
    root, base = fixture_dir
    cfg = PipelineConfig(
        window=50, warmup=10, scope="conv_id", calibration=calibration,
        drift_detector=drift_detector,
    )
    name = f"stream_out_{calibration}_{drift_detector}"

    # batch reference result
    batch = {
        (r["conv_id"], r["turn_idx"]): (r["thr"], r["is_anom"], r["is_drift"])
        for r in calibrate(base, cfg).collect()
    }

    # streaming: feed chunks in order with maxFilesPerTrigger=1
    src_dir = str(tmp_path / "in")
    os.makedirs(src_dir)
    import shutil

    stamp = 1_700_000_000
    for c in range(4):
        chunk_dir = str(root / f"chunk_{c}")
        for f_ in sorted(os.listdir(chunk_dir)):
            if f_.endswith(".parquet"):
                dst = os.path.join(src_dir, f"{c}_{f_}")
                shutil.copy(os.path.join(chunk_dir, f_), dst)
                # explicit increasing mtimes: the file source orders
                # micro-batches by modification time, and same-ms copies
                # race under load
                stamp += 60
                os.utime(dst, (stamp, stamp))

    stream = (
        spark.readStream.schema("conv_id string, turn_idx int, score double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    out = scored_stream(stream, cfg)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["conv_id"], r["turn_idx"]): (r["thr"], r["is_anom"], r["is_drift"])
        for r in spark.sql(f"SELECT * FROM {name}").collect()
    }
    assert len(got) == len(batch)
    mismatches = [
        (k, got[k], batch[k]) for k in batch if got[k] != batch[k]
    ]
    assert not mismatches, mismatches[:5]


def test_streaming_sorts_whole_group_across_arrow_chunks(spark, tmp_path):
    """One micro-batch holds 300 turns of one conversation, written in
    reverse turn order, and a small maxRecordsPerBatch splits the group
    into many Arrow chunks. The kernel must still calibrate the turns
    in turn_idx order: outputs equal the per-event oracle."""
    import numpy as np

    from log_project_spark.adwin import Adwin
    from log_project_spark import oracle

    rng = np.random.default_rng(5)
    n = 300
    scores = rng.normal(0.0, 1.0, n).tolist()
    rows = [("c0", i, scores[i]) for i in reversed(range(n))]
    src_dir = str(tmp_path / "in")
    _feed_files(
        spark, src_dir, [rows],
        lambda rs: spark.createDataFrame(rs, "conv_id string, turn_idx int, score double"),
    )
    cfg = PipelineConfig(window=50, warmup=10, scope="conv_id", drift_detector="adwin")
    stream = (
        spark.readStream.schema("conv_id string, turn_idx int, score double")
        .parquet(src_dir)
    )
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "16")
    try:
        q = (
            scored_stream(stream, cfg)
            .writeStream.outputMode("append")
            .format("memory")
            .queryName("chunk_order_out")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    finally:
        spark.conf.set(key, prev)
    got = [
        (r["thr"], r["is_anom"], r["is_drift"])
        for r in spark.sql("SELECT * FROM chunk_order_out ORDER BY turn_idx").collect()
    ]
    want = oracle.run_stream(scores, alpha=cfg.alpha, window=50, warmup=10, detector=Adwin())
    assert got == list(zip(want.thresholds, want.is_anom, want.is_drift))


def test_streaming_fanout_sinks(spark, fixture_dir, tmp_path):
    """foreachBatch routing writes the three sinks incrementally and
    the union reloads to the full input (streaming fan-out parity)."""
    import shutil

    from log_project_spark.streaming.stream_pipeline import route_foreach_batch

    root, base = fixture_dir
    src_dir = str(tmp_path / "in")
    os.makedirs(src_dir)
    stamp = 1_700_000_000
    for c in range(4):
        chunk_dir = str(root / f"chunk_{c}")
        for f_ in sorted(os.listdir(chunk_dir)):
            if f_.endswith(".parquet"):
                dst = os.path.join(src_dir, f"{c}_{f_}")
                shutil.copy(os.path.join(chunk_dir, f_), dst)
                # explicit increasing mtimes: the file source orders
                # micro-batches by modification time, and same-ms copies
                # race under load
                stamp += 60
                os.utime(dst, (stamp, stamp))

    cfg = PipelineConfig(window=50, warmup=10, scope="conv_id", drift_detector="adwin")
    stream = (
        spark.readStream.schema("conv_id string, turn_idx int, score double")
        .option("maxFilesPerTrigger", 2)
        .parquet(src_dir)
    )
    out_dir = str(tmp_path / "sinks")
    q = (
        scored_stream(stream, cfg)
        .writeStream.foreachBatch(route_foreach_batch(out_dir))
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    total_in = base.count()
    total_out = 0
    for sink in ("anomalous", "drifting", "nominal"):
        try:
            total_out += spark.read.parquet(f"{out_dir}/sink={sink}").count()
        except Exception:
            pass
    assert total_out == total_in
    # routed rows are disjoint by construction: (conv_id, turn_idx) unique
    union = None
    for sink in ("anomalous", "drifting", "nominal"):
        try:
            part = spark.read.parquet(f"{out_dir}/sink={sink}").select("conv_id", "turn_idx")
            union = part if union is None else union.unionAll(part)
        except Exception:
            pass
    assert union.distinct().count() == total_in


def test_streaming_drift_parity_across_microbatches(spark, tmp_path):
    """ADWIN fires mid-stream (score mean shifts at turn 2048) and the
    detection + calibrator reset must land on the SAME rows whether
    the stream arrives as one batch or as 4 micro-batches — i.e. the
    pickled detector state survives micro-batch boundaries."""
    import os

    import numpy as np

    from log_project_spark.streaming.stream_pipeline import scored_stream

    rng = np.random.default_rng(3)
    n = 4096
    scores = np.concatenate(
        [rng.normal(0.5, 0.002, n // 2), rng.normal(0.52, 0.002, n // 2)]
    )
    rows = [("c0", i, float(s)) for i, s in enumerate(scores)]
    base = spark.createDataFrame(rows, "conv_id string, turn_idx int, score double")
    cfg = PipelineConfig(window=200, warmup=20, scope="conv_id", drift_detector="adwin")

    batch = {
        r["turn_idx"]: (r["thr"], r["is_anom"], r["is_drift"])
        for r in calibrate(base, cfg).collect()
    }
    n_drift = sum(1 for v in batch.values() if v[2])
    assert n_drift >= 1  # the fixture actually drifts

    src_dir = str(tmp_path / "in")
    os.makedirs(src_dir)
    stamp = 1_700_000_000
    for c in range(4):
        lo, hi = c * (n // 4), (c + 1) * (n // 4)
        (
            base.where((F.col("turn_idx") >= lo) & (F.col("turn_idx") < hi))
            .coalesce(1)
            .write.mode("overwrite")
            .parquet(str(tmp_path / f"chunk_{c}"))
        )
        import shutil

        for f_ in sorted(os.listdir(str(tmp_path / f"chunk_{c}"))):
            if f_.endswith(".parquet"):
                dst = os.path.join(src_dir, f"{c}_{f_}")
                shutil.copy(str(tmp_path / f"chunk_{c}" / f_), dst)
                stamp += 60
                os.utime(dst, (stamp, stamp))

    stream = (
        spark.readStream.schema("conv_id string, turn_idx int, score double")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = (
        scored_stream(stream, cfg)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("drift_stream_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["turn_idx"]: (r["thr"], r["is_anom"], r["is_drift"])
        for r in spark.sql("SELECT * FROM drift_stream_out").collect()
    }
    assert got == batch


def _feed_files(spark, src_dir, batches, schema_df_builder):
    """Write each batch as one parquet file with strictly increasing
    mtimes (file-source micro-batch order)."""
    import shutil

    os.makedirs(src_dir, exist_ok=True)
    stamp = 1_700_000_000
    for i, rows in enumerate(batches):
        tmp = f"{src_dir}__stage{i}"
        schema_df_builder(rows).coalesce(1).write.mode("overwrite").parquet(tmp)
        for f_ in sorted(os.listdir(tmp)):
            if f_.endswith(".parquet"):
                dst = os.path.join(src_dir, f"b{i}_{f_}")
                shutil.copy(os.path.join(tmp, f_), dst)
                stamp += 60
                os.utime(dst, (stamp, stamp))


def test_streaming_dedup_exact_across_microbatches(spark, tmp_path):
    """dedup_stream_exact drops re-occurrences WITHIN and ACROSS
    micro-batches; result set == batch dropDuplicates."""
    from log_project_spark.streaming.dedup_stream import dedup_stream_exact

    batches = [
        [("d1", "alpha"), ("d2", "beta"), ("d1", "alpha-dup-in-batch")],
        [("d2", "beta-dup-across"), ("d3", "gamma")],
        [("d1", "alpha-dup-late"), ("d4", "delta")],
    ]
    src = str(tmp_path / "in")
    _feed_files(
        spark, src, batches,
        lambda rows: spark.createDataFrame(rows, "doc_id string, text string"),
    )
    stream = (
        spark.readStream.schema("doc_id string, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        dedup_stream_exact(stream, ["doc_id"])
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_exact_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["doc_id"] for r in spark.sql("SELECT * FROM dedup_exact_out").collect()}
    n = spark.sql("SELECT count(*) AS n FROM dedup_exact_out").first()["n"]
    assert got == {"d1", "d2", "d3", "d4"} and n == 4


def test_streaming_dedup_watermark_bounded_state(spark, tmp_path):
    """dedup_stream_within_watermark: duplicate inside the delay is
    dropped; once the watermark passes the key's event time + delay,
    state is evicted and a later re-occurrence EMITS AGAIN (the
    bounded-state trade-off the module documents)."""
    from datetime import datetime

    from log_project_spark.streaming.dedup_stream import (
        dedup_stream_within_watermark,
    )

    t = lambda m: datetime(2026, 1, 1, 10, m)  # noqa: E731
    batches = [
        [("A", t(0), "first")],
        # dup of A within 10 min -> dropped; B advances the watermark
        # to 10:30 - 10m = 10:20 > 10:00 + 10m -> A's state expires
        [("A", t(2), "dup-within-delay"), ("B", t(30), "advance")],
        # eviction runs at batch END with a one-batch watermark lag, so
        # an intermediate batch lets A's state actually drop
        [("C", t(31), "settle")],
        # A re-occurs after expiry (event time above the 10:21
        # watermark, so not late-dropped) -> emits again
        [("A", t(25), "re-occurrence-after-expiry")],
    ]
    src = str(tmp_path / "in")
    _feed_files(
        spark, src, batches,
        lambda rows: spark.createDataFrame(rows, "doc_id string, ts timestamp, tag string"),
    )
    stream = (
        spark.readStream.schema("doc_id string, ts timestamp, tag string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        dedup_stream_within_watermark(stream, ["doc_id"], "ts", "10 minutes")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_wm_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.sql("SELECT doc_id, tag FROM dedup_wm_out").collect()
    tags = sorted(r["tag"] for r in rows)
    assert "dup-within-delay" not in tags
    assert tags == ["advance", "first", "re-occurrence-after-expiry", "settle"]


def test_streaming_session_windows(spark, tmp_path):
    """Backs session_window_stats's streaming-readiness claim: the
    same session_window expression under readStream + watermark
    produces, once all batches are processed, exactly the batch
    rollup (closed sessions emit in append mode as the watermark
    passes; processAllAvailable + a final far-future event flushes
    the rest)."""
    from datetime import datetime, timedelta

    from pyspark.sql import functions as F

    t0 = datetime(2026, 1, 1, 12, 0, 0)
    # two sessions for user 1 (gap 2h), one for user 2
    events = [
        (1, t0), (1, t0 + timedelta(minutes=5)),
        (2, t0 + timedelta(minutes=1)),
        (1, t0 + timedelta(hours=2)),
    ]
    flush = [(99, t0 + timedelta(days=2), )]  # advances watermark past all
    batches = [events[:2], events[2:], [(u, ts) for u, ts in flush]]
    src = str(tmp_path / "in")
    _feed_files(
        spark, src, batches,
        lambda rows: spark.createDataFrame(rows, "user_id long, ts timestamp"),
    )
    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy("user_id", F.session_window("ts", "1800 seconds"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", "n_events")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_stream")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = sorted(
        (r["user_id"], r["n_events"])
        for r in spark.sql("SELECT * FROM sess_stream").collect()
        if r["user_id"] != 99
    )
    # batch truth via the library operator
    from log_project_spark.operators import sessionize

    batch = sorted(
        (r["user_id"], r["n_events"])
        for r in sessionize.session_window_stats(
            spark.createDataFrame(events, "user_id long, ts timestamp"),
            gap_seconds=1800,
        ).collect()
    )
    assert got == batch == [(1, 1), (1, 2), (2, 1)]
