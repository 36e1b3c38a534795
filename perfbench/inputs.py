"""Seeded, cached input generation for the benchmark workloads.

Every input is a pure function of (workload, seed, size) and is cached
under `.perfbench/inputs/<key>/` in the checkout, so a repeated seed
reuses the files. Generation happens in the launcher, before any clock
starts, and the measured process never inherits a JVM that generation
warmed.

- `ship_routed`: the program's own load generator, `synth.transcripts`,
  with drift injected from turn 4096 in the 8192-turn conversations
  whose conv_id hashes to 0 mod 4, written conv_id-clustered and
  turn-sorted by a Spark process of its own.
- `operator_suite`: events, documents and embeddings tables shaped
  like the repository's test data (fixed seed 42, so
  per-query checksums can be pinned), plus pre-scored turns for the
  streaming replay (from the benchmark seed), split by turn band into
  one parquet file per micro-batch, and the sink counts the per-event
  oracle gives on those turns. NumPy + pyarrow, no JVM.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

# Two conversations of 8192 turns; conv00000000 hashes to 0 mod 4 and
# drifts from turn 4096. At 4096-turn conversations the drift moves the
# iforest score by less than ADWIN's cut for two 2048-turn halves at
# delta 0.002, so no drift flag fires and the drifting sink stays empty.
ROUTED_CONV_LEN = 8192
ROUTED_DRIFT_FROM = 4096
ROUTED_DRIFT_MOD = 4
ROUTED_TURNS = 2 * ROUTED_CONV_LEN
ROUTED_FILES = 2
ROUTED_ANOM_RATIO = 0.005  # rare enough that labelled turns clear the conformal threshold
GEN_BLOCK = 8  # seeds per generation process
GEN_TIMEOUT_S = 150

OPS_TABLE_SEED = 42
STREAM_CONVS = 400
STREAM_CONV_LEN = 48
STREAM_BANDS = 2  # the score shift lands on the band boundary: ADWIN needs state from batch 1
STREAM_DRIFT_FROM = 24
# alpha 0.05: at alpha 0.01 a 50-score window's threshold is its maximum
# (round(0.99 * 50) = 50), so nothing could ever be flagged
STREAM_ALPHA, STREAM_WINDOW, STREAM_WARMUP, STREAM_DELTA = 0.05, 50, 10, 0.002

VOCAB = (
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key query "
    "a scan batch"
).split()
LANGS = (("en", 0.41), ("zh", 0.15), ("es", 0.15), ("fr", 0.15), ("de", 0.14))
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")


def input_dir(root: str, workload: str, seed: int) -> str:
    if workload == "ship_routed":
        key = (
            f"ship_routed-synth-s{seed}-r{ROUTED_TURNS}-c{ROUTED_CONV_LEN}"
            f"-a{ROUTED_ANOM_RATIO}-d{ROUTED_DRIFT_FROM}"
        )
    else:
        key = (
            f"operator_suite-t{OPS_TABLE_SEED}-s{seed}-c{STREAM_CONVS}x{STREAM_CONV_LEN}"
            f"b{STREAM_BANDS}-a{STREAM_ALPHA}w{STREAM_WINDOW}"
        )
    return os.path.join(root, ".perfbench", "inputs", key)


def _publish(tmp: str, final: str) -> None:
    """Atomic hand-over: a crashed generation never leaves a half
    input under the final key."""
    with open(os.path.join(tmp, "_COMPLETE"), "w") as f:
        f.write("ok\n")
    shutil.rmtree(final, ignore_errors=True)
    os.rename(tmp, final)


def is_complete(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_COMPLETE"))


def write_routed(seed: int, root: str, env: dict) -> None:
    """`synth.transcripts` with drift from turn ROUTED_DRIFT_FROM in the
    conversations whose conv_id hashes to 0 mod ROUTED_DRIFT_MOD, written
    as ROUTED_FILES files of whole conversations, conv_id-clustered and
    turn-sorted (the layout of bench.py's `_write_input`).

    Runs in a short-lived Spark process of its own, so the measured
    process never inherits a JVM that generation warmed; every process
    it starts is stopped before this returns. Its JVM start costs more
    than the generation itself, so one process writes every missing
    input of the block of GEN_BLOCK seeds around `seed`."""
    import subprocess

    import sparkstats

    first = seed - seed % GEN_BLOCK
    todo = [
        s for s in range(first, first + GEN_BLOCK)
        if not is_complete(input_dir(root, "ship_routed", s))
    ]
    if not todo:
        return
    for s in todo:
        tmp = input_dir(root, "ship_routed", s) + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
    cmd = [sys.executable, os.path.abspath(__file__), root, *map(str, todo)]
    proc = subprocess.Popen(cmd, env=env, stdout=subprocess.DEVNULL, start_new_session=True)
    try:
        proc.wait(timeout=GEN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        pass
    finally:
        sparkstats.kill_session(proc.pid)
        proc.wait()
    if proc.returncode == 0:
        for s in todo:
            final = input_dir(root, "ship_routed", s)
            _publish(final + ".tmp", final)


def _generate_routed(root: str, seeds: list[int]) -> None:
    from pyspark.sql import functions as F

    from log_project_spark import synth
    from log_project_spark.session import get_spark

    spark = get_spark(app_name="perfbench_gen", master="local[2]",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    for seed in seeds:
        (
            synth.transcripts(
                spark, ROUTED_TURNS, n_convs=ROUTED_TURNS // ROUTED_CONV_LEN,
                anom_ratio=ROUTED_ANOM_RATIO, seed=seed, hot_frac=0.0,
                drift_convs_mod=ROUTED_DRIFT_MOD, drift_from=ROUTED_DRIFT_FROM,
            )
            .repartitionByRange(ROUTED_FILES, F.xxhash64("conv_id"))
            .sortWithinPartitions("conv_id", "turn_idx")
            .write.parquet(os.path.join(input_dir(root, "ship_routed", seed) + ".tmp", "transcripts"))
        )
    spark.stop()


def _documents(rng, n: int):
    import numpy as np

    langs = np.array([lang for lang, _ in LANGS])
    probs = np.array([p for _, p in LANGS])
    vocab = np.array(VOCAB)
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:  # exact duplicates for the dedup paths
            texts.append(texts[int(rng.integers(0, i))])
            continue
        texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(langs, size=n, p=probs),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _tables(seed: int) -> dict:
    """The tables the suite's queries read, column for column the shape
    of the repository's test tables, at about a fifth of their bench
    scale."""
    import numpy as np
    import pyarrow as pa

    rng = np.random.default_rng(seed)
    n_ev, n_users = 20_000, 300
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ev_ts = t0 + np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)).astype("timedelta64[us]")
    events = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ev_ts,
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(np.array(EVENT_TYPES), n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    emb = rng.standard_normal((500, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    embeddings = pa.table(
        {
            "vec_id": np.arange(500, dtype=np.int64),
            "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
            "label": rng.integers(0, 10, 500).astype(np.int32),
        }
    )
    return {
        "events": events,
        "documents": _documents(rng, 1_000),
        "embeddings": embeddings,
    }


def _stream_scores(seed: int) -> dict:
    """Pre-scored turns: lognormal scores per conversation; every
    fourth conversation shifts its mean from turn STREAM_DRIFT_FROM on,
    so both the conformal threshold and ADWIN have work to do."""
    import numpy as np

    rng = np.random.default_rng(seed)
    conv = np.repeat(np.arange(STREAM_CONVS), STREAM_CONV_LEN)
    turn = np.tile(np.arange(STREAM_CONV_LEN), STREAM_CONVS).astype(np.int32)
    score = rng.lognormal(3.0, 0.3, conv.size)
    shifted = (conv % 4 == 0) & (turn >= STREAM_DRIFT_FROM)
    score[shifted] *= 1.6
    return {"conv_id": np.array([f"conv{c:08d}" for c in conv]), "turn_idx": turn, "score": score}


def _oracle_sinks(scores: dict) -> dict:
    """Per-sink counts from `oracle.run_stream` (the per-event
    reference the batch kernel is tested against), one conversation at
    a time in turn order, with the streaming workload's settings."""
    from log_project_spark.adwin import Adwin
    from log_project_spark.oracle import run_stream

    counts = {"anomalous": 0, "drifting": 0, "nominal": 0}
    score = scores["score"]
    for c in range(STREAM_CONVS):  # rows are conversation-major, turn-sorted
        part = score[c * STREAM_CONV_LEN:(c + 1) * STREAM_CONV_LEN]
        res = run_stream(
            [float(s) for s in part], alpha=STREAM_ALPHA, window=STREAM_WINDOW,
            warmup=STREAM_WARMUP, detector=Adwin(delta=STREAM_DELTA),
        )
        for anom, drift in zip(res.is_anom, res.is_drift):
            counts["anomalous" if anom else "drifting" if drift else "nominal"] += 1
    return {k: v for k, v in counts.items() if v}


def write_operator_suite(seed: int, final: str) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    tmp = final + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "tables"))
    for name, cols in _tables(OPS_TABLE_SEED).items():
        table = cols if isinstance(cols, pa.Table) else pa.table(cols)
        pq.write_table(table, os.path.join(tmp, "tables", f"{name}.parquet"))
    # one file per turn band = one micro-batch each (maxFilesPerTrigger=1);
    # explicit increasing mtimes fix the file source's arrival order
    cols = _stream_scores(seed)
    with open(os.path.join(tmp, "stream_expected.json"), "w") as f:
        json.dump(_oracle_sinks(cols), f)
    scores = pa.table(cols)
    band_len = STREAM_CONV_LEN // STREAM_BANDS
    bands = os.path.join(tmp, "stream")
    os.makedirs(bands)
    turn = scores.column("turn_idx").to_numpy()
    for b in range(STREAM_BANDS):
        path = os.path.join(bands, f"band_{b:02d}.parquet")
        pq.write_table(scores.filter(pa.array(turn // band_len == b)), path)
        os.utime(path, (1_700_000_000 + 60 * b,) * 2)
    _publish(tmp, final)


if __name__ == "__main__":
    # the generation process of write_routed: <checkout root> <seed>...
    _generate_routed(sys.argv[1], [int(a) for a in sys.argv[2:]])
