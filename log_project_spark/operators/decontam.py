"""Benchmark decontamination: flag training documents that share
token n-grams with an evaluation/benchmark corpus.

A standard step of every large-scale pretraining pipeline (publicly
described in the GPT-3 paper's appendix C "measuring and preventing
memorization of benchmarks" and in the open-source Pile /
Dolma-style curation stacks): before training, any document whose
token stream contains an n-gram (n ~ 13 in the published setups)
that also appears in a held-out benchmark is flagged or dropped, so
downstream eval numbers are not inflated by verbatim leakage. The
reference has no notion of this (it streams logs, not training
corpora); like dedup/ANN/sampling, it is an engine-level addition.

Scale design (the asymmetry IS the design): the benchmark side is
eval-set sized (10^3-10^6 documents — driver-broadcastable after
distinct-gram projection), the training side is the 100 TB table.

- Benchmark grams: distinct n-token shingles, projected to
  `xxhash64(gram)` — an 8-byte set, deduplicated BEFORE the join so
  the broadcast is bounded by benchmark vocabulary, not benchmark
  length.
- Training side: per-document distinct shingles, hashed the same
  way, then a **broadcast LEFT SEMI join** against the benchmark
  gram set — map-side, zero shuffle of the training table. The only
  exchange in the whole operator is the per-document hit count
  (`groupBy(id)`), whose input is bounded by the contamination
  volume (hit grams), not the corpus size.
- A 64-bit gram-hash collision can only ADD a flagged document
  (false positive on the conservative side — the side decontam
  errs on by design); set `hash_grams=False` for the byte-exact
  audit join on the gram strings.

`broadcast_bench=False` switches to a shuffle hash join keyed on the
gram hash for the (rare) case of a benchmark too large to broadcast;
the training side then shuffles its distinct-gram projection (id,
hash) — still never the text payload.

Reference parity note: no reference counterpart
(/root/reference has no corpus-curation stage); semantics follow the
public n-gram-overlap definition above.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import distinct_gram_rows


def _gram_rows(
    df: DataFrame, id_col: str, tokens_col: str, n: int, hash_grams: bool
) -> DataFrame:
    """(id, gram) rows: distinct n-token grams per document (docs
    shorter than n tokens emit none — they cannot contain a
    contaminating n-gram)."""
    out = distinct_gram_rows(df, id_col, tokens_col, n).withColumnRenamed("item", "gram")
    if hash_grams:
        out = out.withColumn("gram", F.xxhash64("gram"))
    return out


def contamination_hits(
    train: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    n: int = 13,
    hash_grams: bool = True,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Per contaminated training document: (id_col, n_hit_grams) —
    the count of DISTINCT training-side n-grams that also occur
    anywhere in the benchmark corpus. Documents with zero hits are
    absent (join semantics; `decontaminate` handles the keep-side).

    Deterministic, engine-independent (DuckDB-oracle-checkable with
    hash_grams=False): pure set intersection on token n-grams, no
    sampling, no thresholds baked in — callers pick their own policy
    (the published pipelines use n_hit >= 1)."""
    t_grams = _gram_rows(train, id_col, tokens_col, n, hash_grams)
    b_grams = (
        _gram_rows(bench, id_col, tokens_col, n, hash_grams)
        .select("gram")
        .distinct()
    )
    if broadcast_bench:
        b_grams = F.broadcast(b_grams)
    hits = t_grams.join(b_grams, "gram", "left_semi")
    return hits.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_hit_grams"))


def decontaminate(
    train: DataFrame,
    bench: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    n: int = 13,
    min_hits: int = 1,
    hash_grams: bool = True,
    broadcast_bench: bool = True,
) -> DataFrame:
    """Training rows with fewer than `min_hits` benchmark-overlapping
    n-grams (default: drop on ANY shared n-gram, the published
    policy). Anti-join against the flagged id set — the train table's
    payload columns never enter a shuffle; with the default broadcast
    bench the only exchange is the hit-count aggregate over
    contaminated ids."""
    flagged = contamination_hits(
        train, bench, id_col, tokens_col, n, hash_grams, broadcast_bench
    ).where(F.col("n_hit_grams") >= min_hits)
    return train.join(flagged.select(id_col), id_col, "left_anti")
