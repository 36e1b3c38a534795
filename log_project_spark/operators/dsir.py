"""Data Selection with Importance Resampling — DSIR (Xie et al. 2023,
arXiv:2302.03169): fit two bag-of-hashed-n-gram unigram models (one on
a small TARGET corpus, one on the RAW corpus), weight every raw
document by its log-likelihood ratio under the two models, and select
k documents by Gumbel-top-k — importance resampling without
replacement, fully deterministic here via the portable md5-prefix
hash (sampling.hash60) for both feature hashing and the Gumbel noise.

Documented contract (mirrored by the DuckDB oracle):

- tokens: lowercase whitespace words (parse.word_tokens_col); features
  are the word n-grams for each n in `ns` (gram = tokens joined by a
  single space), hashed to `pmod(hash60(gram, seed), buckets)` —
  both engines agree bit-for-bit because hash60 is pure md5 algebra.
- model: add-1 smoothing over the bucket space,
  logp(f) = ln((c_f + 1) / (C + buckets)) with C = total feature
  count of the fit corpus; features unseen in the fit corpus score
  the same formula with c_f = 0 (the model's `default_logp`).
- weight: logw(doc) = sum over the doc's feature OCCURRENCES of
  (logp_target(f) - logp_raw(f)), rounded to `dp`; docs with zero
  features (empty after tokenization) get no row.
- selection: u = (hash60(id, gumbel_seed) + 1) / (2^60 + 2) in (0,1);
  key = round(logw + -ln(-ln(u)), dp); the k selected docs are the
  top k by (key desc, id asc).

Scale design (100 TB raw corpus):

- feature extraction is pure codegen: n-grams via explode of
  parse.ngrams_col (CASE-guarded total, no interpreted higher-order
  lambdas), md5 hashing JVM-side.
- model fit: one exchange keyed on the 8-byte feature id with
  map-side partial aggregation; the fitted model is <= `buckets`
  rows and BROADCASTS into scoring, so weighting is one exchange
  keyed on the doc id (map-side partials over the exploded grams).
  The only driver action per fit is the scalar total count.
- selection: orderBy(key).limit(k) => TakeOrderedAndProject
  (per-partition top-k + driver merge of k rows — bounded by k, no
  global sort shuffle); the k winners broadcast back as a flag join.
  For k beyond driver comfort (~10M), cut at an approximate key
  quantile instead — documented alternative, same contract shape as
  sampling.percentile prefilters.

Reference parity note: the reference has no data-selection surface
(verified by reading every module under /root/reference/src/ --
only calibration/log_tokenize/stream/transformer exist); this operator extends the
LLM-training-data toolkit beside lm_score (quality), sampling
(budgets/mixing), and semdedup/dedup (duplication).
"""

from __future__ import annotations

import math
from typing import NamedTuple, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from log_project_spark.operators.parse import ngram_text, ngrams_col, word_tokens_col
from log_project_spark.operators.sampling import HASH_BITS, hash60


class HashedNgramLM(NamedTuple):
    """Fitted bag-of-hashed-n-grams model: <= `buckets` feature rows,
    add-1 smoothed; `default_logp` covers unseen features."""

    features: DataFrame  # (feature bigint, logp double)
    default_logp: float
    total: int  # C, total feature occurrences in the fit corpus
    buckets: int


def hashed_ngram_features(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ns: Sequence[int] = (1, 2),
    buckets: int = 10_000,
    seed: int = 7,
) -> DataFrame:
    """(id, feature bigint) one row per n-gram OCCURRENCE. Pure
    codegen: parse.ngrams_col, explode, concat_ws, md5."""
    if not ns or any(n < 1 for n in ns):
        raise ValueError(f"ns must be non-empty positive ints, got {ns}")
    if buckets < 2:
        raise ValueError(f"buckets must be >= 2, got {buckets}")
    base = df.select(
        F.col(id_col), word_tokens_col(F.col(text_col)).alias("__toks__")
    )
    pieces = []
    for n in sorted(set(int(n) for n in ns)):
        ex = base.select(id_col, F.explode(ngrams_col(F.col("__toks__"), n)).alias("__g__"))
        pieces.append(ex.select(id_col, ngram_text(F.col("__g__"), n).alias("gram")))
    allgrams = pieces[0]
    for p in pieces[1:]:
        allgrams = allgrams.unionAll(p)
    return allgrams.select(
        id_col, F.pmod(hash60(F.col("gram"), seed), F.lit(buckets)).alias("feature")
    )


def fit_hashed_ngram_lm(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ns: Sequence[int] = (1, 2),
    buckets: int = 10_000,
    seed: int = 7,
) -> HashedNgramLM:
    """Fit the add-1-smoothed feature model. One feature-keyed exchange
    plus the scalar total-count action."""
    feats = hashed_ngram_features(df, text_col, id_col, ns, buckets, seed)
    counts = feats.groupBy("feature").agg(F.count(F.lit(1)).alias("c"))
    total = counts.agg(F.sum("c")).first()[0] or 0
    denom = float(total + buckets)
    features = counts.select(
        "feature", F.log((F.col("c") + F.lit(1.0)) / F.lit(denom)).alias("logp")
    )
    return HashedNgramLM(
        features=features,
        default_logp=math.log(1.0 / denom),
        total=int(total),
        buckets=buckets,
    )


def dsir_log_weights(
    df: DataFrame,
    target: HashedNgramLM,
    raw: HashedNgramLM,
    text_col: str = "text",
    id_col: str = "doc_id",
    ns: Sequence[int] = (1, 2),
    seed: int = 7,
    dp: int = 6,
) -> DataFrame:
    """(id, n_feats bigint, logw double): per-doc log importance
    weight under the two broadcast models. Feature hashing must use
    the same (ns, buckets, seed) as the fits — buckets equality is
    asserted, the rest is the caller's contract."""
    if target.buckets != raw.buckets:
        raise ValueError(
            f"model bucket spaces differ: target {target.buckets} vs raw {raw.buckets}"
        )
    feats = hashed_ngram_features(df, text_col, id_col, ns, target.buckets, seed)
    t = F.broadcast(
        target.features.select("feature", F.col("logp").alias("__lt__"))
    )
    r = F.broadcast(raw.features.select("feature", F.col("logp").alias("__lr__")))
    joined = feats.join(t, "feature", "left").join(r, "feature", "left")
    delta = F.coalesce(F.col("__lt__"), F.lit(target.default_logp)) - F.coalesce(
        F.col("__lr__"), F.lit(raw.default_logp)
    )
    return joined.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_feats"),
        F.round(F.sum(delta), dp).alias("logw"),
    )


def gumbel_key(logw: Column, id_col: Column, seed: int, dp: int = 6) -> Column:
    """round(logw + Gumbel(0,1) noise, dp) with deterministic uniform
    u = (hash60(id, seed)+1)/(2^60+2) in (0,1) — identical algebra in
    the DuckDB oracle."""
    u = (hash60(id_col, seed) + F.lit(1.0)) / F.lit(float((1 << HASH_BITS) + 2))
    return F.round(logw + -F.log(-F.log(u)), dp)


def dsir_select(
    df: DataFrame,
    target_df: DataFrame,
    k: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    ns: Sequence[int] = (1, 2),
    buckets: int = 10_000,
    seed: int = 7,
    gumbel_seed: int = 99,
    dp: int = 6,
) -> DataFrame:
    """End-to-end DSIR: fit target model on target_df and raw model on
    df, weight df, Gumbel-top-k. Returns ALL weighted docs as
    (id, n_feats, logw, gkey, selected int 0/1) so the weights —
    not just the winners — are verifiable."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    target = fit_hashed_ngram_lm(target_df, text_col, id_col, ns, buckets, seed)
    raw = fit_hashed_ngram_lm(df, text_col, id_col, ns, buckets, seed)
    scored = dsir_log_weights(df, target, raw, text_col, id_col, ns, seed, dp)
    keyed = scored.withColumn(
        "gkey", gumbel_key(F.col("logw"), F.col(id_col), gumbel_seed, dp)
    )
    winners = (
        keyed.orderBy(F.col("gkey").desc(), F.col(id_col).asc())
        .limit(k)
        .select(F.col(id_col), F.lit(1).alias("__sel__"))
    )
    return (
        keyed.join(F.broadcast(winners), id_col, "left")
        .select(
            id_col,
            "n_feats",
            "logw",
            "gkey",
            F.coalesce(F.col("__sel__"), F.lit(0)).cast("int").alias("selected"),
        )
    )
