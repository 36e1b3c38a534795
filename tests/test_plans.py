"""Physical-plan shape assertions: the scale-path properties the
engine promises (broadcast joins, parquet pushdown/pruning, native
codegen parse, two-phase salted aggregation) must be visible in
`explain`, not just hoped for."""

import pytest
from pyspark.sql import functions as F

from log_project_spark import synth
from log_project_spark.operators import aggregate as agg
from log_project_spark.operators import enrich as enrich_ops
from log_project_spark.operators import parse as parse_ops

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_enrich_uses_broadcast_hash_join(spark):
    t = synth.transcripts(spark, 100, n_convs=5)
    out = enrich_ops.enrich_roles_tools(t, synth.role_dim(spark), synth.tool_dim(spark))
    plan = _plan(out)
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan


def test_parquet_filter_pushdown_and_pruning(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.where(F.col("l_shipdate") <= "1995-01-01").select("l_orderkey", "l_quantity")
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: only the needed columns in ReadSchema
    assert "l_extendedprice" not in plan.split("ReadSchema")[1][:300]


def test_parse_stage_stays_jvm_side(spark):
    """Parse is a pure Project over the scan — codegen-eligible, no
    Python eval nodes (with AQE the WholeStageCodegen wrapper only
    materializes at execution, so assert the plan shape instead)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(parse_ops.with_tokens(docs))
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    # codegen'd operators print with a "*(stage)" prefix
    assert plan.lstrip().startswith("*(") or "WholeStageCodegen" in plan


def test_salted_agg_is_two_phase(spark):
    t = synth.transcripts(spark, 1000, n_convs=10)
    out = agg.salted_counts(t, ["conv_id"], "turn_idx", 8)
    opt = _optimized(out)
    # two Aggregate nodes: (keys+salt) partial then keys final; the
    # optimizer inlines the __salt__ alias into a grouping expression
    assert opt.count("Aggregate") >= 2
    assert "pmod(xxhash64" in opt


def test_kernel_single_shuffle(spark):
    """calibrate introduces exactly one exchange (the repartition by
    group keys); the sort is within partitions, not global."""
    from log_project_spark.config import PipelineConfig
    from log_project_spark.operators.calibrate import calibrate

    t = synth.transcripts(spark, 500, n_convs=10).withColumn(
        "score", F.length("text").cast("double")
    )
    cfg = PipelineConfig(scope="conv_id", drift_detector="none")
    plan = _plan(calibrate(t, cfg))
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan
    # SortExec prints "Sort [keys...], global, sortOrder" — the
    # `], false, 0` tail is the non-global (within-partition) form
    assert "Sort [conv_id" in plan and "], false, 0" in plan


def test_needed_cols_prunes_scan_and_exchange(spark, tmp_path):
    """needed_cols projection pushdown reaches the SCAN: Catalyst
    cannot prune columns through MapInArrow, so without the
    declaration the parquet ReadSchema carries every column; with it,
    unused columns (text, ts, label...) never leave the files and
    never enter the exchange."""
    from log_project_spark.config import PipelineConfig
    from log_project_spark.operators.calibrate import calibrate

    path = str(tmp_path / "t")
    synth.transcripts(spark, 500, n_convs=10).write.parquet(path)
    t = spark.read.parquet(path).withColumn(
        "score", F.length("text").cast("double")
    )
    cfg = PipelineConfig(scope="conv_id", drift_detector="none")
    full_plan = _plan(calibrate(t, cfg))
    pruned_plan = _plan(calibrate(t, cfg, needed_cols=()))
    # the full-width plan ships every column; the pruned one must not
    # read or shuffle the dead payload columns
    assert "label" in full_plan
    assert "label" not in pruned_plan and "tool" not in pruned_plan
    # ... and still keeps the single-exchange kernel shape
    assert pruned_plan.count("Exchange hashpartitioning") == 1


def test_scored_route_counts_reuse_one_scan(spark):
    """sink_counts groups directly on the routing expression — no join
    back, no extra scan of the input."""
    from log_project_spark.operators import route as route_ops

    t = synth.transcripts(spark, 500, n_convs=10).withColumn(
        "score", F.length("text").cast("double")
    )
    from log_project_spark.config import PipelineConfig
    from log_project_spark.operators.calibrate import calibrate

    counts = route_ops.sink_counts(calibrate(t, PipelineConfig(drift_detector="none")))
    plan = _plan(counts)
    assert plan.count("Scan ExistingRDD") <= 1  # single source traversal


def _ngram_builders():
    from log_project_spark.operators import decontam, dedup, dsir, lm_score
    from log_project_spark.operators import text_analysis as ta

    return {
        "contamination_hits": lambda d: decontam.contamination_hits(d, d, n=3),
        "jaccard_pairs_shingles": lambda d: dedup.jaccard_pairs(d, shingle_n=3),
        "minhash_signature": lambda d: dedup.minhash_signature(d, num_hashes=4),
        "repetition_stats": lambda d: ta.repetition_stats(d),
        "hashed_ngram_features": lambda d: dsir.hashed_ngram_features(d, ns=(1, 2, 3)),
        "bigram_pairs": lambda d: lm_score.bigram_pairs(d, "text", "doc_id"),
    }


@pytest.mark.parametrize("builder", sorted(_ngram_builders()))
def test_ngram_operators_have_no_lambda(spark, builder):
    """Every n-gram operator builds and hashes its grams with
    parse.ngrams_col and plain expressions: no interpreted HOF lambda
    in the executed plan (CLAUDE.md hard rule)."""
    docs = spark.createDataFrame(
        [(0, "a b c d e"), (1, "a b c x"), (2, "b")], "doc_id long, text string"
    ).withColumn("tokens", parse_ops.word_tokens_col(F.col("text")))
    out = _ngram_builders()[builder](docs)
    out.collect()
    assert "lambdafunction" not in _plan(out).lower()
