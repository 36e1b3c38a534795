#!/usr/bin/env python3
"""Regenerate PLANS.md: formatted physical plans for the load-bearing
queries, with the scale property each plan must exhibit called out
(and mechanically checked). Run after plan-affecting changes:

    python scripts/dump_plans.py        # rewrites PLANS.md, exits 1
                                        # if any property regressed
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

# (query name, one-line property statement, [must-contain], [must-not-contain])
AUDITS = [
    (
        "parse_norm_documents",
        "pure scan+project: masks/tokenize JVM-side, no Python nodes, "
        "no exchange (codegen spans appear once AQE finalizes)",
        ["FileScan parquet"],
        ["BatchEvalPython", "ArrowEvalPython", "MapInArrow", "Exchange"],
    ),
    (
        "enrich_broadcast",
        "both dimension joins are BroadcastHashJoin (no shuffle join on a dim)",
        ["BroadcastHashJoin"],
        ["SortMergeJoin"],
    ),
    (
        "salted_counts",
        "two-phase aggregate: partial on (key, salt), final on key",
        ["HashAggregate"],
        [],
    ),
    (
        "conformal_per_user",
        "exactly one exchange (hash by user_id) feeding the Arrow kernel",
        ["MapInArrow", "Exchange hashpartitioning"],
        [],
    ),
    (
        "conformal_pruned",
        "needed_cols projection pushdown: Catalyst can't prune through "
        "MapInArrow, so the operator declares the projection — the "
        "events scan ReadSchema and the exchange carry ONLY the 4 "
        "consumed columns (event_type/props never leave the files)",
        ["MapInArrow", "Exchange hashpartitioning"],
        ["event_type", "props"],
    ),
    (
        "filter_combo",
        "predicates pushed to the parquet scan",
        ["PushedFilters: ["],
        [],
    ),
    (
        "simhash60",
        "bit aggregation groups on doc_id only; no tokens in any exchange key",
        ["HashAggregate"],
        ["hashpartitioning(tokens", "hashpartitioning(text"],
    ),
    (
        "jaccard_pairs_capped",
        "hot items removed via BroadcastHashJoin LeftAnti before the self-join",
        ["LeftAnti", "BroadcastHashJoin"],
        [],
    ),
    (
        "ivf_topk",
        "cell filter applied before the top-k (TakeOrderedAndProject)",
        ["TakeOrderedAndProject"],
        [],
    ),
    (
        "decontam_hits",
        "gram membership via broadcast LEFT SEMI join (train side never "
        "shuffles for it); no text column on any exchange key; grams built "
        "by parse.ngrams_col, no interpreted lambdafunction",
        ["BroadcastHashJoin", "LeftSemi"],
        ["SortMergeJoin", "hashpartitioning(text", "lambdafunction"],
    ),
    (
        "repetition_stats",
        "gram multiplicities keyed on (doc_id, xxhash64(gram)) — 16-byte "
        "composite, never gram text; map-side partial aggregation present; "
        "grams built by parse.ngrams_col, no interpreted lambdafunction",
        ["partial_count", "xxhash64"],
        ["hashpartitioning(text", "lambdafunction"],
    ),
    (
        "dedup_keep_min",
        "row-level exact dedup (dedup.dedup_exact): the one exchange "
        "partitions on 8-byte xxhash64(text) — the document payload never "
        "appears in a shuffle key (VERDICT r3 #1); a single WindowExec "
        "computes both row_number and the lag used by the key-run keeper "
        "filter",
        ["xxhash64(text", "Window"],
        ["hashpartitioning(text"],
    ),
    (
        "sample_fraction_det",
        "pure scan-side codegen filter: the portable-hash predicate is a "
        "DataFilter on the parquet scan, zero Exchange anywhere",
        ["FileScan parquet"],
        ["Exchange"],
    ),
    (
        "stratified_sample_k",
        "Spark 4 WindowGroupLimit prunes each stratum to k map-side "
        "BEFORE the single strata-keyed exchange",
        ["WindowGroupLimit"],
        [],
    ),
    (
        "mixing_weights",
        "the 100 TB side is reduced by a partial-aggregated exchange on "
        "the strata key; the whole-frame normalization windows run on the "
        "|strata|-row aggregate only",
        ["partial_sum", "Exchange hashpartitioning"],
        [],
    ),
    (
        "quality_percentile_filter",
        "exact per-group percentile cut: ONE exchange keyed on the group "
        "column; rank and group size ride the same window sort",
        ["Window", "Exchange hashpartitioning(lang"],
        [],
    ),
]


def main() -> None:
    import __spark_entry__ as entry
    from log_project_spark.session import get_spark

    spark = get_spark(app_name="dump_plans", master="local[4]", shuffle_partitions=8)
    queries = entry.queries()
    sections = []
    failures = []
    for name, prop, must, must_not in AUDITS:
        df = queries[name](spark, SF_DIR)
        plan = df._jdf.queryExecution().executedPlan().toString()
        status = "OK"
        for m in must:
            if m not in plan:
                status = f"MISSING `{m}`"
                failures.append((name, status))
        for m in must_not:
            if m in plan:
                status = f"FORBIDDEN `{m}` present"
                failures.append((name, status))
        # keep the dump readable: cap very long plans
        shown = plan if len(plan) < 6000 else plan[:6000] + "\n... [truncated]"
        sections.append(
            f"## {name}\n\n**Property:** {prop} — **{status}**\n\n```\n{shown}\n```\n"
        )
        print(f"[plans] {name}: {status}", file=sys.stderr)
    header = (
        "# PLANS — physical-plan audit of the load-bearing queries\n\n"
        "Generated by `python scripts/dump_plans.py` at sf0.01 (plan shape is\n"
        "scale-independent). Each section states the property the plan must\n"
        "exhibit for the 100 TB design to hold; the generator fails if a\n"
        "property regresses. Complementary mechanical checks live in\n"
        "tests/test_plans.py.\n\n"
    )
    with open(os.path.join(REPO, "PLANS.md"), "w", encoding="utf-8") as f:
        f.write(header + "\n".join(sections))
    if failures:
        print(f"[plans] FAILURES: {failures}", file=sys.stderr)
        sys.exit(1)
    print("[plans] all properties hold; PLANS.md written", file=sys.stderr)


if __name__ == "__main__":
    main()
