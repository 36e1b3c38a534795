"""Parse stage (P1-P6): native Catalyst vs pandas-UDF vs oracle, plus
byte parity with the reference's committed mini_tokens.json artifact."""

import json

import pytest
from pyspark.sql import functions as F

from log_project_spark import oracle
from log_project_spark.operators import parse

TRICKY = [
    "2025-08-19 10:01:22 serviceA INFO user 42 connected from 0xDEAD",
    "auth ALERT brute force attempt from 10.0.0.5",
    "  MiXeD Case  0xAbC123 then 1.2.3.4 and 999  ",
    "no masks here at all",
    "0x 0xZ 10.0.0 300.300.300.300 1.2.3.4.5",
    "tabs\tand\nnewlines 7",
    "",
    "   ",
    "ip-ish 1.2.3.4: colon after",
    "hex inside abc0xFF12 numbers42",
]


@pytest.fixture(scope="module")
def tricky_df(spark):
    return spark.createDataFrame([(i, t) for i, t in enumerate(TRICKY)], "id int, text string")


def _collected(df):
    rows = df.orderBy("id").collect()
    return [(r["id"], list(r["tokens"])) for r in rows]


def test_native_matches_oracle(spark, tricky_df):
    got = _collected(parse.with_tokens(tricky_df, drop_empty=False))
    want = [(i, oracle.tokenize_line(t)) for i, t in enumerate(TRICKY)]
    assert got == want


def test_pandas_udf_matches_native(spark, tricky_df):
    native = _collected(parse.with_tokens(tricky_df, drop_empty=False))
    udf = _collected(parse.with_tokens_pandas(tricky_df, drop_empty=False))
    assert native == udf


def test_empty_lines_dropped(spark, tricky_df):
    kept = parse.with_tokens(tricky_df, drop_empty=True).count()
    expected = sum(1 for t in TRICKY if oracle.tokenize_line(t))
    assert kept == expected


def test_mask_order_invariant(spark):
    """hex before num, ip before num (log_tokenize.py:14-16)."""
    df = spark.createDataFrame([(0, "0xAB 10.0.0.5 77")], "id int, text string")
    toks = parse.with_tokens(df).first()["tokens"]
    assert list(toks) == ["<hex>", "<ip>", "<num>"]


def test_reference_mini_log_parity(spark):
    """Masked tokens of the reference's raw mini.log must equal its
    committed mini_tokens.json (byte-exact artifact)."""
    with open("/root/reference/data/raw/mini.log", encoding="utf-8") as f:
        lines = [ln for ln in f.read().splitlines()]
    with open("/root/reference/data/mini_tokens.json", encoding="utf-8") as f:
        expected = json.load(f)
    df = spark.createDataFrame(
        [(i, ln) for i, ln in enumerate(lines)], "id int, text string"
    )
    got = [toks for _, toks in sorted(
        (r["id"], list(r["tokens"])) for r in parse.with_tokens(df).collect()
    )]
    assert got == expected


def test_norm_text_rejoin(spark, tricky_df):
    out = parse.with_normalized_text(tricky_df, out_col="norm_text").orderBy("id").collect()
    for r, raw in zip(out, TRICKY):
        assert r["norm_text"] == " ".join(oracle.tokenize_line(raw))


def test_plan_is_native(spark, tricky_df):
    """The default parse path must contain no Python UDF (stays in
    whole-stage codegen)."""
    plan = parse.with_tokens(tricky_df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


ADVERSARIAL = TRICKY + [
    None,
    "0xFF",
    " ",             # unicode NBSP: not Java whitespace on either side
    "a b",
    "\t\n\r \x0b\x0c",    # every Java \s char
    "x",
    " x ",
    "1.2.3.4",
    "0x",
    ".",
    "a b",
    "a  b   c",
    "  leading",
    "trailing  ",
]


def test_drop_empty_predicate_equivalence(spark):
    """r6 optimization: with_tokens(drop_empty=True) filters on the
    cheap raw-text predicate has_token_col instead of size(tokens)>0
    (which made Catalyst inline the whole mask-regex chain into the
    Filter). The two must keep exactly the same rows on adversarial
    inputs, including NULLs and unicode whitespace."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ADVERSARIAL)], "id int, text string"
    )
    cheap = sorted(
        r["id"] for r in parse.with_tokens(df, drop_empty=True).select("id").collect()
    )
    strict = sorted(
        r["id"]
        for r in parse.with_tokens(df, drop_empty=False)
        .where(F.size("tokens") > 0)
        .select("id")
        .collect()
    )
    assert cheap == strict


def test_min_words_predicate_equivalence(spark):
    """The minhash >=3-words prefilter as a raw-text regex probe must
    keep exactly the rows where size(word_tokens) >= 3."""
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(ADVERSARIAL)], "id int, text string"
    )
    toked = df.withColumn("toks", parse.word_tokens_col(F.col("text")))
    cheap = sorted(
        r["id"]
        for r in toked.where(F.col("text").rlike(r"\S+\s+\S+\s+\S")).select("id").collect()
    )
    strict = sorted(
        r["id"] for r in toked.where(F.size("toks") >= 3).select("id").collect()
    )
    assert cheap == strict


def _py_ngrams(toks, n):
    return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]


@pytest.mark.parametrize("distinct", [False, True])
@pytest.mark.parametrize("n", [1, 2, 3, 5, 13])
def test_ngrams_col_matches_python_reference(spark, n, distinct):
    """ngrams_col + ngram_text (optionally through array_distinct, which
    keeps first occurrences in order) equal a pure-Python n-gram list on
    token lists of every length 0..n+2 (with repeats), a NULL array, and
    the short/empty docs whose explode-pushed `size > 0` predicate once
    crashed an unguarded slice (r5)."""
    lists = [[f"t{i % 3}" for i in range(k)] for k in range(n + 3)]
    lists += [["unrelated", "short", "text"], ["a"], [], ["a", "b", "c", "d"], None]
    df = spark.createDataFrame(list(enumerate(lists)), "id long, toks array<string>")
    grams = parse.ngrams_col(F.col("toks"), n)
    if distinct:
        grams = F.array_distinct(grams)
    rows = (
        df.select("id", F.posexplode(grams).alias("pos", "g"))
        .select("id", "pos", parse.ngram_text(F.col("g"), n).alias("gram"))
        .collect()
    )
    got = {i: [] for i in range(len(lists))}
    for r in sorted(rows, key=lambda r: (r["id"], r["pos"])):
        got[r["id"]].append(r["gram"])
    want = {}
    for i, toks in enumerate(lists):
        g = _py_ngrams(toks or [], n)
        want[i] = list(dict.fromkeys(g)) if distinct else g
    assert got == want
