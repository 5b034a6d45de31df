"""Spark-native BIDE/CloSpan (level-wise closed contiguous patterns) vs the
pure-Python reference kernel and the observed fixture goldens."""

from __future__ import annotations

import random

from boilerplate_buster_spark.core import pyref
from boilerplate_buster_spark.core.tokenize import tokenize
from boilerplate_buster_spark.functions.tokenizer import tokens
from boilerplate_buster_spark.operators.closed_patterns import (
    closed_contiguous_patterns,
)

from .conftest import REF_TESTS, load_dir_corpus_text


def corpus_df(spark, corpus_name):
    named = load_dir_corpus_text(REF_TESTS / corpus_name)
    return spark.createDataFrame(named, ["doc_id", "text"]).select(
        "doc_id", tokens("text").alias("tokens")
    )


def test_spark_bide_test1_golden(spark):
    out = closed_contiguous_patterns(
        spark, corpus_df(spark, "test1"), min_sup=3, min_l=3
    ).collect()
    rows = {(r["phrase"], r["freq"], r["length"]) for r in out}
    # FIXTURES.md 3a: occurrence-count support (doc_04 dup counts twice)
    assert ("this document is intended only for the use of", 7, 9) in rows
    assert (
        "this document is intended only for the use of the individual or "
        "entity to which it is addressed",
        6,
        18,
    ) in rows
    assert ("standard operating procedure", 3, 3) in rows
    assert len(rows) == 5


def test_spark_bide_matches_pyref_randomized(spark):
    for seed in (21, 22, 23):
        rng = random.Random(seed)
        vocab = [f"t{j}" for j in range(10)]
        texts = [
            " ".join(rng.choice(vocab) for _ in range(rng.randrange(4, 25)))
            for _ in range(15)
        ]
        docs = [tokenize(t) for t in texts]
        want = {
            (p.text, p.support, len(p.tokens))
            for p in pyref.bide_mine(docs, min_docs=3, min_l=2)
        }
        df = spark.createDataFrame(
            [(str(i), t) for i, t in enumerate(texts)], ["doc_id", "text"]
        ).select("doc_id", tokens("text").alias("tokens"))
        got = {
            (r["phrase"], r["freq"], r["length"])
            for r in closed_contiguous_patterns(spark, df, min_sup=3, min_l=2).collect()
        }
        assert got == want, f"seed={seed}"


def test_spark_bide_short_and_empty(spark):
    df = spark.createDataFrame([("a", ["x"]), ("b", [])], ["doc_id", "tokens"])
    assert closed_contiguous_patterns(spark, df, min_sup=2).count() == 0
    df2 = spark.createDataFrame([("a", ["x"]), ("b", ["x"])], ["doc_id", "tokens"])
    rows = closed_contiguous_patterns(spark, df2, min_sup=2).collect()
    assert [(r["phrase"], r["freq"], r["length"]) for r in rows] == [("x", 2, 1)]


def test_gate_equivalence_and_plan(spark, monkeypatch):
    """The anti-monotone in-scan gate must not change results (gated vs
    ungated), and the gated level plan must probe the broadcast bitmap gate
    BEFORE the explode (Generate)."""
    from boilerplate_buster_spark.operators import closed_patterns as cp

    df = corpus_df(spark, "test1")
    monkeypatch.setattr(cp, "_GATE_MIN_WINDOWS", 0)  # force-gate small corpus
    gated = {
        (r["phrase"], r["freq"], r["length"])
        for r in closed_contiguous_patterns(spark, df, min_sup=3, min_l=2).collect()
    }
    monkeypatch.setattr(cp, "_GATE_MIN_WINDOWS", 2_000_000)  # every level ungated
    ungated = {
        (r["phrase"], r["freq"], r["length"])
        for r in closed_contiguous_patterns(spark, df, min_sup=3, min_l=2).collect()
    }
    assert gated == ungated
    monkeypatch.undo()

    # plan shape: a gated level filters window positions by a packed-bitmap
    # probe (pmod + element_at on the broadcast bf row) inside the
    # projection feeding the explode - NOT a literal IN-list (linear scan)
    txt = df.select(tokens_col_to_text(df))
    gate = cp._level_gate(spark, cp._gram_counts(txt, 1, 3, None), 1)
    lvl = cp._gram_counts(txt, 2, 3, gate=gate)
    plan = lvl._jdf.queryExecution().optimizedPlan().toString()
    assert "Generate" in plan
    assert "xxhash64" in plan
    assert "pmod" in plan and "element_at" in plan
    assert " IN " not in plan


def tokens_col_to_text(df):
    from pyspark.sql import functions as F

    return F.array_join("tokens", " ").alias("_t")


def test_prefixspan_gate_equivalence(spark, monkeypatch):
    from boilerplate_buster_spark.operators import closed_patterns as cp
    from boilerplate_buster_spark.operators.closed_patterns import (
        prefixspan_patterns,
    )

    named = load_dir_corpus_text(REF_TESTS / "test1")
    df = (
        spark.createDataFrame(named, ["doc_id", "text"])
        .select("doc_id", tokens("text").alias("tokens"))
    )
    runs = {}
    for label, min_windows in (("gated", 0), ("ungated", 2_000_000)):
        monkeypatch.setattr(cp, "_GATE_MIN_WINDOWS", min_windows)
        runs[label] = {
            (r["phrase"], r["freq"], r["length"])
            for r in prefixspan_patterns(
                spark, df, min_docs=3, min_l=2, mode="closed"
            ).collect()
        }
    monkeypatch.undo()
    assert runs["gated"] == runs["ungated"] and runs["gated"]
