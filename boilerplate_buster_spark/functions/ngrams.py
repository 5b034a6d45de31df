"""Sliding n-gram enumeration as Catalyst expressions (A1 in SURVEY.md
section 2.3; reference loops at bloom_gram_miner.cpp:324-335,393-444).

Emits every position p in [0, len-n] of every doc.  Grams are space-joined
token strings: tokens can never contain spaces (the tokenizer splits on them),
so the join is lossless and gives compact fixed-type shuffle keys instead of
array<string> (dictionary-friendly, cheaper to hash/compare)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def gram_starts(tokens_col: str, n: int) -> str:
    """SQL array<int>: the 1-based start position of every n-gram of the
    `tokens_col` array.

    Guarded for len < n via slice-to-empty (sequence() alone would produce a
    DESCENDING range for len < n and silently emit garbage).
    """
    t = tokens_col
    return (
        f"slice(sequence(1, greatest(size({t}) - {n} + 1, 1)), "
        f"1, greatest(size({t}) - {n} + 1, 0))"
    )


def ngram_structs(tokens_col: str, n: int) -> Column:
    """array<struct<pos:int, gram:string>> of all n-gram start positions."""
    t = tokens_col
    return F.expr(
        f"transform({gram_starts(t, n)}, "
        f"i -> struct(i - 1 AS pos, array_join(slice({t}, i, {n}), ' ') AS gram))"
    )


def explode_ngrams(
    df: DataFrame,
    n: int,
    doc_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """docs(doc_id, tokens) -> seed stream (doc_id, pos, gram), one row per
    n-gram occurrence.  Stays in whole-stage codegen end to end."""
    return df.select(
        F.col(doc_col), F.explode(ngram_structs(tokens_col, n)).alias("g")
    ).select(doc_col, F.col("g.pos").alias("pos"), F.col("g.gram").alias("gram"))
