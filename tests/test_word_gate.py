"""P3 word-DF gate: mining gates words through the broadcast packed bitmap
(no unbounded driver collect), at any vocabulary size, and produces the
IDENTICAL phrase set as the pure-Python oracle."""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from boilerplate_buster_spark.core import pyref
from boilerplate_buster_spark.functions import bitmap
from boilerplate_buster_spark.operators import bloomspan
from boilerplate_buster_spark.operators.corpus_stats import word_doc_freq


def _big_vocab_corpus(seed=11, n_pool=2200, n_docs=44, n_template_docs=10):
    """Every pool word appears in EXACTLY 2 docs (so min_docs=2 makes the
    whole pool of 2,200 words frequent), at random
    positions (so noise bigrams are mostly support-1); a fixed template is
    injected into n_template_docs docs and is the expected dominant phrase."""
    rng = random.Random(seed)
    docs: list[list[str]] = [[] for _ in range(n_docs)]
    for w in range(n_pool):
        for d in rng.sample(range(n_docs), 2):
            docs[d].append(f"w{w:05d}")
    for d in range(n_docs):
        rng.shuffle(docs[d])
    template = ["alpha", "beta", "gamma", "delta", "epsilon"]
    for d in rng.sample(range(n_docs), n_template_docs):
        at = rng.randrange(0, len(docs[d]) + 1)
        docs[d][at:at] = template
    return docs


def _rows(phrases):
    return sorted((p.text, p.support, len(p.tokens)) for p in phrases)


def test_bitmap_gate_mine_equals_pyref(spark):
    docs = _big_vocab_corpus()
    df = spark.createDataFrame(
        [(i, toks) for i, toks in enumerate(docs)],
        "doc_id long, tokens array<string>",
    )
    via_bitmap = bloomspan.mine(spark, df, min_docs=2, ngrams=2)
    assert _rows(via_bitmap) == _rows(pyref.bloomspan_mine(docs, min_docs=2, ngrams=2))
    texts = {p.text for p in via_bitmap}
    assert "alpha beta gamma delta epsilon" in texts


def test_packed_bitmap_has_no_false_negatives(spark):
    words = [f"q{i}" for i in range(3000)]
    fw_df = spark.createDataFrame([(w,) for w in words], "word string")
    docs = spark.createDataFrame(
        list(enumerate([w] for w in words)), "doc_id long, tokens array<string>"
    )
    # the word-gate collect and gate `mine` runs
    freq = word_doc_freq(docs).filter("df >= 1")
    bm = bitmap.bitmap_gate(spark, bitmap.bitmap_words(freq, "word").collect())
    probe = bitmap.bitmap_probe("x")
    out = (
        fw_df.crossJoin(F.broadcast(bm))
        .select(F.expr(f"transform(array(word), x -> {probe})[0]").alias("ok"))
        .collect()
    )
    assert all(r["ok"] for r in out)  # Bloom filters never false-negative


def test_small_vocab_gates_through_bitmap(spark):
    # a frequent vocabulary of 8 words gates through the same bitmap as a
    # large one (sanity on the probe plumbing at the small end)
    df = spark.createDataFrame(
        [(i, ("the quick brown fox jumps over the lazy dog num%d" % i).split())
         for i in range(8)],
        "doc_id long, tokens array<string>",
    )
    out = bloomspan.mine(spark, df, min_docs=8, ngrams=2)
    assert {p.text for p in out} == {"the quick brown fox jumps over the lazy dog"}


def test_occurrence_cap_binding_still_mines_phrase(spark):
    # 300 docs all carrying the template; a binding cap (60 docs/gram,
    # >> min_docs) Bernoulli-samples the gathered docs: the full phrase is
    # still mined and its expansion support is the deterministic sampled-doc
    # count (a consistent subsample; the UNCAPPED run reports the exact df)
    boiler = "one two three four five".split()
    rows = [(i, [f"a{i}", f"b{i}"] + boiler + [f"c{i}"]) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<string>")
    capped = bloomspan.mine(
        spark, df, min_docs=20, ngrams=3, max_occs_per_gram=60,
    )
    assert [p.text for p in capped] == ["one two three four five"]
    assert 20 <= capped[0].support <= 300
    exact = bloomspan.mine(
        spark, df, min_docs=20, ngrams=3, max_occs_per_gram=None,
    )
    assert [(p.text, p.support) for p in exact] == [("one two three four five", 300)]
