"""End-to-end Spark BloomSpan miner vs the golden fixture outputs and the
pure-Python oracle on randomized corpora."""

from __future__ import annotations

import random

from boilerplate_buster_spark.core import pyref
from boilerplate_buster_spark.core.expand import WCandidate
from boilerplate_buster_spark.core.tokenize import tokenize
from boilerplate_buster_spark.functions.tokenizer import tokens
from boilerplate_buster_spark.operators import bloomspan

from .conftest import REF_TESTS, load_dir_corpus_text
from .test_pyref_golden import TEST1_GOLDEN


def corpus_df(spark, corpus_name):
    named = load_dir_corpus_text(REF_TESTS / corpus_name)
    df = spark.createDataFrame(named, ["doc_id", "text"])
    return df.select("doc_id", tokens("text").alias("tokens"))


def test_phrases_to_df_is_a_local_relation_equal_to_row_list(spark):
    phrases = [
        WCandidate(["a", "b"], 5, examples=["d3", "d1"]),
        WCandidate(["x", "y", "z"], 3, examples=["2", "4", "9"]),
        WCandidate(["b", "a"], 5, examples=[]),
        WCandidate(["q", "r", "s", "t"], 1, examples=["d0"]),
    ]
    got = bloomspan.phrases_to_df(spark, phrases)
    rows = [  # by -freq * length, -freq, phrase
        ("a b", 5, 2, ["d3", "d1"]),
        ("b a", 5, 2, []),
        ("x y z", 3, 3, ["2", "4"]),
        ("q r s t", 1, 4, ["d0"]),
    ]
    want = spark.createDataFrame(rows, bloomspan.RESULT_SCHEMA)
    assert got.schema == want.schema == bloomspan.RESULT_SCHEMA
    assert got.collect() == want.collect()
    plan = got._jdf.queryExecution().analyzed()
    assert plan.getClass().getSimpleName() == "LocalRelation"
    empty = bloomspan.phrases_to_df(spark, [])
    assert empty.schema == bloomspan.RESULT_SCHEMA and empty.collect() == []
    plan = empty._jdf.queryExecution().analyzed()
    assert plan.getClass().getSimpleName() == "LocalRelation"


def test_spark_bloomspan_test1(spark):
    out = bloomspan.mine_df(
        spark, corpus_df(spark, "test1"), min_docs=3, ngrams=3
    ).collect()
    assert [(r["phrase"], r["freq"], r["length"]) for r in out] == TEST1_GOLDEN
    # canonical example docs: first 2 of the sorted doc set
    assert out[0]["example_docs"] == ["doc_01.txt", "doc_02.txt"]


def test_spark_bloomspan_supersimple(spark):
    out = bloomspan.mine_df(
        spark, corpus_df(spark, "test-supersimple"), min_docs=2, ngrams=2
    ).collect()
    assert [(r["phrase"], r["freq"], r["length"]) for r in out] == [
        ("f a c e", 2, 4),
        ("f l f", 2, 3),
    ]


def test_spark_bloomspan_utf8_utf16_equal(spark):
    rows = {}
    for c in ("test-utf8", "test-utf16"):
        out = bloomspan.mine_df(spark, corpus_df(spark, c), min_docs=3, ngrams=3)
        rows[c] = [(r["phrase"], r["freq"], r["length"]) for r in out.collect()]
    assert rows["test-utf8"] == rows["test-utf16"]
    assert any("Внимание" in r[0] for r in rows["test-utf8"])


def test_spark_window_retry(spark):
    """W smaller than the longest phrase must transparently re-gather."""
    out = bloomspan.mine_df(
        spark, corpus_df(spark, "test1"), min_docs=3, ngrams=3, window=8
    ).collect()
    assert [(r["phrase"], r["freq"], r["length"]) for r in out] == TEST1_GOLDEN


def test_spark_matches_pyref_randomized(spark):
    """Property: Spark miner == pure-Python oracle on seeded random corpora."""
    for seed in (5, 6, 7):
        rng = random.Random(seed)
        vocab = [f"t{j}" for j in range(15)]
        texts = [
            " ".join(rng.choice(vocab) for _ in range(rng.randrange(4, 40)))
            for _ in range(20)
        ]
        docs = [tokenize(t) for t in texts]
        want = {
            (p.text, p.support, len(p.tokens))
            for p in pyref.bloomspan_mine(docs, min_docs=3, ngrams=2)
        }
        df = spark.createDataFrame(
            [(str(i), t) for i, t in enumerate(texts)], ["doc_id", "text"]
        ).select("doc_id", tokens("text").alias("tokens"))
        got = {
            (r["phrase"], r["freq"], r["length"])
            for r in bloomspan.mine_df(spark, df, min_docs=3, ngrams=2).collect()
        }
        assert got == want, f"seed={seed}"


def _phrase_set(phrases):
    return {(p.text, p.support, len(p.tokens)) for p in phrases}


def test_mine_equals_pyref_on_fixtures(spark):
    """The miner's phrase sets on the reference fixture corpora equal the
    pure-Python oracle's."""
    for corpus, (md, n) in {"test1": (3, 3), "test-supersimple": (2, 2)}.items():
        df = corpus_df(spark, corpus)
        docs = [tokenize(t) for _, t in load_dir_corpus_text(REF_TESTS / corpus)]
        want = _phrase_set(pyref.bloomspan_mine(docs, min_docs=md, ngrams=n))
        assert _phrase_set(bloomspan.mine(spark, df, min_docs=md, ngrams=n)) == want, corpus


def test_mine_equals_pyref_on_random_corpus(spark):
    """The miner's phrase set on a seeded random corpus equals the
    pure-Python oracle's (no fixture files needed)."""
    rng = random.Random(99)
    vocab = [f"t{j}" for j in range(12)]
    texts = [" ".join(rng.choice(vocab) for _ in range(rng.randrange(5, 35)))
             for _ in range(25)]
    df = spark.createDataFrame(
        [(str(i), t) for i, t in enumerate(texts)], ["doc_id", "text"]
    ).select("doc_id", tokens("text").alias("tokens"))
    want = _phrase_set(
        pyref.bloomspan_mine([tokenize(t) for t in texts], min_docs=3, ngrams=2))
    got = _phrase_set(bloomspan.mine(spark, df, min_docs=3, ngrams=2))
    assert want and got == want


def test_mine_over_persisted_text_repr_equals_unpersisted(spark):
    """Mining html pages through a persisted with_text_repr frame (what the
    pipeline does) finds exactly the phrases of the unpersisted frame."""
    from pyspark.sql import functions as F

    from boilerplate_buster_spark.operators.extraction import with_text_repr
    from boilerplate_buster_spark.sources import pages as pages_src

    rows, _ = pages_src.generate_pages_local(60)
    pages = spark.createDataFrame(rows, schema=pages_src.PAGES_SCHEMA)
    text_repr = with_text_repr(pages).select("url", "text_repr")

    def mined(frame):
        docs = frame.select(
            F.col("url").alias("doc_id"), tokens("text_repr").alias("tokens")
        )
        return _phrase_set(bloomspan.mine(spark, docs, min_docs=5, ngrams=3))

    plain = mined(text_repr)
    cached = text_repr.persist()
    try:
        assert mined(cached) == plain
    finally:
        cached.unpersist()
    assert set(pages_src.TEMPLATES) <= {t for t, _, _ in plain}


def test_greedy_phrase_expansion_matches_python_reference(spark):
    """The SQL-oracle-able M1 expansion projection must follow the
    documented rule: extend right while some (L+1)-gram with the current
    phrase as prefix keeps distinct-doc support >= min_docs; pick max
    support, ties to the lexicographically smallest next token."""
    from collections import defaultdict

    from boilerplate_buster_spark.operators.bloomspan import (
        greedy_phrase_expansion,
    )

    corpus = [
        (1, "a b c d e x".split()),
        (2, "a b c d e y".split()),
        (3, "a b c d z w".split()),
        (4, "p q r a b c".split()),
        (5, "p q r s t u".split()),
    ]

    def sup(gram_toks):
        return len(
            {d for d, toks in corpus
             for i in range(len(toks) - len(gram_toks) + 1)
             if toks[i:i + len(gram_toks)] == gram_toks}
        )

    def pyref(min_docs, n=3, max_len=8):
        vocab = sorted({w for _, toks in corpus for w in toks})
        seeds = sorted(
            {tuple(toks[i:i + n]) for _, toks in corpus
             for i in range(len(toks) - n + 1)}
        )
        out = {}
        for s in seeds:
            if sup(list(s)) < min_docs:
                continue
            phrase = list(s)
            while len(phrase) < max_len:
                best = None
                for w in vocab:
                    cand = phrase + [w]
                    cs = sup(cand)
                    if cs >= min_docs and (best is None or cs > best[0]):
                        best = (cs, w)  # vocab sorted -> first max wins ties
                if best is None:
                    break
                phrase.append(best[1])
            out[" ".join(s)] = (" ".join(phrase), len(phrase), sup(phrase))
        return out

    docs = spark.createDataFrame(corpus, ["doc_id", "tokens"])
    got = {
        r["seed"]: (r["phrase"], r["length"], r["support"])
        for r in greedy_phrase_expansion(docs, min_docs=2, n=3).collect()
    }
    assert got == pyref(min_docs=2)
    # "a b c" (sup 4) must extend to "a b c d e" (d: sup 3, then e: sup 2)
    assert got["a b c"] == ("a b c d e", 5, 2)


def test_planted_template_corpus_mines_maximal_phrases(spark):
    """The bloomspan_oracle contract corpus: three boilerplate templates
    planted per doc_id % 3 class over real document text.  The miner must
    emit EXACTLY the three maximal templates - every sub-seed is either
    mask-skipped (covered by the winner's marks) or closure-dropped
    ('standard operating procedure...' is always preceded by 'kindly' in
    its emitting class) - with class-sized supports and string-sorted
    example docs.  This pins the Spark side of the bloomspan_oracle
    DuckDB twin (__spark_entry__._d_bloomspan_sql)."""
    import pyspark.sql.functions as F

    from boilerplate_buster_spark.operators import bloomspan

    corpus_expr = (
        "CASE CAST(doc_id % 3 AS INT) "
        "WHEN 0 THEN concat(text, "
        "' the use of the individual standard operating procedure') "
        "WHEN 1 THEN concat(text, "
        "' please notify the sender immediately by e mail') "
        "ELSE concat(text, ' kindly standard operating procedure applies') END"
    )
    docs = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("doc_id") < 120)
        .select("doc_id", F.split(F.expr(corpus_expr), " ").alias("tokens"))
    )
    rows = {
        r["phrase"]: r
        for r in bloomspan.mine_df(spark, docs, min_docs=30, ngrams=2).collect()
    }
    assert set(rows) == {
        "the use of the individual standard operating procedure",
        "please notify the sender immediately by e mail",
        "kindly standard operating procedure applies",
    }
    for r in rows.values():
        assert r["freq"] == 40
        assert len(r["example_docs"]) == 2
    assert rows["kindly standard operating procedure applies"]["length"] == 5
