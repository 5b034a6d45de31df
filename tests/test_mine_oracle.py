"""Seeded equivalence suite for the BloomSpan miner, with no fixture files.

Every corpus is generated in plain Python.  On each one the rows ``mine``
returns (phrase, freq, length, example_docs) must be identical to the
pure-Python oracle ``pyref.bloomspan_mine``'s:

  * with ``max_occs_per_gram=None`` and with a cap above every support;
  * at ``window=4``, shorter than the longest phrase, so the miner
    retries at a doubled window;
  * with a saturated 64-bit gate bitmap (``bitmap.BITMAP_BITS`` patched), where
    nearly every gram start passes both gates and the driver must drop
    the false positives.

Corpora: small-vocabulary random texts, which produce support ties in the
seed order and in the greedy expansion; site/template corpora shaped
like the extraction benchmark's (per-site footers whose every 3-gram holds
a site token, global templates on a share of pages, hash-unique filler
words between parts); repeat corpora, where one doc holds a seed
several times with continuations that share a prefix and then diverge, so
a doc's path-tree edges repeat within the doc and must count once; and a
tail corpus, where every doc ends with a seed too near its end for the
chain to reach the final phrase.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from boilerplate_buster_spark.core import pyref
from boilerplate_buster_spark.functions import bitmap
from boilerplate_buster_spark.operators import bloomspan
from boilerplate_buster_spark.operators.corpus_stats import word_doc_freq

GLOBAL_TEMPLATES = (
    "skip to main content home shop deals help account cart",
    "join our mailing list to get early access to new arrivals",
    "we use cookies to personalise content and analyse traffic",
)


def random_corpus(seed: int, vocab: int, n_docs: int) -> list[list[str]]:
    rng = random.Random(seed)
    words = [f"t{j}" for j in range(vocab)]
    return [[rng.choice(words) for _ in range(rng.randrange(4, 30))]
            for _ in range(n_docs)]


def sites_corpus(seed: int, n_sites: int, pages_per_site: int) -> list[list[str]]:
    """Filler, then each global template (70% of pages) followed by filler,
    then the site footer, then filler: the benchmark's page layout."""
    rng = random.Random(seed)

    def filler() -> list[str]:
        return [f"u{rng.getrandbits(64):016x}" for _ in range(rng.randrange(3, 8))]

    docs = []
    for page in range(n_sites * pages_per_site):
        s = page % n_sites
        footer = (f"copyright site{s} holdings corp{s} group{s} "
                  f"brand{s} media{s} labs{s} rights reserved").split()
        toks = filler()
        for t in GLOBAL_TEMPLATES:
            if rng.random() < 0.7:
                toks += t.split() + filler()
        docs.append(toks + footer + filler())
    return docs


def repeat_corpus(seed: int, n_docs: int) -> list[list[str]]:
    """Each doc holds the seed "s1 s2 s3" one to three times, each time
    followed by one of three continuations that share "p q" (two of them
    "p q r") and then diverge, with hash-unique filler between."""
    rng = random.Random(seed)
    tails = ("p q r x v", "p q r y", "p q z w")

    def filler() -> list[str]:
        return [f"u{rng.getrandbits(64):016x}" for _ in range(rng.randrange(1, 4))]

    docs = []
    for _ in range(n_docs):
        toks = filler()
        for _ in range(rng.randrange(1, 4)):
            toks += ["s1", "s2", "s3", *rng.choice(tails).split()] + filler()
        docs.append(toks)
    return docs


def tail_corpus(seed: int, n_docs: int) -> list[list[str]]:
    """Each doc holds "s1 s2 s3 p q r" and ends with its seed "s1 s2 s3"
    (sometimes "s1 s2 s3 p"): the chain of that last occurrence ends before
    it reaches the final phrase, so it is no final occurrence."""
    rng = random.Random(seed)

    def filler() -> list[str]:
        return [f"u{rng.getrandbits(64):016x}" for _ in range(rng.randrange(1, 4))]

    return [filler() + "s1 s2 s3 p q r".split() + filler()
            + ["s1", "s2", "s3"] + ["p"] * rng.randrange(2)
            for _ in range(n_docs)]


CORPORA = {
    "random-v6-s1": (lambda: random_corpus(1, 6, 24), 3, 2),
    "random-v8-s2": (lambda: random_corpus(2, 8, 30), 3, 3),
    "random-v12-s3": (lambda: random_corpus(3, 12, 28), 2, 2),
    "sites-s1": (lambda: sites_corpus(1, 40, 2), 2, 3),
    "sites-s2": (lambda: sites_corpus(2, 25, 3), 3, 3),
    "repeat-s1": (lambda: repeat_corpus(1, 24), 3, 5),
    "repeat-s2": (lambda: repeat_corpus(2, 30), 2, 8),
    "tail-s1": (lambda: tail_corpus(1, 20), 3, 3),
}


def _names(n: int) -> list[str]:
    return [f"d{i:04d}" for i in range(n)]  # string order == index order


def _oracle_rows(docs, min_docs, ngrams):
    rows = pyref.canonical_rows(
        pyref.bloomspan_mine(docs, min_docs=min_docs, ngrams=ngrams),
        _names(len(docs)),
    )
    return [(p, f, n, list(ex)) for p, f, n, ex in rows]


def _mined_rows(spark, df, **kw):
    return [
        (r["phrase"], r["freq"], r["length"], list(r["example_docs"]))
        for r in bloomspan.mine_df(spark, df, **kw).collect()
    ]


@pytest.mark.parametrize("name", sorted(CORPORA))
def test_miners_agree_with_pyref(spark, name):
    make, min_docs, ngrams = CORPORA[name]
    docs = make()
    df = spark.createDataFrame(
        list(zip(_names(len(docs)), docs)), "doc_id string, tokens array<string>"
    )
    want = _oracle_rows(docs, min_docs, ngrams)
    assert want, name
    kw = dict(min_docs=min_docs, ngrams=ngrams)
    runs = {
        "no-cap": dict(max_occs_per_gram=None),
        # no gram has more supporting docs than the corpus has docs
        "cap-above-support": dict(max_occs_per_gram=len(docs)),
        # a window shorter than the longest phrase: WindowExhausted, then a
        # retry at 8 (and 16), whose chains end NULL-padded past a doc's end
        "window-retry": dict(max_occs_per_gram=None, window=4),
    }
    for label, extra in runs.items():
        got = _mined_rows(spark, df, **kw, **extra)
        assert got == want, (name, label)


def _gathered_candidates(spark, df, n, min_docs):
    """The candidate rows and the gather gate `mine` builds: word gate,
    candidate collect, numbering."""
    freq = word_doc_freq(df).filter(F.col("df") >= min_docs)
    words = bitmap.bitmap_gate(spark, bitmap.bitmap_words(freq, "word").collect())
    grams, _ = bloomspan.candidate_grams(df, n, min_docs, words)
    return bloomspan._number_candidates(
        spark, bloomspan._with_seed_hashes(grams, n).collect()
    )


def test_saturated_gate_equals_pyref(spark, monkeypatch):
    """A 64-bit bitmap is saturated: nearly every gram start passes the
    word gate and the gather gate, so the edge-and-occurrence frame carries
    edges and occurrence rows of seeds no candidate has (the driver drops
    both).  The rows stay the oracle's."""
    monkeypatch.setattr(bitmap, "BITMAP_BITS", 64)
    make, min_docs, ngrams = CORPORA["sites-s2"]
    docs = make()
    df = spark.createDataFrame(
        list(zip(_names(len(docs)), docs)), "doc_id string, tokens array<string>"
    )
    cand_rows, gate = _gathered_candidates(spark, df, ngrams, min_docs)
    frame = bloomspan.edges_and_occurrences(df, gate, cand_rows, ngrams, 16, None, min_docs)
    seeds = {r[3] for r in cand_rows}
    occ_seeds = [r["seed"] for r in frame.filter("d IS NULL").select("seed").collect()]
    assert any(s not in seeds for s in occ_seeds)
    want = _oracle_rows(docs, min_docs, ngrams)
    assert want
    got = _mined_rows(spark, df, min_docs=min_docs, ngrams=ngrams,
                      max_occs_per_gram=None)
    assert got == want


def test_mine_rejects_any_other_strategy(spark):
    docs = spark.createDataFrame([("d0", ["a", "b"])], "doc_id string, tokens array<string>")
    for strategy in ("driver", "auto"):
        with pytest.raises(ValueError, match="distributed"):
            bloomspan.mine(spark, docs, min_docs=1, ngrams=2, strategy=strategy)


# "distributed" is the one value `mine` accepts for strategy
@pytest.mark.parametrize("strategy", ["distributed"])
def test_closure_counts_prev_hashes_exactly(spark, monkeypatch, strategy):
    """The backward-closure counter compares preceding-token hashes as
    exact 64-bit ints.  The transferred prev hashes of "x" and "y" are set to
    2**62 and 2**62 + 1, which float64 cannot tell apart: a float64
    transfer makes them one preceding token and drops "p q r s" by
    closure."""
    docs = [[f"f{i}a", "x" if i < 2 else "y", "p", "q", "r", "s", f"f{i}b"]
            for i in range(4)]
    # a phrase at position 0 gives the transfer NULL prev hashes, which is
    # where pandas' default conversion turns the column into float64
    docs += [["g", "h", "i", f"f{i}c"] for i in range(2)]
    df = spark.createDataFrame(
        list(zip(_names(len(docs)), docs)), "doc_id string, tokens array<string>"
    )
    real = bloomspan.edges_and_occurrences

    def near_prev_hashes(*a, **kw):
        # the edge rows' prev_h is NULL, and stays NULL
        return real(*a, **kw).withColumn("prev_h", F.expr(
            f"CASE prev_h WHEN xxhash64('x') THEN {2**62}L "
            f"WHEN xxhash64('y') THEN {2**62 + 1}L ELSE prev_h END"))

    monkeypatch.setattr(bloomspan, "edges_and_occurrences", near_prev_hashes)
    want = _oracle_rows(docs, 2, 3)
    assert "p q r s" in [r[0] for r in want]
    assert _mined_rows(spark, df, min_docs=2, ngrams=3, strategy=strategy,
                       max_occs_per_gram=None) == want


def test_capped_edges_count_the_gathered_doc_sample(spark):
    """A binding cap samples each capped gram's docs once: the edge scan
    counts, per seed and next token, exactly the docs whose occurrence rows
    the same frame carries - so expansion, closure and the occupancy mask
    see one subsample."""
    cap, n, window = 40, 3, 8
    rng = random.Random(5)
    docs = [[f"w{i}a", "s1", "s2", "s3", *rng.choice(("a b", "a c", "d")).split(),
             f"w{i}b"] for i in range(200)]
    df = spark.createDataFrame(
        list(zip(_names(len(docs)), docs)), "doc_id string, tokens array<string>"
    )
    cand_rows, gate = _gathered_candidates(spark, df, n, 5)
    assert any(r[2] > cap for r in cand_rows)
    frame = bloomspan.edges_and_occurrences(df, gate, cand_rows, n, window, cap, 1)
    cid_by_seed = {r[3]: r[0] for r in cand_rows}
    # the token after each occurrence's seed, from the doc
    nxt = F.expr(f"try_element_at(tokens, pos + {n + 1})").alias("tok")
    want = {
        (cid_by_seed[r["seed"]], r["tok"]): r["docs"]
        for r in frame.filter("d IS NULL").select("seed", "doc_id", "pos")
        .join(df, "doc_id")
        .select("seed", "doc_id", nxt)
        .filter("tok IS NOT NULL")
        .groupBy("seed", "tok")
        .agg(F.countDistinct("doc_id").alias("docs"))
        .collect()
        if r["seed"] in cid_by_seed
    }
    got = {
        (cid_by_seed[r["seed"]], r["tok"]): r["sup"]
        for r in frame.filter(f"d = {n}").collect()
        if r["seed"] in cid_by_seed
    }
    assert got == want
    assert sum(want.values()) < sum(r[2] for r in cand_rows)  # the cap sampled
