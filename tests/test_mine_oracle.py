"""Seeded equivalence suite for the BloomSpan miner, with no fixture files.

Every corpus is generated in plain Python.  On each one the mined rows
(phrase, freq, length, example_docs) must be identical across:

  * the pure-Python oracle ``pyref.bloomspan_mine``;
  * ``mine(strategy="driver")`` and ``mine(strategy="distributed")``;
  * the literal hash IN-set word gate and the packed-bitmap word gate (the
    bitmap is forced by a ``word_gate_max`` below the frequent vocabulary);
  * ``max_occs_per_gram=None`` and a cap above every support;
  * the driver strategy at ``window=4``, shorter than the longest phrase,
    so it re-gathers at a doubled window.

Corpora: small-vocabulary random texts, which produce support ties in the
seed order and in the greedy expansion, and site/template corpora shaped
like the extraction benchmark's (per-site footers whose every 3-gram holds
a site token, global templates on a share of pages, hash-unique filler
words between parts).
"""

from __future__ import annotations

import random

import pytest

from boilerplate_buster_spark.core import pyref
from boilerplate_buster_spark.operators import bloomspan

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


CORPORA = {
    "random-v6-s1": (lambda: random_corpus(1, 6, 24), 3, 2),
    "random-v8-s2": (lambda: random_corpus(2, 8, 30), 3, 3),
    "random-v12-s3": (lambda: random_corpus(3, 12, 28), 2, 2),
    "sites-s1": (lambda: sites_corpus(1, 40, 2), 2, 3),
    "sites-s2": (lambda: sites_corpus(2, 25, 3), 3, 3),
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
        "driver": dict(strategy="driver", max_occs_per_gram=None),
        "distributed": dict(strategy="distributed", max_occs_per_gram=None),
        # the frequent vocabulary is > 1 word on every corpus here
        "distributed-bitmap-gate": dict(
            strategy="distributed", max_occs_per_gram=None, word_gate_max=1),
        # no gram has more supporting docs than the corpus has docs
        "distributed-cap-above-support": dict(
            strategy="distributed", max_occs_per_gram=len(docs)),
        "driver-bitmap-gate": dict(
            strategy="driver", max_occs_per_gram=None, word_gate_max=1),
        # a window shorter than the longest phrase: WindowExhausted, then a
        # re-gather at 8 (and 16), whose windows end NULL-padded past a
        # doc's end
        "driver-window-retry": dict(
            strategy="driver", max_occs_per_gram=None, window=4),
    }
    for label, extra in runs.items():
        got = _mined_rows(spark, df, **kw, **extra)
        assert got == want, (name, label)
