"""Gate sizing (functions/bitmap.py): every gate `mine` builds holds 64 bits
per gated value, rounded up to a power of two and at most BITMAP_BITS - the
word gate per frequent word, the gather gate per candidate gram."""

from __future__ import annotations

import random
from collections import Counter

from boilerplate_buster_spark.functions import bitmap
from boilerplate_buster_spark.operators import bloomspan


def _corpus(n_words: int, seed: int = 7) -> list[list[str]]:
    """n_words words in exactly 2 docs each, one doc-unique word per doc,
    and a template in 6 docs."""
    rng = random.Random(seed)
    docs: list[list[str]] = [[f"r{d}"] for d in range(40)]
    for w in range(n_words):
        for d in rng.sample(range(40), 2):
            docs[d].append(f"w{w:04d}")
    for d in range(6):
        docs[d] += "alpha beta gamma delta".split()
    return docs


def _gate_bits(spark, monkeypatch, docs, min_docs):
    """(frequent words, word gate bits, candidates, gather gate bits) of one
    mine."""
    seen = {}
    cand_grams, number = bloomspan.candidate_grams, bloomspan._number_candidates

    def candidate_grams(docs_df, n, md, gate):
        seen["words"] = len(gate.first()["bf"]) * 64
        return cand_grams(docs_df, n, md, gate)

    def number_candidates(spark_, rows):
        cand_rows, gate = number(spark_, rows)
        seen["cands"], seen["gather"] = len(cand_rows), len(gate.first()["bf"]) * 64
        return cand_rows, gate

    monkeypatch.setattr(bloomspan, "candidate_grams", candidate_grams)
    monkeypatch.setattr(bloomspan, "_number_candidates", number_candidates)
    df = spark.createDataFrame(
        list(enumerate(docs)), "doc_id long, tokens array<string>"
    )
    out = bloomspan.mine(spark, df, min_docs=min_docs, ngrams=2)
    assert "alpha beta gamma delta" in {p.text for p in out}
    df_by_word = Counter(w for d in docs for w in set(d))
    n_freq = sum(1 for c in df_by_word.values() if c >= min_docs)
    return n_freq, seen["words"], seen["cands"], seen["gather"]


def _pow2_at_least(x: int) -> int:
    return 1 << (x - 1).bit_length()


def test_gates_hold_64_bits_per_value(spark, monkeypatch):
    n_freq, word_bits, n_cands, gather_bits = _gate_bits(
        spark, monkeypatch, _corpus(300), min_docs=2
    )
    assert n_freq == 304  # the 300 pool words and the template's 4
    assert word_bits == _pow2_at_least(64 * n_freq) == 32768
    assert n_cands >= 3
    assert gather_bits == _pow2_at_least(64 * n_cands)


def test_gates_stop_at_bitmap_bits(spark, monkeypatch):
    monkeypatch.setattr(bitmap, "BITMAP_BITS", 4096)
    n_freq, word_bits, _, _ = _gate_bits(spark, monkeypatch, _corpus(100), min_docs=2)
    assert 64 * n_freq > 4096
    assert word_bits == 4096
