"""Vectorized strip kernel (core/extract_vec.py) vs the pure-Python golden
kernel (core/extract.py): byte-identical outputs and identical spans on
random corpora, overlap/boundary edge cases, and hash-collision safety via
exact verification."""

from __future__ import annotations

import random

from boilerplate_buster_spark.core import extract_vec
from boilerplate_buster_spark.core.extract import index_phrases, strip_boilerplate
from boilerplate_buster_spark.core.extract_vec import strip_batch


def _cross_check(texts, phrases):
    by_len = index_phrases(phrases)
    got_texts, got_spans = strip_batch(texts, by_len)
    for t, gt, gs in zip(texts, got_texts, got_spans):
        wt, ws = strip_boilerplate(t or "", by_len)
        assert gt == wt, (t, gt, wt)
        assert gs == ws, (t, gs, ws)


def test_empty_and_edge_inputs():
    _cross_check(["", "   ", "a", None or ""], ["a b"])
    _cross_check(["a b c"], [])
    _cross_check(["a b c", ""], ["a b c"])  # whole doc removed
    _cross_check(["x a b"], ["a b", "b"])  # nested overlap at doc end


def test_boundary_never_crossed():
    # "b c | a b" split across two docs must NOT match phrase "c a"
    _cross_check(["b c", "a b"], ["c a", "a b"])
    _cross_check(["p q r", "r p q"], ["r r", "q r p"])


def test_overlapping_phrases_union_marks():
    texts = ["u v w x y z", "v w x", "z u v w"]
    _cross_check(texts, ["u v w", "w x y", "v w"])


def test_punctuation_and_unicode_spans():
    texts = [
        "Hello, WORLD! foo-bar baz.",
        "café crème foo-bar",
        "日本語 テスト Hello",
    ]
    _cross_check(texts, ["foo bar", "hello", "café crème"])


def test_random_corpora_match_golden():
    rng = random.Random(7)
    vocab = ["w%02d" % i for i in range(40)]
    boiler = [
        " ".join(rng.choice(vocab) for _ in range(rng.randrange(2, 6)))
        for _ in range(12)
    ]
    texts = []
    for _ in range(60):
        words = [rng.choice(vocab) for _ in range(rng.randrange(0, 50))]
        # splice boilerplate fragments at random positions
        for _ in range(rng.randrange(0, 4)):
            frag = rng.choice(boiler).split(" ")
            at = rng.randrange(0, len(words) + 1)
            words[at:at] = frag
        sep = rng.choice([" ", "  ", " , ", "\n"])
        texts.append(sep.join(words))
    _cross_check(texts, boiler)


def test_repeated_phrase_inside_doc():
    t = "nav nav nav body text nav nav nav"
    _cross_check([t], ["nav nav nav"])
    _cross_check([t], ["nav nav"])  # overlapping repeats -> one merged run


def test_adjacent_docs_marked_at_shared_boundary_give_two_runs():
    texts = ["x a b", "a b y"]
    _cross_check(texts, ["a b"])
    got_t, got_s = strip_batch(texts, index_phrases(["a b"]))
    assert got_t == ["x ", " y"]
    assert got_s == [[(2, 5, "a b")], [(0, 3, "a b")]]


def test_separator_only_and_empty_batches():
    texts = ["", " ", "\n", ", ;", "\n\n", "-"]
    _cross_check(texts, ["a b", "a"])
    assert strip_batch(texts, index_phrases(["a"])) == (texts, [[]] * len(texts))
    assert strip_batch([], index_phrases(["a"])) == ([], [])


def test_empty_phrase_table_returns_inputs_without_tokenizing(monkeypatch):
    def no_tokenize(texts):
        raise AssertionError("tokenized a batch with no phrases")

    monkeypatch.setattr(extract_vec, "tokenize_batch", no_tokenize)
    texts = ["a b", None, ""]
    assert strip_batch(texts, index_phrases([])) == (["a b", "", ""], [[], [], []])
