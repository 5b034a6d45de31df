"""The closed-pattern miners' in-scan level gate, with no fixture files.

``closed_contiguous_patterns`` (occurrence support, BIDE/CloSpan) and
``prefixspan_patterns`` (distinct-doc support, modes all/closed/maximal)
must equal their pure-Python oracles on generated corpora:

  * ungated (the corpus is below ``_GATE_MIN_WINDOWS``);
  * gated (``_GATE_MIN_WINDOWS`` = 0), each level k+1 scanning only the
    windows whose leading k-gram passes the bitmap gate of level k;
  * gated with a saturated 64-bit bitmap (``bitmap.BITMAP_BITS`` patched),
    where nearly every window passes and the exact thresholds drop the
    false positives.

Corpora: small-vocabulary random texts (repeats within a doc, support ties,
empty and one-token docs) and template corpora (long templates between
hash-unique filler words, so levels run deep and the gate prunes).
"""

from __future__ import annotations

import random

import pytest

from boilerplate_buster_spark.core import pyref
from boilerplate_buster_spark.functions import bitmap
from boilerplate_buster_spark.operators import closed_patterns as cp

TEMPLATES = (
    "skip to main content home shop deals help account cart",
    "join our mailing list to get early access",
    "copyright all rights reserved",
)


def random_corpus(seed: int) -> list[list[str]]:
    rng = random.Random(seed)
    words = [f"t{j}" for j in range(7)]
    docs = [[rng.choice(words) for _ in range(rng.randrange(2, 22))] for _ in range(18)]
    return docs + [[], ["t0"]]


def template_corpus(seed: int) -> list[list[str]]:
    rng = random.Random(seed)

    def filler() -> list[str]:
        return [f"u{rng.getrandbits(64):016x}" for _ in range(rng.randrange(1, 5))]

    docs = []
    for _ in range(24):
        toks = filler()
        for t in TEMPLATES:
            if rng.random() < 0.6:
                toks += t.split() + filler()
        docs.append(toks)
    return docs


CORPORA = {
    "random-s2": (lambda: random_corpus(2), 2, 1),
    "templates-s1": (lambda: template_corpus(1), 4, 2),
}
SETTINGS = ("ungated", "gated", "saturated")


def _rows(out):
    return {(r["phrase"], r["freq"], r["length"]) for r in out.collect()}


def _want(phrases):
    return {(p.text, p.support, len(p.tokens)) for p in phrases}


@pytest.fixture
def level_gates(monkeypatch):
    """Counts the level gates the miners build."""
    built = []
    real = cp._level_gate

    def counting(*a, **kw):
        built.append(a[2])
        return real(*a, **kw)

    monkeypatch.setattr(cp, "_level_gate", counting)
    return built


@pytest.mark.parametrize("setting", SETTINGS)
@pytest.mark.parametrize("name", sorted(CORPORA))
def test_closed_miners_equal_pyref(spark, monkeypatch, level_gates, name, setting):
    make, min_sup, min_l = CORPORA[name]
    docs = make()
    if setting != "ungated":
        monkeypatch.setattr(cp, "_GATE_MIN_WINDOWS", 0)
    if setting == "saturated":
        monkeypatch.setattr(bitmap, "BITMAP_BITS", 64)
    df = spark.createDataFrame(
        [(f"d{i:03d}", d) for i, d in enumerate(docs)], "doc_id string, tokens array<string>"
    )
    want = _want(pyref.bide_mine(docs, min_docs=min_sup, min_l=min_l))
    assert want, name
    assert _rows(cp.closed_contiguous_patterns(spark, df, min_sup=min_sup, min_l=min_l)) == want
    for mode in ("all", "closed", "maximal"):
        want = _want(pyref.prefixspan_mine(docs, min_sup, min_l, mode=mode))
        got = _rows(cp.prefixspan_patterns(spark, df, min_docs=min_sup, min_l=min_l, mode=mode))
        assert got == want, mode
    # every level but the last builds the next level's gate when gated
    assert bool(level_gates) == (setting != "ungated")
    if setting != "ungated":
        assert level_gates[:2] == [1, 2]


def test_gate_engages_at_the_observed_position_count(spark, monkeypatch, level_gates):
    """The level-1 scan's observation counts the corpus' token positions:
    the gate engages at exactly `_GATE_MIN_WINDOWS` of them, not one below."""
    docs = template_corpus(3)
    df = spark.createDataFrame(
        [(f"d{i:03d}", d) for i, d in enumerate(docs)], "doc_id string, tokens array<string>"
    )
    positions = sum(map(len, docs))
    for threshold, gated in ((positions, True), (positions + 1, False)):
        monkeypatch.setattr(cp, "_GATE_MIN_WINDOWS", threshold)
        for run in (
            lambda: cp.closed_contiguous_patterns(spark, df, min_sup=4, min_l=2),
            lambda: cp.prefixspan_patterns(spark, df, min_docs=4, min_l=2),
        ):
            level_gates.clear()
            run()
            assert bool(level_gates) == gated, threshold


def test_gated_level_probes_the_bitmap_before_the_explode(spark):
    """A gated level filters window starts with the 2-probe bitmap probe
    over the broadcast one-row gate, in the explode's input - no literal
    IN-list."""
    docs = template_corpus(4)
    txt = spark.createDataFrame(
        [(f"d{i:03d}", " ".join(d)) for i, d in enumerate(docs)], "doc_id string, _t string"
    )
    gate = cp._level_gate(spark, cp._gram_counts(txt, 2, 4, None), 2)
    assert len(gate.first()["bf"]) >= 1
    for lvl in (cp._gram_counts(txt, 3, 4, gate), cp._doc_gram_counts(txt, 3, "doc_id", gate)):
        opt = lvl._jdf.queryExecution().optimizedPlan().toString()
        assert " IN " not in opt and "INSET" not in opt
        gen = opt.index("Generate")
        # the optimized plan prints top-down: the probe is in the explode's input
        assert "shiftright" not in opt[:gen] and "shiftright" in opt[gen:]
        assert opt[gen:].count("xxhash64") >= 2  # two probes
        phys = lvl._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastNestedLoopJoin" in phys or "BroadcastExchange" in phys
