"""Certify the cap-binding distributed-mining regime (round-6 verdict #2).

``max_occs_per_gram`` is the 100-TB transfer guard: when a head gram's
distinct-doc support exceeds the cap, the mine's edge-and-occurrence action
keeps a deterministic doc subsample at rate cap/support, expansion
thresholds scale to the unbiased estimate, and closure/bitmask/examples
run over the subsample (bloomspan.py module docstring).  Every
pre-round-7 test ran far below the cap, where the path is trivially
exact - this file builds a corpus where the cap PROVABLY binds and
asserts (a) the sampling branch engages on the gathered rows themselves,
(b) the stats ledger records the capped grams, and (c) the emitted phrase
SET equals the exact uncapped distributed run, with supports equal to the
documented rescaled-estimate surface.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from boilerplate_buster_spark.functions import bitmap
from boilerplate_buster_spark.operators import bloomspan
from boilerplate_buster_spark.operators.corpus_stats import word_doc_freq

P1 = "alpha bravo charlie delta echo foxtrot".split()
P2 = "golf hotel india juliet kilo lima".split()
MIN_DOCS = 100
CAP = 30
N_DOCS = 300


@pytest.fixture(scope="module")
def corpus(spark):
    """300 docs: P1 (6 tokens) in every doc, P2 in docs 0-149, plus three
    doc-unique filler tokens between and around the phrases so nothing
    else clears the word gate."""
    rows = []
    for i in range(N_DOCS):
        toks = [f"u{i}x"] + P1 + [f"u{i}y"]
        if i < 150:
            toks += P2 + [f"u{i}z"]
        rows.append((f"doc{i:04d}", toks))
    return spark.createDataFrame(rows, "doc_id string, tokens array<string>")


def test_cap_binds_on_the_gathered_rows(spark, corpus):
    """Direct branch assertion: the per-gram doc-sampling filter drops
    rows on this corpus (not just 'the flag was set')."""
    # the word gate, candidate collect and numbering `mine` runs
    freq = word_doc_freq(corpus).filter(F.col("df") >= MIN_DOCS)
    words = bitmap.bitmap_gate(spark, bitmap.bitmap_words(freq, "word").collect())
    grams, _ = bloomspan.candidate_grams(corpus, 3, MIN_DOCS, words)
    cand_rows, gate = bloomspan._number_candidates(
        spark, bloomspan._with_seed_hashes(grams, 3).collect()
    )
    # the candidates' occurrence rows of the edge-and-occurrence frame
    seeds = F.col("seed").isin([r[3] for r in cand_rows])

    def occurrence_rows(cap):
        frame = bloomspan.edges_and_occurrences(corpus, gate, cand_rows, 3, 16, cap, MIN_DOCS)
        return frame.filter(F.col("d").isNull() & seeds).count()

    uncapped, capped = occurrence_rows(None), occurrence_rows(CAP)
    assert capped < uncapped, (
        f"cap={CAP} did not drop any of the {uncapped} gathered occurrence "
        f"rows - the corpus no longer exercises the sampling branch"
    )
    # the sample keeps roughly cap/support of the docs, and always enough
    # to clear the scaled expansion threshold
    assert capped >= len(cand_rows)  # at least one row per gram


def test_capped_distributed_matches_exact_run(spark, corpus):
    stats_exact: dict = {}
    exact = bloomspan.mine(
        spark,
        corpus,
        min_docs=MIN_DOCS,
        ngrams=3,
        max_occs_per_gram=None,
        stats=stats_exact,
    )
    stats_cap: dict = {}
    capped = bloomspan.mine(
        spark,
        corpus,
        min_docs=MIN_DOCS,
        ngrams=3,
        max_occs_per_gram=CAP,
        stats=stats_cap,
    )
    # the ledger records that the cap touched every candidate (all
    # candidate grams here have support >= 150 > CAP)
    assert stats_exact["occ_cap_sampled_grams"] == 0
    assert stats_cap["occ_cap_sampled_grams"] > 0

    # phrase SET identical: the subsample is >> the scaled threshold, so
    # greedy expansion walks the same path and selection keeps the same
    # maximal phrases
    exact_set = {p.text for p in exact}
    capped_set = {p.text for p in capped}
    assert exact_set == capped_set
    assert " ".join(P1) in exact_set
    assert " ".join(P2) in exact_set

    # supports: exact run reports true distinct-doc counts; capped run
    # reports min(seed_support, max(min_docs, round(sup * support/cap)))
    # where sup is the subsample edge support - assert the documented
    # tolerance (within 25% of truth and never above the exact seed df)
    exact_by_text = {p.text: p.support for p in exact}
    for p in capped:
        truth = exact_by_text[p.text]
        assert p.support <= truth
        assert p.support >= int(0.75 * truth), (
            f"{p.text}: estimated support {p.support} vs exact {truth}"
        )
