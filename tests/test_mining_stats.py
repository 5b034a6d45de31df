"""M5 mining-statistics table (reference bloom_gram_miner.cpp:447-454,
710-718): seed totals, accepted/rejected + %reduction, phrase counts,
selection counters - emitted by ``bloomspan.mine`` and committed into the
pipeline checkpoint snapshot."""

from __future__ import annotations

from boilerplate_buster_spark.core import pyref
from boilerplate_buster_spark.core.expand import WCandidate, WOcc, expand_windowed
from boilerplate_buster_spark.operators import bloomspan
from boilerplate_buster_spark.plans.pipeline import run_extraction_pipeline
from boilerplate_buster_spark.sources.pages import pages_df_local

STATS_KEYS = {
    "seeds_total", "seeds_accepted", "seeds_rejected", "pct_reduction",
    "candidates_after_merge", "phrases_total", "phrases_6plus",
    "selection_skipped_covered", "selection_dropped_closure",
}


def _fixture_rows():
    boiler = "all rights reserved contact us for details"
    rows = []
    for i in range(12):
        noise = " ".join(f"n{i}x{j}" for j in range(6))
        rows.append((i, f"{noise} {boiler} tail{i}".split(" ")))
    return rows


def _fixture_docs(spark):
    return spark.createDataFrame(_fixture_rows(), "doc_id long, tokens array<string>")


def _kernel_stats(docs: list[list[str]], min_docs: int, ngrams: int):
    """(phrase texts, selection counters) of the oracle's kernel,
    expand_windowed, over whole-doc windows (as pyref builds them)."""
    cands = [
        WCandidate(list(g), s, [WOcc(d, p, docs[d][p - 1] if p else None, docs[d][p:])
                                for d, p in occs])
        for g, s, occs in pyref.ngram_candidates(docs, ngrams, min_docs)
    ]
    stats: dict = {}
    out = expand_windowed(cands, min_docs, ngrams,
                          window=max(map(len, docs)) + 1, stats=stats)
    return sorted(p.text for p in out), stats


def _check(stats, expect_6plus: int):
    assert STATS_KEYS <= set(stats), sorted(STATS_KEYS - set(stats))
    assert stats["seeds_total"] == stats["seeds_accepted"] + stats["seeds_rejected"]
    assert stats["seeds_accepted"] >= stats["candidates_after_merge"] == stats["seeds_accepted"]
    assert 0.0 <= stats["pct_reduction"] <= 100.0
    assert stats["phrases_total"] >= 1
    assert stats["phrases_6plus"] == expect_6plus


def test_stats_mine_and_kernel_agree(spark):
    """mine's phrases and selection counters equal those of the oracle's
    sequential kernel (expand_windowed) on the same corpus."""
    stats: dict = {}
    phrases = bloomspan.mine(spark, _fixture_docs(spark), min_docs=10, ngrams=3,
                             stats=stats)
    _check(stats, expect_6plus=1)  # the 7-token boilerplate phrase
    # wall time and job count are per-run facts, not mining statistics
    assert stats.pop("spark_jobs") > 0
    assert set(stats.pop("phase_s")) >= {"words", "candidates"}
    texts, kernel = _kernel_stats([t for _, t in _fixture_rows()], 10, 3)
    assert sorted(p.text for p in phrases) == texts
    assert {k: stats[k] for k in kernel} == kernel
    assert set(kernel) == {"selection_skipped_covered", "selection_dropped_closure"}


def test_stats_keys_when_no_candidate_survives(spark):
    """A mine that finds no candidate gram still reports every key."""
    stats: dict = {}
    assert bloomspan.mine(spark, _fixture_docs(spark), min_docs=13, ngrams=3,
                          stats=stats) == []
    assert STATS_KEYS <= set(stats), sorted(STATS_KEYS - set(stats))
    assert stats["candidates_after_merge"] == stats["phrases_total"] == 0
    assert stats["selection_skipped_covered"] == stats["selection_dropped_closure"] == 0
    assert stats["occ_cap_sampled_grams"] == 0


def test_reused_stats_dict_reports_the_last_mine(spark):
    """A stats dict passed to a second mine holds that mine's counts,
    candidates_after_merge included."""
    stats: dict = {}
    bloomspan.mine(spark, _fixture_docs(spark), min_docs=10, ngrams=3, stats=stats)
    assert stats["candidates_after_merge"] > 0
    bloomspan.mine(spark, _fixture_docs(spark), min_docs=13, ngrams=3, stats=stats)
    assert stats["candidates_after_merge"] == stats["seeds_accepted"] == 0


def test_pipeline_snapshot_carries_mining_stats(spark, tmp_path):
    pages = pages_df_local(spark, 30, seed=7)
    res = run_extraction_pipeline(
        spark, pages, str(tmp_path / "ckpt"), min_docs=12, ngrams=3
    )
    m = res["metrics"]["phrases"]
    assert STATS_KEYS <= set(m)
    assert m["phrases_total"] == m["n_phrases"]


def test_pipeline_manifest_carries_mine_phases_and_job_count(spark, tmp_path):
    import json

    from boilerplate_buster_spark.plans.pipeline import CheckpointStore

    pages = pages_df_local(spark, 30, seed=7)
    ckpt = str(tmp_path / "ckpt")
    run_extraction_pipeline(spark, pages, ckpt, min_docs=12, ngrams=3)
    snap = CheckpointStore(ckpt).last_snapshot()
    m = snap["stages"]["phrases"]["metrics"]
    assert m["spark_jobs"] > 0
    assert {"words", "candidates"} <= set(m["phase_s"])
    assert all(isinstance(v, float) and v >= 0 for v in m["phase_s"].values())
    json.dumps(snap)


def test_capped_sampling_scales_expansion_threshold(spark):
    """When max_occs_per_gram binds (seed support > cap), expansion-edge
    supports are subsample counts; the threshold must scale to the unbiased
    estimate or greedy expansion silently truncates (round-2 ADVICE item).
    Here min_docs(20) > cap(8): the raw threshold could NEVER pass on a
    <=~8-doc sample, so this test fails outright without the scaling."""
    boiler = "all rights reserved contact us for details"
    rows = []
    for i in range(40):
        noise = " ".join(f"n{i}x{j}" for j in range(4))
        rows.append((i, f"{noise} {boiler} tail{i}".split(" ")))
    docs = spark.createDataFrame(rows, "doc_id long, tokens array<string>")
    stats: dict = {}
    phrases = bloomspan.mine(
        spark, docs, min_docs=20, ngrams=3, max_occs_per_gram=8, stats=stats,
    )
    assert stats["occ_cap_sampled_grams"] >= 1
    texts = {p.text for p in phrases}
    assert boiler in texts, texts  # expansion reached the full 7-token phrase
    full = next(p for p in phrases if p.text == boiler)
    # reported support is the rescaled unbiased estimate, bounded by exact df
    assert 20 <= full.support <= 40
