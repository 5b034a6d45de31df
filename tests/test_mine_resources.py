"""Resources ``bloomspan.mine`` holds while it runs: every cache it
persists is released on every exit path, and its Spark jobs run under a
job group of its own that is restored to the caller's on exit."""

from __future__ import annotations

import json

import pytest
from pyspark.sql.classic.dataframe import DataFrame

from boilerplate_buster_spark.operators import bloomspan

TEMPLATE = "alpha beta gamma delta epsilon zeta eta theta iota".split()


def _docs(spark, n_docs=8):
    rows = [(f"d{i}", [f"a{i}", f"b{i}"] + TEMPLATE + [f"c{i}"]) for i in range(n_docs)]
    return spark.createDataFrame(rows, "doc_id string, tokens array<string>")


def _persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


def _fail_when(monkeypatch, method: str, pred) -> None:
    orig = getattr(DataFrame, method)

    def failing(self, *a, **kw):
        if pred(self):
            raise RuntimeError("injected failure")
        return orig(self, *a, **kw)

    monkeypatch.setattr(DataFrame, method, failing)


@pytest.mark.parametrize("where", ["candidate collect", "occurrence transfer"])
def test_failed_mine_releases_every_cache(spark, monkeypatch, where):
    docs = _docs(spark)
    before = _persistent_rdds(spark)
    if where == "candidate collect":
        # the candidate collect is the only one that carries the seed hash
        _fail_when(monkeypatch, "collect", lambda df: "h0" in df.columns)
    else:
        # the last Spark action: the edges and the occurrence rows, whose
        # chain column no other frame has
        _fail_when(monkeypatch, "toArrow", lambda df: "ch" in df.columns)
    stats: dict = {}
    with pytest.raises(RuntimeError, match="injected failure"):
        bloomspan.mine(
            spark, docs, min_docs=3, ngrams=3, stats=stats,
        )
    assert _persistent_rdds(spark) == before
    json.dumps(stats)  # no live Observation left behind


def test_window_retry_releases_every_cache(spark):
    docs = _docs(spark)
    before = _persistent_rdds(spark)
    stats: dict = {}
    out = bloomspan.mine(
        spark, docs, min_docs=3, ngrams=3,
        window=4, stats=stats,  # the 9-token phrase needs two retries
    )
    assert [(p.text, p.support) for p in out] == [(" ".join(TEMPLATE), 8)]
    assert _persistent_rdds(spark) == before


def test_mine_runs_under_its_own_job_group(spark):
    sc = spark.sparkContext
    sc.setJobGroup("caller-group", "caller work")
    try:
        stats: dict = {}
        bloomspan.mine(spark, _docs(spark), min_docs=3, ngrams=3, stats=stats)
        assert sc.getLocalProperty("spark.jobGroup.id") == "caller-group"
        assert sc.getLocalProperty("spark.job.description") == "caller work"
        assert sc.statusTracker().getJobIdsForGroup("caller-group") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.job.interruptOnCancel", None)
    assert stats["spark_jobs"] > 0
    assert set(stats["phase_s"]) == {
        "words", "candidates", "edges", "walk", "occurrences", "selection"}
    assert all(v >= 0 for v in stats["phase_s"].values())
    json.dumps(stats)
