"""Checkpointed pipeline: snapshot commits, per-partition lineage, resume."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from boilerplate_buster_spark.plans.pipeline import (
    CheckpointStore,
    run_extraction_pipeline,
)
from boilerplate_buster_spark.sources import pages as pages_src

N_PAGES = 40
MIN_DOCS = 5


def _pages(spark):
    rows, golden = pages_src.generate_pages_local(N_PAGES, seed=11)
    return spark.createDataFrame(rows, schema=pages_src.PAGES_SCHEMA), golden


def test_pipeline_end_to_end_and_resume(spark, tmp_path):
    pages, golden = _pages(spark)
    ckpt = str(tmp_path / "ckpt")

    r1 = run_extraction_pipeline(spark, pages, ckpt, min_docs=MIN_DOCS, ngrams=3)
    assert r1["ran_stages"] == ["phrases", "extract"]
    assert r1["snapshot_id"] == 2
    assert r1["metrics"]["extract"]["n_pages"] == N_PAGES

    # extracted text matches the injection golden (byte-identical invariant)
    store = CheckpointStore(ckpt)
    ext = {r["url"]: r["extracted_text"]
           for r in store.read_table(spark, "extracted").collect()}
    for url, (want, _) in golden.items():
        assert ext[url] == want, url

    # lineage covers every page exactly once
    lin = store.read_table(spark, "lineage")
    assert lin.agg(F.sum("n_rows")).first()[0] == N_PAGES
    assert lin.filter(F.col("min_key").isNull()).count() == 0

    # resume: a second run must skip everything and keep the snapshot chain
    r2 = run_extraction_pipeline(spark, pages, ckpt, min_docs=MIN_DOCS, ngrams=3)
    assert r2["ran_stages"] == []
    assert r2["snapshot_id"] == 2
    assert r2["n_phrases"] == r1["n_phrases"]


def test_pipeline_resume_after_partial_commit(spark, tmp_path):
    """Simulate a crash between stages: only `phrases` committed; the next run
    must skip mining but still extract."""
    pages, golden = _pages(spark)
    ckpt = str(tmp_path / "ckpt2")

    full = run_extraction_pipeline(spark, pages, ckpt, min_docs=MIN_DOCS, ngrams=3)

    # forge a partial store: copy phrases commit only
    ckpt3 = str(tmp_path / "ckpt3")
    store_full, store_part = CheckpointStore(ckpt), CheckpointStore(ckpt3)
    phrases_df = store_full.read_table(spark, "phrases")
    path = store_part.write_table(phrases_df, "phrases")
    store_part.commit("phrases", {"phrases": path}, {"n_phrases": phrases_df.count()})

    r = run_extraction_pipeline(spark, pages, ckpt3, min_docs=MIN_DOCS, ngrams=3)
    assert r["ran_stages"] == ["extract"]
    ext = {row["url"]: row["extracted_text"]
           for row in store_part.read_table(spark, "extracted").collect()}
    for url, (want, _) in golden.items():
        assert ext[url] == want, url


def _persisted_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_pipeline_totals_from_write_and_no_cache_leak(spark, tmp_path, monkeypatch):
    """The extract totals come from the write (n_pages, Σ golden text
    length); a fresh run strips from the persisted parse, a resume from the
    raw pages; neither leaves a cached frame behind."""
    pages, golden = _pages(spark)
    ckpt = str(tmp_path / "ckpt4")
    plans = {}
    write_table = CheckpointStore.write_table

    def recording(self, df, name):
        plans[name] = df._jdf.queryExecution().executedPlan().toString()
        return write_table(self, df, name)

    monkeypatch.setattr(CheckpointStore, "write_table", recording)
    spark.catalog.clearCache()
    before = _persisted_rdd_ids(spark)

    r1 = run_extraction_pipeline(spark, pages, ckpt, min_docs=MIN_DOCS, ngrams=3)
    want = {"n_pages": N_PAGES,
            "extracted_chars": sum(len(t) for t, _ in golden.values())}
    assert r1["metrics"]["extract"] == want
    assert "InMemoryTableScan" in plans["extracted"]  # parsed once, cached
    assert _persisted_rdd_ids(spark) == before

    # crash before the extract commit: drop the last snapshot manifest
    snaps = CheckpointStore(ckpt)._snapshot_files()
    os.remove(os.path.join(ckpt, "_snapshots", snaps[-1]))
    r2 = run_extraction_pipeline(spark, pages, ckpt, min_docs=MIN_DOCS, ngrams=3)
    assert r2["ran_stages"] == ["extract"]
    assert r2["metrics"]["extract"] == want
    assert "InMemoryTableScan" not in plans["extracted"]
    assert _persisted_rdd_ids(spark) == before


def test_manifest_written_atomically(tmp_path):
    store = CheckpointStore(str(tmp_path / "s"))
    assert store.last_snapshot() is None
    store.commit("a", {}, {"x": 1})
    store.commit("b", {}, {"y": 2})
    snap = store.last_snapshot()
    assert snap["snapshot_id"] == 2 and set(snap["stages"]) == {"a", "b"}
    # no temp files left behind
    leftovers = [f for f in os.listdir(tmp_path / "s" / "_snapshots")
                 if f.startswith(".tmp")]
    assert leftovers == []
    # manifests are valid JSON chain
    for f in sorted(os.listdir(tmp_path / "s" / "_snapshots")):
        json.load(open(tmp_path / "s" / "_snapshots" / f))


def test_iceberg_store_selection_and_fallback(spark, tmp_path):
    """make_checkpoint_store: parquet store by default; when an Iceberg
    catalog is requested, the real store only if the runtime jar is present
    (skip-if-no-jar), a WARNED parquet fallback otherwise."""
    import warnings

    import pytest

    from boilerplate_buster_spark.plans.pipeline import (
        IcebergCheckpointStore,
        iceberg_available,
        make_checkpoint_store,
    )

    plain = make_checkpoint_store(spark, str(tmp_path / "a"))
    assert isinstance(plain, CheckpointStore)

    if not iceberg_available(spark):
        with warnings.catch_warnings(record=True) as w:
            warnings.simplefilter("always")
            store = make_checkpoint_store(
                spark, str(tmp_path / "b"), iceberg_catalog="local"
            )
        assert isinstance(store, CheckpointStore)
        assert any("no Iceberg runtime jar" in str(x.message) for x in w)
        pytest.skip("no Iceberg runtime jar on the classpath (expected here)")

    # real-jar path: full store contract against an actual catalog
    store = make_checkpoint_store(spark, str(tmp_path / "c"), iceberg_catalog="local")
    assert isinstance(store, IcebergCheckpointStore)
    assert store.last_snapshot() is None
    df = spark.createDataFrame([(1, "x")], "id bigint, v string")
    name = store.write_table(df, "t1")
    assert store.read_table(spark, "t1").count() == 1
    store.commit("phrases", {"t1": name}, {"n": 1})
    snap = store.last_snapshot()
    assert snap["snapshot_id"] == 1 and "phrases" in snap["stages"]


def test_iceberg_conf_shape():
    from boilerplate_buster_spark.session import iceberg_conf

    conf = iceberg_conf(catalog="prod", warehouse="/w")
    assert conf["spark.sql.catalog.prod"].endswith("SparkCatalog")
    assert conf["spark.sql.catalog.prod.warehouse"] == "/w"
    assert conf["spark.sql.catalog.prod.type"] == "hadoop"
