"""Physical-plan hygiene tests (SURVEY.md section 4): the operators must
compile to the plans we designed for 100 TB - map-side combine before the
exchange, two-level distinct aggregation (Catalyst's built-in analog of salted
keys), parquet filter pushdown + column pruning, and whole-stage codegen on
the hot path."""

from __future__ import annotations

import contextlib
import io
import re

from pyspark.sql import functions as F

from boilerplate_buster_spark.functions import bitmap
from boilerplate_buster_spark.operators import bloomspan, corpus_stats


def explain_str(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def toy_docs(spark):
    return spark.createDataFrame(
        [(1, ["a", "b", "c"]), (2, ["a", "b", "d"])], ["doc_id", "tokens"]
    )


def test_word_df_partial_aggregation(spark):
    plan = explain_str(corpus_stats.word_doc_freq(toy_docs(spark)))
    # two HashAggregates around one exchange: map-side combine happens
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan
    assert "hashpartitioning(word" in plan
    # no per-row Python anywhere on the hot path
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ngram_df_dedups_before_shuffle(spark):
    plan = explain_str(corpus_stats.ngram_doc_freq(toy_docs(spark), 2))
    # intra-doc dedup is array_distinct INSIDE the doc row (before explode),
    # so the aggregate is a plain count - no expensive distinct rewrite
    assert "array_distinct" in plan
    assert plan.count("HashAggregate") >= 2


def _word_gate(spark, docs, min_docs):
    """The gate `mine` builds, from the same word-gate collect."""
    freq = corpus_stats.word_doc_freq(docs).filter(F.col("df") >= min_docs)
    return bitmap.bitmap_gate(spark, bitmap.bitmap_words(freq, "word").collect())


def test_candidate_grams_dedup_and_gate_before_shuffle(spark):
    docs = toy_docs(spark)
    plan = explain_str(bloomspan.candidate_grams(docs, 2, 1, _word_gate(spark, docs, 1))[0],
                       mode="simple")
    # distinct-doc support WITHOUT a distinct-aggregate rewrite: per-doc
    # array_distinct collapses repeats map-side, the agg is a plain count
    # with partial aggregation before the exchange
    assert "array_distinct" in plan
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan or "count(1)" in plan
    # the reference's word-DF gate (P3) runs inside the scan: both xxhash64
    # bitmap probes per token, materialized once as the _ok boolean array
    assert "xxhash64" in plan
    assert "_ok" in plan


def _mine_action_plan(spark, monkeypatch) -> str:
    """The final plan of the one edge-and-occurrence action of a mine over
    a template corpus, read after the action ran (Spark's adaptive
    execution shows the reused gate exchange only then)."""
    from pyspark.sql.classic.dataframe import DataFrame

    plans = []
    orig = DataFrame.toArrow

    def recording(self):
        out = orig(self)
        if {"tok", "nxt", "ch"} <= set(self.columns):
            plans.append(explain_str(self, mode="simple").split("== Initial Plan ==")[0])
        return out

    monkeypatch.setattr(DataFrame, "toArrow", recording)
    tpl = "alpha beta gamma delta epsilon zeta".split()
    docs = spark.createDataFrame(
        [(f"d{i}", [f"a{i}"] + tpl + [f"b{i}"] + tpl[:4]) for i in range(6)],
        "doc_id string, tokens array<string>",
    )
    out = bloomspan.mine(spark, docs, min_docs=3, ngrams=3, max_occs_per_gram=None)
    assert [p.text for p in out] == [" ".join(tpl)]
    assert len(plans) == 1
    return plans[0]


def _probes_below_generates(plan: str) -> bool:
    """Every Generate of a simple-mode plan has the shiftright gate probe in
    its own line or below it, and no probe sits outside such a subtree."""
    lines = plan.splitlines()
    col = [re.match(r"[ :+\-]*", line).end() for line in lines]

    def subtree(i):
        j = i + 1
        while j < len(lines) and col[j] > col[i]:
            j += 1
        return set(range(i, j))

    gens = [subtree(i) for i, line in enumerate(lines)
            if re.match(r"[ :+\-]*(\*\(\d+\) )?Generate ", line)]
    probes = {i for i, line in enumerate(lines) if "shiftright" in line}
    return bool(gens) and all(g & probes for g in gens) and probes <= set().union(*gens)


def test_edge_aggregate_is_one_exchange_over_no_cache(spark, monkeypatch):
    """The plan of the one action a mine runs after its candidate collect:
    per-doc deduped edges counted in ONE hash exchange (no distinct-
    aggregate rewrite), unioned with the occurrence rows, both read from
    the doc scan, not from a cached gathered table; the gate broadcast
    runs once and the second branch reuses it."""
    plan = _mine_action_plan(spark, monkeypatch)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Union" in plan
    assert len(re.findall(r"\+- BroadcastExchange ", plan)) == 1
    assert len(re.findall(r"\+- ReusedExchange \[.*\], BroadcastExchange ", plan)) == 1
    assert "InMemoryRelation" not in plan
    assert "InMemoryTableScan" not in plan


def test_candidates_reach_the_doc_scans_as_broadcast_frames(spark, monkeypatch):
    """The one action of a mine gets its candidates from a broadcast
    frame, not from literals and not from a join: the plan holds no
    IN-set, no candidate hash and no hash join on the seed, and each
    branch probes the gather bitmap at or below its explode."""
    plan = _mine_action_plan(spark, monkeypatch)
    assert "INSET" not in plan and " IN (" not in plan
    # a 64-bit hash literal has up to 20 digits
    assert not re.search(r"\d{12,}", plan)
    assert not re.search(r"BroadcastHashJoin \[seed", plan)
    assert plan.count("Generate") == 2
    assert _probes_below_generates(plan)


def test_parquet_pushdown_and_pruning(spark):
    df = (
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter(F.col("lang") == "en")
        .select("doc_id")
    )
    plan = explain_str(df)
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan
    # column pruning: scan reads only the two needed columns
    assert "doc_id" in plan.split("ReadSchema")[1][:200]
    assert "text" not in plan.split("ReadSchema")[1][:200]


def test_minhash_banding_single_pass(spark):
    from boilerplate_buster_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "a b c d e".split()), (2, "a b c d f".split())], ["doc_id", "tokens"]
    )
    plan = explain_str(dedup.minhash_bands(docs), mode="simple")
    # one projection + explode of the band-struct array: NO Union branches
    # re-deriving the signature pipeline (round-1 anti-pattern)
    assert "Union" not in plan
    assert plan.count("Generate explode") == 1


def test_lsh_pairs_no_self_join(spark):
    from boilerplate_buster_spark.operators import dedup

    docs = spark.createDataFrame(
        [(1, "a b c d e".split()), (2, "a b c d f".split())], ["doc_id", "tokens"]
    )
    plan = explain_str(dedup.lsh_candidate_pairs(docs), mode="simple")
    # pair expansion happens inside the bucket group - no join at all
    assert "Join" not in plan
    # exactly the bucket groupBy + final distinct: two aggregates, each with
    # its partial phase (4 HashAggregate nodes), nothing quadratic
    assert "collect_set" in plan


def test_strip_pass_is_pure_map(spark):
    from boilerplate_buster_spark.operators.extraction import strip_text_pass

    df = spark.createDataFrame([("u1", "a b c")], ["url", "text_repr"])
    plan = explain_str(strip_text_pass(df, ["a b"]), mode="simple")
    # pass 2 is a single Arrow-batched map: no Exchange anywhere
    assert "Exchange" not in plan
    assert "MapInPandas" in plan


def test_strip_pass_from_raw_pages_is_one_map(spark):
    from boilerplate_buster_spark.operators.extraction import strip_pass

    df = spark.createDataFrame(
        [("u1", b"<p>a b c</p>", None)], "url string, html binary, text string"
    )
    plan = explain_str(strip_pass(df, ["a b"]), mode="simple")
    # parse + strip run in ONE Arrow-batched map, with no Exchange
    assert "Exchange" not in plan
    assert plan.count("MapInPandas") == 1


def test_word_bitmap_gate_stays_jvm_side(spark):
    docs = toy_docs(spark)
    plan = explain_str(bloomspan.candidate_grams(docs, 2, 1, _word_gate(spark, docs, 1))[0],
                       mode="simple")
    # broadcast the 1-row bitmap; probes are shift/and expressions in the
    # scan projection - no Python, no shuffle before the gram aggregate
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "shiftright" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_salted_helpers_exact_and_salted(spark):
    from boilerplate_buster_spark.functions.skew import (
        salted_distinct_count,
        salted_join,
    )

    # head-key skew: one gram holds 90% of rows
    rows = [("hot", f"d{i % 50}") for i in range(900)] + [
        (f"g{i}", f"d{i}") for i in range(100)
    ]
    df = spark.createDataFrame(rows, ["gram", "doc_id"])
    got = {
        r["gram"]: r["n_distinct"]
        for r in salted_distinct_count(df, "gram", "doc_id", salt=8).collect()
    }
    want = {
        r["gram"]: r["n"]
        for r in df.groupBy("gram").agg(
            F.countDistinct("doc_id").alias("n")
        ).collect()
    }
    assert got == want
    plan = explain_str(salted_distinct_count(df, "gram", "doc_id", salt=8))
    assert "_salt" in plan  # the salt is actually in the aggregation key

    dims = spark.createDataFrame(
        [("hot", 1), ("g1", 2), ("g2", 3)], ["gram", "v"]
    )
    j = salted_join(df, dims, "gram", salt=4)
    want_j = df.join(dims, "gram")
    assert j.count() == want_j.count()
    assert j.groupBy("gram").count().orderBy("gram").collect() == \
        want_j.groupBy("gram").count().orderBy("gram").collect()


def test_bucketed_layout_join_has_no_exchange(spark, tmp_path):
    from boilerplate_buster_spark.sources.sinks import write_bucketed

    a = spark.range(0, 1000).select(F.col("id").alias("k"), F.rand(1).alias("x"))
    b = spark.range(0, 1000).select(F.col("id").alias("k"), F.rand(2).alias("y"))
    write_bucketed(a, "bkt_a", "k", 8)
    write_bucketed(b, "bkt_b", "k", 8)
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table("bkt_a").join(spark.table("bkt_b"), "k")
        plan = explain_str(joined, mode="simple")
        # co-located: SortMergeJoin straight over the bucketed scans
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert joined.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bkt_a")
        spark.sql("DROP TABLE IF EXISTS bkt_b")


def test_ivf_partitioned_scan_prunes_to_probed_cells(spark, tmp_path):
    """The IVF at-scale layout claim, plan-asserted: a query over an
    ivf_write_partitioned layout restricts the parquet scan with a
    PARTITION filter on the probed cells (no data-level filter) - Spark
    never opens non-probed cell directories."""
    from boilerplate_buster_spark.operators import ann

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = ann.ivf_fit_centroids(emb, n_centroids=8, iters=1)
    path = str(tmp_path / "ivf_cells")
    ann.ivf_write_partitioned(emb, cents, path)

    q_vec = [float(x) for x in emb.select("embedding").first()["embedding"]]
    n_probe = 2
    out = ann.ivf_topk_partitioned(spark, path, q_vec, cents, k=5, n_probe=n_probe)
    plan = out._jdf.queryExecution().executedPlan().toString()
    cells = ann.probed_cells(q_vec, cents, n_probe)
    in_set = ",".join(str(c) for c in cells)
    # the cell restriction is a PartitionFilter (directory pruning), with
    # NO leftover data filter on c
    assert f"PartitionFilters: [c#" in plan or "PartitionFilters: [" in plan
    assert in_set in plan.replace(", ", ",").split("PartitionFilters")[1].split("]")[0]
    scan_line = next(l for l in plan.split("\n") if "FileScan" in l)
    assert "DataFilters: []" in scan_line
    # semantics: scan output == rows of exactly the probed cells
    probed_rows = sum(
        spark.read.parquet(f"{path}/c={c}").count() for c in cells
    )
    assert spark.read.parquet(path).filter(
        F.col("c").isin(cells)).count() == probed_rows
    # and the partitioned search returns the same top-k as the in-scan form
    a = [tuple(r) for r in out.collect()]
    b = [tuple(r) for r in ann.ivf_topk(emb, q_vec, cents, k=5, n_probe=n_probe).collect()]
    assert a == b


def test_pretrained_lm_broadcasts_model(spark):
    # CCNet shape: model tables broadcast, the target corpus is never
    # shuffled for the model joins; the corpus-trained variant must keep
    # shuffle joins (model is corpus-sized - broadcasting it would ship
    # the whole vocabulary to every executor)
    from boilerplate_buster_spark.operators.lm import (
        lm_quality_scores,
        pretrained_bigram_scores,
    )

    docs = spark.createDataFrame(
        [(i, ["a", "b", "c", "a", "b"]) for i in range(6)], ["doc_id", "tokens"]
    )
    model = spark.createDataFrame(
        [(100, ["a", "b", "a"]), (101, ["b", "c"])], ["doc_id", "tokens"]
    )
    plan = explain_str(pretrained_bigram_scores(docs, model))
    assert "BroadcastHashJoin" in plan
    # both model joins broadcast -> no SortMergeJoin against the model
    assert plan.count("BroadcastHashJoin") >= 2


def test_url_policy_operators_broadcast_not_shuffle(spark):
    # blocklist and robots rule tables are policy-sized: both must reach
    # the corpus through broadcast joins, never a corpus-side shuffle
    from boilerplate_buster_spark.operators.urls import (
        parse_robots_df,
        robots_filter,
        url_blocklist_filter,
    )

    urls = spark.createDataFrame(
        [(f"https://h{i % 7}.com/p{i}",) for i in range(50)], ["url"]
    )
    plan = explain_str(url_blocklist_filter(urls, ["h1.com", "h2.com"]))
    assert "BroadcastHashJoin" in plan
    robots = spark.createDataFrame(
        [("h1.com", "User-agent: *\nDisallow: /p/\n")], ["host", "robots_txt"]
    )
    plan2 = explain_str(robots_filter(urls, parse_robots_df(robots), "bot"))
    assert "BroadcastHashJoin" in plan2


def test_weighted_mix_is_pure_scan_filter(spark):
    from boilerplate_buster_spark.operators.packing import weighted_corpus_mix

    docs = spark.createDataFrame(
        [(i, "web") for i in range(20)], ["doc_id", "source"]
    )
    plan = explain_str(weighted_corpus_mix(docs, {"web": 500000}))
    # no shuffle, no Python - a deterministic filter in the scan stage
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bm25_broadcasts_df_and_prunes_postings(spark):
    from boilerplate_buster_spark.operators.search import (
        bm25_search,
        inverted_index,
    )
    from pyspark.sql import functions as F

    docs = spark.createDataFrame(
        [(i, ["a", "b", "c"]) for i in range(10)], ["doc_id", "tokens"]
    )
    dl = docs.select("doc_id", F.size("tokens").alias("dl"))
    plan = explain_str(
        bm25_search(inverted_index(docs), dl, ["a", "b"], 10, 30)
    )
    # per-term df is query-sized and must broadcast, never shuffle-join
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    # the IN-list reaches the posting build so non-query terms never
    # survive the scan stage
    assert "term" in plan and " IN " in plan.replace("INPUT", "")


def test_cooccurrence_min_count_prunes_before_vocab_joins(spark):
    from boilerplate_buster_spark.operators.corpus_stats import cooccurrence

    docs = spark.createDataFrame(
        [(i, ["a", "b", "c", "d"]) for i in range(8)], ["doc_id", "tokens"]
    )
    plan = explain_str(cooccurrence(docs, min_count=5))
    # the n_xy >= min_count filter must survive into the physical plan
    # (it prunes the pair table BEFORE the two vocabulary joins)
    assert "n_xy" in plan and ">= 5" in plan


def test_dhash_pairs_no_self_join(spark):
    import numpy as np

    from boilerplate_buster_spark.operators import multimodal as mm

    rng = np.random.RandomState(5)
    img = (rng.randint(0, 256, size=(8, 9, 3))).astype("uint8")
    media = spark.createDataFrame(
        [(i, "image", bytearray(mm.encode_bmp(img)), None) for i in (1, 2)],
        mm.MEDIA_SCHEMA,
    )
    plan = explain_str(mm.dhash_candidate_pairs(mm.dhash_images(media)))
    # group -> in-array pair expansion: exactly zero join operators
    assert "Join" not in plan
