"""Dedup + ANN operator semantics beyond the DuckDB oracles: LSH recall on
known duplicates, jaccard exactness vs pure Python, simhash similarity
property, ANN vs numpy brute force, multimodal plumbing."""

from __future__ import annotations

import hashlib
import random

import numpy as np

from pyspark.sql import functions as F

from boilerplate_buster_spark.operators import ann, dedup, multimodal, text_stats


def _docs(spark, texts):
    return spark.createDataFrame(
        [(i, t, t.split(" ")) for i, t in enumerate(texts)],
        "doc_id long, text string, tokens array<string>",
    )


def make_corpus(seed=0, n=30):
    rng = random.Random(seed)
    base = ["w%04d" % rng.randrange(300) for _ in range(40)]
    texts = []
    for i in range(n):
        words = list(base)
        # perturb a few positions -> near duplicates of the base doc
        for _ in range(rng.randrange(0, 4)):
            words[rng.randrange(len(words))] = "u%09d" % rng.randrange(10**9)
        texts.append(" ".join(words))
    # plus unrelated docs
    for i in range(n):
        texts.append(" ".join("z%09d" % rng.randrange(10**9) for _ in range(30)))
    return texts


def py_jaccard(a, b, n=3):
    sa = {" ".join(a[i : i + n]) for i in range(len(a) - n + 1)}
    sb = {" ".join(b[i : i + n]) for i in range(len(b) - n + 1)}
    return len(sa & sb) / max(len(sa | sb), 1)


def test_lsh_finds_near_duplicates_and_jaccard_exact(spark):
    texts = make_corpus()
    docs = _docs(spark, texts)
    pairs = dedup.jaccard_verified_pairs(docs, threshold=0.5).collect()
    got = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in pairs}
    assert got, "near duplicates must be found"
    toks = [t.split(" ") for t in texts]
    for (a, b), j in got.items():
        want = round(py_jaccard(toks[a], toks[b]), 4)
        assert abs(j - want) < 1e-9, (a, b)
        assert j >= 0.5
    # unrelated docs never pair with the near-dup cluster
    for (a, b) in got:
        assert a < 30 and b < 30


def test_lsh_hash_fn_variants_agree_on_exact_dups(spark):
    texts = ["a b c d e f g h"] * 4 + ["q r s t u v w x"] * 3
    docs = _docs(spark, texts)
    for fn in ("portable", "xxhash64"):
        pairs = {
            (r["doc_a"], r["doc_b"])
            for r in dedup.lsh_candidate_pairs(docs, hash_fn=fn).collect()
        }
        # exact duplicates always share every band
        for i in range(4):
            for j in range(i + 1, 4):
                assert (i, j) in pairs, fn


def test_simhash_similar_docs_close(spark):
    texts = make_corpus(seed=3, n=10)
    docs = _docs(spark, texts)
    rows = {r["doc_id"]: r["simhash"] for r in dedup.simhash16(docs).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    # near-dups of the same base: small hamming distance
    assert ham(rows[0], rows[1]) <= 6
    # unrelated random docs: can collide occasionally but not for all pairs
    dists = [ham(rows[i], rows[10 + i]) for i in range(5)]
    assert max(dists) >= 4


def test_ann_matches_numpy_bruteforce(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = emb.orderBy("vec_id").collect()
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    q = mat[0]
    cos = mat @ q / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    want_order = np.lexsort((np.arange(len(cos)), -np.round(cos, 4)))[:10]
    got = ann.cosine_topk(emb, list(rows[0]["embedding"]), k=10).collect()
    assert [r["vec_id"] for r in got] == [rows[i]["vec_id"] for i in want_order]
    for r, i in zip(got, want_order):
        assert abs(r["cos"] - round(float(cos[i]), 4)) < 2e-4


def _py_h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _py_bucket(vec, planes: int) -> int:
    """Numpy replica of ann.hyperplane_bucket_expr's deterministic planes."""
    v = np.asarray(vec, dtype=np.float64)
    bucket = 0
    for p in range(planes):
        plane = np.array(
            [1.0 if _py_h60(f"{p}:{i}") % 2 == 0 else -1.0 for i in range(len(v))]
        )
        if float(v @ plane) > 0:
            bucket |= 1 << p
    return bucket


def test_ann_lsh_bucket_membership_and_true_cosines(spark):
    # LSH gives NO guarantee that bucket members rank in any exact top-k;
    # the invariants that DO hold: every returned id lives in the query's own
    # sign-bucket, and every returned cosine is the true cosine.
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    q = rows[0]
    approx = ann.ann_lsh_topk(emb, q, k=10, planes=4).collect()
    ids = [r["vec_id"] for r in approx]
    assert 0 in ids  # the query vector itself shares its own bucket
    assert len(ids) <= 10
    q_bucket = _py_bucket(q, planes=4)
    qn = np.linalg.norm(np.asarray(q))
    cosines = [r["cos"] for r in approx]
    assert cosines == sorted(cosines, reverse=True)
    for r in approx:
        v = np.asarray(rows[r["vec_id"]], dtype=np.float64)
        assert _py_bucket(v, planes=4) == q_bucket, r["vec_id"]
        true_cos = float(v @ np.asarray(q)) / (np.linalg.norm(v) * qn)
        assert abs(r["cos"] - round(true_cos, 4)) < 2e-4, r["vec_id"]


def test_multimodal_plumbing_deterministic(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").filter(
        "doc_id < 20"
    )
    media = multimodal.documents_as_media(docs)
    out = multimodal.extract_features(media).orderBy("media_id").collect()
    assert len(out) == 20
    assert {r["kind"] for r in out} == {"image", "audio", "video"}
    for r in out:
        assert len(r["feature"]) == multimodal.FEATURE_DIM
        assert all(0.0 <= v <= 1.0 for v in r["feature"])
    # kernel determinism: same payload -> same feature, matches local stub
    row = docs.filter("doc_id = 0").first()
    want = multimodal.decode_bytes(row["text"].encode(), out[0]["kind"])
    got = [round(float(v), 6) for v in out[0]["feature"]]
    assert got == [round(v, 6) for v in want]
    assert out[0]["content_hash"] == hashlib.md5(row["text"].encode()).hexdigest()


def test_fingerprint_order_sensitivity(spark):
    docs = _docs(spark, ["a b c", "c b a", "a b c"])
    fps = [r["fp"] for r in text_stats.fingerprint(docs).orderBy("doc_id").collect()]
    assert fps[0] == fps[2] and fps[0] != fps[1]


def test_ann_lsh_multiprobe_widens_recall(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    q = rows[0]
    single = ann.ann_lsh_topk(emb, q, k=200, planes=4, probes=1).collect()
    multi = ann.ann_lsh_topk(emb, q, k=200, planes=4, probes=5).collect()
    # multi-probe candidates are a superset of the single bucket
    assert {r["vec_id"] for r in single} <= {r["vec_id"] for r in multi}
    assert len(multi) >= len(single)
    # driver-side bucket replica matches the JVM expression bucket
    qb = ann.query_bucket(q, planes=4)
    assert qb == _py_bucket(q, planes=4)
    # every multi-probe hit is within Hamming distance 2 of the query bucket
    for r in multi:
        b = _py_bucket(rows[r["vec_id"]], planes=4)
        assert bin(b ^ qb).count("1") <= 2, r["vec_id"]


def test_ivf_all_probe_equals_bruteforce_and_partial_probe_sound(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    q = rows[0]
    cents = ann.ivf_fit_centroids(emb, n_centroids=8, iters=1)
    assert len(cents) == 8 and all(len(c) == len(q) for c in cents)
    # probing EVERY cell degenerates to exact brute force
    full = ann.ivf_topk(emb, q, cents, k=10, n_probe=8).collect()
    exact = ann.cosine_topk(emb, q, k=10).collect()
    assert [r["vec_id"] for r in full] == [r["vec_id"] for r in exact]
    # partial probe: query's own cell is probed first, cosines are true
    part = ann.ivf_topk(emb, q, cents, k=10, n_probe=2).collect()
    ids = [r["vec_id"] for r in part]
    assert 0 in ids
    qn = np.linalg.norm(np.asarray(q))
    for r in part:
        v = np.asarray(rows[r["vec_id"]], dtype=np.float64)
        true_cos = float(v @ np.asarray(q)) / (np.linalg.norm(v) * qn)
        assert abs(r["cos"] - round(true_cos, 4)) < 2e-4


def test_duplicate_clusters_match_union_find(spark):
    # chains and cliques, incl. a 4-node path (diameter 3) to force >1 round;
    # driver_threshold=0 forces the ITERATIVE scale path, default takes the
    # driver union-find path - both must agree with the reference union-find
    pairs = [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)]
    pdf = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got_iter = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.duplicate_clusters(pdf, driver_threshold=0).collect()
    }
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.duplicate_clusters(pdf).collect()
    }
    assert got == got_iter
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in {x for p in pairs for x in p}}
    assert got == want


def test_multimodal_resize_and_frames_plumbing(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").filter(
        "doc_id < 30"
    )
    media = multimodal.documents_as_media(docs)
    resized = multimodal.resize_images(media, width=8, height=8).collect()
    assert resized, "image rows exist (doc_id % 3 == 0)"
    for r in resized:
        assert (r["width"], r["height"]) == (8, 8)
        assert len(bytes(r["payload"])) == 64
    # deterministic: matches the local stub on one row
    row = docs.filter("doc_id = 0").first()
    want = multimodal.resize_stub(row["text"].encode(), 8, 8)
    got = bytes(next(r for r in resized if r["media_id"] == 0)["payload"])
    assert got == want

    frames = multimodal.sample_frames(media, n_frames=3).collect()
    by_media = {}
    for f in frames:
        by_media.setdefault(f["media_id"], []).append(f)
    assert by_media, "video rows exist (doc_id % 3 == 2)"
    for mid, fs in by_media.items():
        assert sorted(f["frame_idx"] for f in fs) == [0, 1, 2]
        assert all(len(bytes(f["frame"])) == 32 for f in fs)
        tss = [f["frame_ts_ms"] for f in sorted(fs, key=lambda x: x["frame_idx"])]
        assert tss == sorted(tss)


def test_duplicate_clusters_long_chain_pointer_jumping(spark):
    """A 40-node path (diameter 39) through the iterative scale path: plain
    min-label propagation needs ~39 rounds; pointer jumping must converge
    well inside max_iters=12 and still match union-find semantics."""
    pairs = [(i, i + 1) for i in range(40)]
    pdf = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    got = {
        r["doc_id"]: r["cluster_id"]
        for r in dedup.duplicate_clusters(
            pdf, driver_threshold=0, max_iters=12
        ).collect()
    }
    assert got == {i: 0 for i in range(41)}


def test_duplicate_clusters_raises_when_unconverged(spark):
    import pytest as _pytest

    pairs = [(i, i + 1) for i in range(40)]
    pdf = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    with _pytest.raises(RuntimeError, match="did not converge"):
        dedup.duplicate_clusters(pdf, driver_threshold=0, max_iters=1)


def test_snapshot_versions_revert_counts_as_changed(spark):
    from boilerplate_buster_spark.operators.dedup import snapshot_versions

    snaps = spark.createDataFrame(
        [
            ("u1", "t1", "alpha"),
            ("u1", "t2", "beta"),
            ("u1", "t3", "alpha"),  # revert: still changed vs predecessor
            ("u1", "t4", "alpha"),  # identical to predecessor: unchanged
            ("u2", "t1", "solo"),
        ],
        ["url", "warc_ts", "content"],
    )
    got = {
        (r["url"], r["warc_ts"]): (r["version_idx"], r["changed"], r["is_latest"])
        for r in snapshot_versions(snaps, content_col="content").collect()
    }
    assert got[("u1", "t1")] == (0, True, False)
    assert got[("u1", "t2")] == (1, True, False)
    assert got[("u1", "t3")] == (2, True, False)
    assert got[("u1", "t4")] == (3, False, True)
    assert got[("u2", "t1")] == (0, True, True)


def test_exact_substring_pairs_span_semantics(spark):
    from boilerplate_buster_spark.operators.dedup import exact_substring_pairs

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f".split()),       # shares "b c d" with 2
            (2, "x b c d y z".split()),
            (3, "q r s t u v".split()),       # shares nothing
            (4, "a b c d e f".split()),       # identical to 1
        ],
        ["doc_id", "tokens"],
    )
    got = {
        (r["doc_a"], r["doc_b"]): r["n_shared_spans"]
        for r in exact_substring_pairs(docs, span=3).collect()
    }
    # doc1/doc2 share exactly one distinct 3-token span ("b c d")
    assert got[(1, 2)] == 1 and got[(2, 4)] == 1
    # identical docs share all 4 distinct spans
    assert got[(1, 4)] == 4
    assert not any(3 in p for p in got)
    # max_bucket drops over-shared spans ("b c d" is in 3 docs)
    got2 = {
        (r["doc_a"], r["doc_b"]): r["n_shared_spans"]
        for r in exact_substring_pairs(docs, span=3, max_bucket=2).collect()
    }
    assert (1, 2) not in got2 and got2[(1, 4)] == 3


def test_semantic_dedup_exact_mirror(spark):
    rng = random.Random(7)
    base = [(i, [rng.uniform(-0.5, 0.5) for _ in range(8)]) for i in range(30)]
    # ids 100..104 mirror ids 0..4 exactly -> cos = 1 -> must be dropped
    vecs = base + [(100 + i, base[i][1]) for i in range(5)]
    df = spark.createDataFrame(vecs, ["vec_id", "embedding"]).select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x AS float))").alias("embedding"),
    )
    out = {
        r["vec_id"]: r
        for r in ann.semantic_dedup(df, k=4, thr_e6=810_000).collect()
    }
    assert len(out) == 35
    for i in range(5):
        assert out[100 + i]["keep"] is False and out[100 + i]["n_dups"] >= 1
        # mirror lands in the same cluster as its original
        assert out[100 + i]["cluster"] == out[i]["cluster"]
    # originals with no smaller-id near-dup are kept
    assert out[0]["keep"] is True
    # clusters cover ids; every cluster id is one of the k seeds' indices
    assert set(r["cluster"] for r in out.values()) <= set(range(4))



def test_semantic_dedup_rejects_null_vector(spark):
    import pytest

    df = spark.createDataFrame(
        [(0, [0.1, 0.2]), (1, None), (2, [0.3, 0.1])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="'embedding' holds a NULL vector"):
        ann.semantic_dedup(df, k=2)


def _pq_py_codes(vecs, m=8, ksub=16):
    import math

    out = {}
    ds = len(next(iter(vecs.values()))) // m
    for vid, v in vecs.items():
        xi = [int(math.floor(float(x) * 1000)) for x in v]
        codes = []
        for s in range(m):
            best = None
            for c in range(ksub):
                d = 0
                for j in range(ds):
                    g = s * ds + j
                    cv = (c * 31 + g * 7 + 13) % 1000 - 500
                    d += (xi[g] - cv) ** 2
                if best is None or (d, c) < best:
                    best = (d, c)
            codes.append(best[1])
        out[vid] = codes
    return out


def test_pq_encode_matches_python(spark):
    from pyspark.sql import functions as F

    from boilerplate_buster_spark.operators.ann import pq_encode

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").filter(
        F.col("vec_id") < 20
    )
    vecs = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    got = {r["vec_id"]: list(r["codes"]) for r in pq_encode(emb).collect()}
    assert got == _pq_py_codes(vecs)


def test_pq_adc_topk_matches_python_and_broadcasts(spark):
    from pyspark.sql import functions as F

    from boilerplate_buster_spark.operators.ann import (
        pq_adc_lut,
        pq_adc_topk,
        pq_encode,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").filter(
        F.col("vec_id") < 60
    )
    vecs = {r["vec_id"]: list(r["embedding"]) for r in emb.collect()}
    q = vecs[3]
    codes = pq_encode(emb)
    top = pq_adc_topk(codes, q, k=5)
    got = [(r["vec_id"], r["adc_dist"]) for r in top.collect()]
    lut = {(s, c): d for s, c, d in pq_adc_lut(q)}
    pyc = _pq_py_codes(vecs)
    dists = sorted(
        (sum(lut[(s, c)] for s, c in enumerate(cs)), vid)
        for vid, cs in pyc.items()
    )
    assert got == [(vid, d) for d, vid in dists[:5]]
    # the LUT side must broadcast (never a corpus shuffle for the model)
    assert "BroadcastHashJoin" in top._jdf.queryExecution().executedPlan().toString()


def test_fuzzy_pairs_complete_vs_bruteforce(spark):
    from pyspark.sql import functions as F

    from boilerplate_buster_spark.operators.dedup import fuzzy_pairs

    titles = [
        (0, "apple pie"), (1, "apple pi"), (2, "apple pies"),
        (3, "bananas"), (4, "banana"), (5, "bananaz"),
        (6, "totally different"), (7, "apple pie"),
    ]
    df = spark.createDataFrame(titles, ["doc_id", "title"])
    got = {
        (r["id_a"], r["id_b"]): r["dist"] for r in fuzzy_pairs(df).collect()
    }

    def lev(a, b):
        import functools

        @functools.lru_cache(None)
        def d(i, j):
            if i == 0 or j == 0:
                return i + j
            return min(
                d(i - 1, j) + 1, d(i, j - 1) + 1,
                d(i - 1, j - 1) + (a[i - 1] != b[j - 1]),
            )
        return d(len(a), len(b))

    want = {}
    for i, ta in titles:
        for j, tb in titles:
            if i < j and lev(ta, tb) <= 1:
                want[(i, j)] = lev(ta, tb)
    assert got == want
    assert got[(0, 7)] == 0 and got[(0, 1)] == 1 and got[(3, 4)] == 1
    assert (0, 2) in got and (1, 2) not in got  # pie~pies 1, pi~pies 2


def test_kmeans_quantized_separates_obvious_clusters(spark):
    from boilerplate_buster_spark.operators.ann import kmeans_quantized

    # two tight groups around (0.9, 0.9, ...) and (-0.9, -0.9, ...)
    rows = []
    for i in range(6):
        base = 0.9 if i % 2 == 0 else -0.9
        rows.append((i, [base + 0.001 * i] * 8))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out, cents = kmeans_quantized(emb, k=2, iters=2)
    got = {r.vec_id: r.cluster_id for r in out.collect()}
    evens = {got[i] for i in range(0, 6, 2)}
    odds = {got[i] for i in range(1, 6, 2)}
    assert len(evens) == 1 and len(odds) == 1 and evens != odds
    assert len(cents) == 2 and len(cents[0]) == 8
    # members sit near their centroid: every dist is small and exact
    assert all(r.dist < 100 for r in out.collect())


def test_kmeans_truncating_mean_and_empty_cluster(spark):
    from boilerplate_buster_spark.operators.ann import (
        _tdiv,
        kmeans_quantized,
    )

    assert _tdiv(-7, 2) == -3 and _tdiv(7, 2) == 3  # SQL div, not floor
    # k=3 with only 2 distinct points: one cluster stays empty and must
    # keep its seed centroid without crashing
    emb = spark.createDataFrame(
        [(0, [0.5] * 4), (1, [0.5] * 4), (2, [-0.5] * 4)],
        "vec_id long, embedding array<float>",
    )
    out, cents = kmeans_quantized(emb, k=3, iters=2)
    assert out.count() == 3 and len(cents) == 3


def test_lsh_recall_eval_bounds_and_exact_dup_recall(spark):
    from boilerplate_buster_spark.operators.dedup import lsh_recall_eval

    # 3 docs: a == b (exact dup), c disjoint -> 1 true pair, LSH must
    # surface it (identical signatures share every band)
    toks = ["w%d x%d y%d" % (i, i, i) for i in range(12)]
    text = " ".join(toks)
    docs = spark.createDataFrame(
        [(1, text.split(" ")), (2, text.split(" ")),
         (3, ("zz " * 12).split())],
        ["doc_id", "tokens"],
    )
    [r] = lsh_recall_eval(docs, threshold_e6=500000).collect()
    assert (r.n_true, r.n_true_candidates, r.recall_e6) == (1, 1, 1000000)
    assert 0 <= r.precision_e6 <= 1000000
    assert r.n_candidates >= r.n_true_candidates


def test_lsh_candidate_pairs_drop_count_ledger(spark):
    # 'no silent caps': the capped variant must both enforce max_bucket and
    # report how many buckets it dropped
    from boilerplate_buster_spark.operators.dedup import (
        DEFAULT_BANDS,
        lsh_candidate_pairs_with_drop_count,
    )

    text = " ".join(f"w{i}" for i in range(12))
    # 10 identical docs -> one all-identical bucket per band
    clones = spark.createDataFrame(
        [(i, text.split(" ")) for i in range(10)], ["doc_id", "tokens"]
    )
    pairs, dropped = lsh_candidate_pairs_with_drop_count(clones, max_bucket=5)
    assert pairs.count() == 0  # every bucket was over the cap
    [d] = dropped.collect()
    assert d.n_dropped_buckets == DEFAULT_BANDS  # one per band
    # under the cap nothing is dropped and pairs flow
    pairs2, dropped2 = lsh_candidate_pairs_with_drop_count(clones, max_bucket=64)
    assert pairs2.count() == 45  # C(10, 2)
    assert dropped2.collect()[0].n_dropped_buckets == 0


def test_lsh_recall_eval_empty_truth_is_zero_not_null(spark):
    # ADVICE r5: SUM over zero rows is NULL unless the aggregate itself is
    # coalesced - an empty truth set must yield integer zeros like the oracle
    from boilerplate_buster_spark.operators.dedup import lsh_recall_eval

    docs = spark.createDataFrame(
        [(1, ("a%d " * 12 % tuple(range(12))).split()),
         (2, ("b%d " * 12 % tuple(range(12))).split())],
        ["doc_id", "tokens"],
    )
    [r] = lsh_recall_eval(docs, threshold_e6=900000).collect()
    assert r.n_true == 0
    assert r.n_true_candidates == 0  # was NULL before the fix
    assert r.recall_e6 == 0 and r.precision_e6 == 0


def test_lsh_tuning_sweep_monotone_and_production_point(spark):
    # the sweep over (k, bands) configs: within one k, more bands can only
    # add buckets, so candidates and recall are monotone nondecreasing;
    # the documented production point (24, 12) must certify recall >= 0.9
    # at threshold 0.5 on the near-threshold calibration corpus
    from boilerplate_buster_spark.operators.dedup import (
        PRODUCTION_BANDS,
        PRODUCTION_K,
        lsh_tuning_eval,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    base = docs.filter(F.col("doc_id") < 50).select(
        "doc_id",
        F.expr("filter(split(text, ' '), x -> x != '')").alias("tokens"),
    )
    part = base.select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.expr(
            "slice(tokens, 1, greatest(cast(size(tokens) * 3 div 5 AS int), 3))"
        ).alias("tokens"),
    )
    clone = base.select((F.col("doc_id") + 100000).alias("doc_id"), "tokens")
    uni = base.unionByName(clone).unionByName(part)
    rows = lsh_tuning_eval(uni).collect()
    assert len(rows) == 10  # 5 configs x 2 thresholds
    by = {(r.k, r.bands, r.threshold_e6): r for r in rows}
    for t in (500000, 800000):
        # n_true is config-independent
        assert len({r.n_true for r in rows if r.threshold_e6 == t}) == 1
        seq = [by[(12, b, t)] for b in (2, 4, 6)]
        for a, b in zip(seq, seq[1:]):
            assert b.n_candidates >= a.n_candidates
            assert b.recall_e6 >= a.recall_e6
    prod = by[(PRODUCTION_K, PRODUCTION_BANDS, 500000)]
    assert prod.recall_e6 >= 900000, prod
    # exact clones are always found at threshold 0.8 by every config
    for (k, b, t), r in by.items():
        if t == 800000:
            assert r.recall_e6 == 1000000, (k, b, r)


def test_multiprobe_sweep_monotone_and_clustered_certified(spark):
    # radius widening only adds buckets: recall and cost are monotone;
    # the planted-cluster corpus certifies the radius-1 production default
    # at recall >= 0.9 while scanning a fraction of the corpus
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    iso = {r.radius: r for r in ann.multiprobe_recall_sweep(emb).collect()}
    assert sorted(iso) == [0, 1, 2, 3]
    for a, b in zip((0, 1, 2), (1, 2, 3)):
        assert iso[b].recall_e6 >= iso[a].recall_e6
        assert iso[b].avg_candidates >= iso[a].avg_candidates
    clustered = ann.planted_cluster_vectors(emb)
    cl = {
        r.radius: r for r in ann.multiprobe_recall_sweep(clustered).collect()
    }
    n = emb.count()
    assert cl[1].recall_e6 >= 900000, cl[1]
    assert cl[1].avg_candidates <= n // 2  # economy, not a full scan
    # clustered structure beats isotropic at every radius
    for rad in (0, 1, 2):
        assert cl[rad].recall_e6 > iso[rad].recall_e6


def test_kmeans_quantized_rejects_k_above_n_and_releases_cache(spark):
    import pytest

    from boilerplate_buster_spark.operators.ann import kmeans_quantized

    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="only 2 vectors"):
        kmeans_quantized(emb, k=3, iters=1)
    # the error path must not strand the cache either, and a normal call
    # must release the quantized-vector persist: Dataset.persist registers
    # in the SQL CacheManager, which holds STRONG refs until unpersist -
    # the r5 leak surface (bench reps accumulated MEMORY_AND_DISK blocks)
    cm = spark._jsparkSession.sharedState().cacheManager()
    was_empty = cm.isEmpty()  # another fixture's cache is not ours to judge
    out, cents = kmeans_quantized(emb, k=2, iters=1)
    assert out.count() == 2 and len(cents) == 2
    if was_empty:
        assert cm.isEmpty(), "kmeans_quantized left a Dataset cached"


def test_snapshot_diffs_add_remove_revert(spark):
    from boilerplate_buster_spark.operators.dedup import snapshot_diffs

    snaps = spark.createDataFrame(
        [
            ("u1", "t1", "a b c"),
            ("u1", "t2", "a b c updated"),   # +1 token
            ("u1", "t3", "a b c"),           # revert: -1 token
            ("u2", "t1", "x y"),             # single snapshot -> no row
        ],
        ["url", "ts", "content"],
    )
    got = {(r.url, r.ts): r for r in snapshot_diffs(snaps).collect()}
    assert set(got) == {("u1", "t2"), ("u1", "t3")}
    r2 = got[("u1", "t2")]
    assert (r2.n_tokens, r2.n_added, r2.n_removed, r2.jaccard_e6) == (
        4, 1, 0, 750000)
    r3 = got[("u1", "t3")]
    assert (r3.n_tokens, r3.n_added, r3.n_removed, r3.jaccard_e6) == (
        3, 0, 1, 750000)


def test_containment_catches_prefix_excerpt_jaccard_misses(spark):
    from boilerplate_buster_spark.operators.dedup import (
        containment_pairs,
        jaccard_verified_pairs,
    )

    toks = [f"w{i}" for i in range(40)]
    docs = spark.createDataFrame(
        [
            (1, toks),            # full document
            (2, toks[:24]),       # 60% prefix excerpt: contained, J ~ 0.6
            (3, [f"z{i}" for i in range(40)]),  # unrelated
        ],
        ["doc_id", "tokens"],
    )
    cont = {(r.doc_a, r.doc_b): (r.cont_a_e6, r.cont_b_e6)
            for r in containment_pairs(docs).collect()}
    assert (1, 2) in cont
    a_in_b, b_in_a = cont[(1, 2)]
    assert b_in_a == 1_000_000       # the excerpt lives fully inside
    assert a_in_b < 900_000          # the full doc is NOT inside the excerpt
    # a 0.8-Jaccard gate would have missed this pair entirely
    jac = {(r.doc_a, r.doc_b)
           for r in jaccard_verified_pairs(docs, threshold=0.8).collect()}
    assert (1, 2) not in jac
    assert not any(3 in p for p in cont)


def test_quality_survivors_keeps_best_not_min_id(spark):
    from boilerplate_buster_spark.operators.dedup import quality_survivors

    scores = spark.createDataFrame(
        [(1, 300), (2, 900), (3, 900), (9, 500)],  # 9 unclustered
        ["doc_id", "quality_e6"],
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], ["doc_id", "cluster_id"]
    )
    got = {r.doc_id: (r.cluster_id, r.is_survivor)
           for r in quality_survivors(scores, clusters).collect()}
    # min-id survival would keep doc 1 (score 300); best-quality keeps 2
    # (score 900, tie vs 3 broken by smaller id)
    assert got[1] == (1, False)
    assert got[2] == (1, True)
    assert got[3] == (1, False)
    assert got[9] == (9, True)  # singleton survives itself


def test_prefix_jaccard_exact_vs_brute_force(spark):
    # round-6: prefix filtering is an EXACT join - every brute-force pair
    # with J >= t must surface, none extra, across thresholds and corpora
    import random

    from boilerplate_buster_spark.operators.dedup import prefix_jaccard_pairs

    rng = random.Random(77)
    vocab = [f"w{i}" for i in range(30)]
    for trial in range(3):
        docs = {
            d: [rng.choice(vocab) for _ in range(rng.randint(0, 12))]
            for d in range(40)
        }
        sdf = spark.createDataFrame(
            [(d, toks) for d, toks in docs.items()],
            "doc_id int, tokens array<string>",
        )
        sets = {d: set(t) for d, t in docs.items() if t}
        for t in (0.4, 0.6, 0.8):
            want = set()
            for a in sets:
                for b in sets:
                    if a < b:
                        j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
                        if j >= t:  # unrounded filter, rounded display
                            want.add((a, b, round(j, 4)))
            got = {
                (r["doc_a"], r["doc_b"], r["jaccard"])
                for r in prefix_jaccard_pairs(sdf, threshold=t).collect()
            }
            assert got == want, (trial, t)


def test_prefix_jaccard_no_allpairs_join(spark):
    from boilerplate_buster_spark.operators.dedup import prefix_jaccard_pairs

    sdf = spark.createDataFrame(
        [(i, ["a", "b", f"x{i}"]) for i in range(10)],
        "doc_id int, tokens array<string>",
    )
    plan = (
        prefix_jaccard_pairs(sdf, threshold=0.5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "CartesianProduct" not in plan


def test_kmeans_quantized_rejects_null_vector_and_releases_cache(spark):
    import pytest

    from boilerplate_buster_spark.operators.ann import kmeans_quantized

    cm = spark._jsparkSession.sharedState().cacheManager()
    was_empty = cm.isEmpty()
    # the NULL sits past the k smallest ids: the seed scan must still see it
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0]), (2, [1.0, 1.0]), (3, None)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="'embedding' holds a NULL vector"):
        kmeans_quantized(emb, k=2, iters=1)
    if was_empty:
        assert cm.isEmpty(), "kmeans_quantized left a Dataset cached"
