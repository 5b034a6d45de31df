"""Bigram-LM quality scoring: hand-computed counts, smoothing floor for
unseen transitions, short-doc boundary, integer surface exactness."""

import math

from boilerplate_buster_spark.operators.lm import (
    lm_quality_scores,
    score_docs,
    train_bigram_counts,
)


def test_train_counts_and_vocab(spark):
    docs = spark.createDataFrame(
        [(1, ["a", "b", "a"]), (2, ["a", "b"])], ["doc_id", "tokens"]
    )
    bigrams, unigrams, v = train_bigram_counts(docs)
    bg = {r["big"]: r["cb"] for r in bigrams.collect()}
    ug = {r["prev"]: r["cu"] for r in unigrams.collect()}
    assert bg == {"a b": 2, "b a": 1}
    assert ug == {"a": 3, "b": 2}
    assert v == 2


def test_score_hand_computed(spark):
    docs = spark.createDataFrame(
        [(1, ["a", "b", "a"]), (2, ["a", "b"]), (3, ["zzz"])],
        ["doc_id", "tokens"],
    )
    out = {r["doc_id"]: r for r in lm_quality_scores(docs).collect()}
    # vocab = 3 (a, b, zzz); counts: "a b":2 "b a":1; cu: a:3 b:2 zzz:1
    # doc1 bigrams: (a b): (2+1)/(3+3), (b a): (1+1)/(2+3)
    lik1 = ((1000000 * 3) // 6 + (1000000 * 2) // 5) // 2
    assert out[1]["lik_e6"] == lik1
    ppl1 = 2 ** (-(math.log2(3 / 6) + math.log2(2 / 5)) / 2)
    assert abs(out[1]["log2_ppl"] - ppl1) < 1e-9
    # doc3: single token -> no bigrams -> zeroed integer surface, NULL ppl
    assert out[3]["n_bigrams"] == 0 and out[3]["lik_e6"] == 0
    assert out[3]["log2_ppl"] is None


def test_unseen_transitions_get_floor(spark):
    train = spark.createDataFrame([(1, ["a", "b"])], ["doc_id", "tokens"])
    bigrams, unigrams, v = train_bigram_counts(train)
    test = spark.createDataFrame([(9, ["b", "a"])], ["doc_id", "tokens"])
    r = score_docs(test, bigrams, unigrams, v).collect()[0]
    # "b a" unseen: num=1; prev "b" cu=1, den=1+2=3
    assert r["lik_e6"] == (1000000 * 1) // 3



def test_context_token_with_space(spark):
    # prev is the bigram's first TOKEN, not the joined bigram's first word
    docs = spark.createDataFrame(
        [(1, ["new york", "city"]), (2, ["new york", "city"])],
        ["doc_id", "tokens"],
    )
    bigrams, unigrams, v = train_bigram_counts(docs)
    out = {r["doc_id"]: r for r in score_docs(docs, bigrams, unigrams, v).collect()}
    # "new york city": cb=2 -> num 3; prev "new york": cu=2, V=2 -> den 4
    assert v == 2
    assert out[1]["n_bigrams"] == 1
    assert out[1]["lik_e6"] == (1000000 * 3) // 4
    assert abs(out[1]["log2_ppl"] - 2 ** -math.log2(3 / 4)) < 1e-9


def _pyref_trigram(docs, weights=(4, 2, 1)):
    """Pure-python replica of the interpolated trigram score."""
    from collections import Counter

    c3, cb, cu = Counter(), Counter(), Counter()
    for _, toks in docs:
        for i in range(len(toks) - 2):
            c3[" ".join(toks[i : i + 3])] += 1
        for i in range(len(toks) - 1):
            cb[" ".join(toks[i : i + 2])] += 1
        cu.update(toks)
    v = len(cu)
    n = sum(cu.values())
    w3, w2, w1 = weights
    out = {}
    for did, toks in docs:
        ss = []
        for i in range(len(toks) - 2):
            tri = " ".join(toks[i : i + 3])
            ctx2 = " ".join(toks[i : i + 2])
            big = " ".join(toks[i + 1 : i + 3])
            s3 = (1000000 * (c3[tri] + 1)) // (cb[ctx2] + v)
            s2 = (1000000 * (cb[big] + 1)) // (cu[toks[i + 1]] + v)
            s1 = (1000000 * (cu[toks[i + 2]] + 1)) // (n + v)
            ss.append((w3 * s3 + w2 * s2 + w1 * s1) // (w3 + w2 + w1))
        out[did] = (len(ss), sum(ss) // len(ss) if ss else 0)
    return out


def test_trigram_scores_match_python_reference(spark):
    from boilerplate_buster_spark.operators.lm import trigram_quality_scores

    rows = [
        (1, ["the", "cat", "sat", "on", "the", "mat"]),
        (2, ["the", "cat", "sat", "the", "cat", "sat"]),
        (3, ["dogs", "bark"]),          # < 3 tokens -> 0 trigrams
        (4, ["on", "the", "mat"]),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "tokens"])
    got = {
        r["doc_id"]: (r["n_trigrams"], r["lik3_e6"])
        for r in trigram_quality_scores(docs).collect()
    }
    assert got == _pyref_trigram(rows)


def test_pretrained_scores_use_model_counts_only(spark):
    from boilerplate_buster_spark.operators.lm import (
        lm_quality_scores,
        pretrained_bigram_scores,
    )

    model_rows = [(100, ["a", "b", "a", "b"])]
    target = spark.createDataFrame(
        [(1, ["a", "b"]), (2, ["z", "q"])], ["doc_id", "tokens"]
    )
    model = spark.createDataFrame(model_rows, ["doc_id", "tokens"])
    got = {
        r["doc_id"]: r["lik_e6"]
        for r in pretrained_bigram_scores(target, model).collect()
    }
    # model corpus: V=2, counts: "a b" x2, "b a" x1; c(a)=2, c(b)=2
    # doc 1: bigram "a b": (1e6*3)//(2+2) = 750000
    assert got[1] == 750000
    # doc 2: unseen bigram and context: (1e6*1)//(0+2) = 500000
    assert got[2] == 500000
