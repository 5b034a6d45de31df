"""Corpus-trained n-gram language-model scoring - the CCNet-style
perplexity quality filter (Wenzek et al. 2020 use a pretrained KenLM; here
the LM is trained ON the corpus itself with one aggregation, the fully
distributed analog).

Model: add-one-smoothed bigram LM,

    P(w_i | w_{i-1}) = (c(w_{i-1} w_i) + 1) / (c(w_{i-1}) + V)

with c() corpus-wide counts and V the corpus vocabulary size.  Scoring
emits, per document:

  * ``log2_ppl``  - the standard metric: 2 ** (mean negative log2
    bigram probability).  Transcendental, so NOT oracle-compared
    bit-for-bit (libm log differs across engines in the last ulp);
  * ``lik_e6``    - mean of (1e6 * (c(bigram)+1)) div (c(prev)+V),
    ALL-INTEGER: the same ranking signal in exact arithmetic, which a SQL
    oracle reproduces bit-for-bit.  (Monotone per-bigram in P; the mean of
    scaled probabilities ranks near-identically to perplexity for
    filtering purposes.)

Scale posture: training = two hash-aggregates over the corpus (bigram
counts, unigram counts) - the corpus-trained model is CORPUS-SIZED, so
scoring joins on the gram key with sort-merge/AQE.  The round-5 extensions
cover the other shapes: ``pretrained_bigram_scores`` (model trained on a
separate bounded reference corpus, BROADCAST against the target - the
CCNet deployment shape, plan-asserted) and ``trigram_quality_scores``
(interpolated add-one trigram backoff, weights 4:2:1, all-integer lik3_e6
surface).  Docs with < 2 tokens score NULL log2_ppl / 0 lik_e6.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _bigram_expr(tokens_col: str) -> str:
    t = tokens_col
    return (
        f"transform(slice(sequence(1, greatest(size({t}) - 1, 1)), "
        f"1, greatest(size({t}) - 1, 0)), "
        f"i -> struct(element_at({t}, i) AS prev, "
        f"array_join(slice({t}, i, 2), ' ') AS big))"
    )


def train_bigram_counts(
    docs: DataFrame, tokens_col: str = "tokens"
) -> tuple[DataFrame, DataFrame, int]:
    """(bigram_counts(big, cb), unigram_counts(prev, cu), V): corpus-wide
    OCCURRENCE counts (not doc-distinct - LM counts every token) and the
    vocabulary size."""
    pairs = docs.select(F.explode(F.expr(_bigram_expr(tokens_col))).alias("p"))
    bigrams = pairs.groupBy(F.col("p.big").alias("big")).agg(
        F.count("*").alias("cb")
    )
    # Cache the unigram aggregate: it feeds BOTH the V-count action here and
    # the scoring join later - without the cache the full corpus explode+agg
    # runs twice (round-4 verdict item).
    unigrams = (
        docs.select(F.explode(tokens_col).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cu"))
        .persist()
    )
    vocab = unigrams.count()
    return bigrams, unigrams.select(F.col("w").alias("prev"), "cu"), vocab


def score_docs(
    docs: DataFrame,
    bigrams: DataFrame,
    unigrams: DataFrame,
    vocab: int,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    broadcast_model: bool = False,
) -> DataFrame:
    """(id, n_bigrams, lik_e6, log2_ppl): per-document LM score under the
    trained counts (see module docstring).  Unseen bigrams/contexts get the
    add-one floor.  Exactly one shuffle join per count table (gram-keyed,
    uniform) + the per-doc aggregate.

    broadcast_model=True is the CCNet/pretrained shape: the model was
    trained elsewhere with a bounded vocabulary, so both count tables
    broadcast and the corpus is never shuffled for the joins (the corpus-
    trained default must NOT broadcast - there the model is corpus-sized)."""
    if broadcast_model:
        bigrams = F.broadcast(bigrams)
        unigrams = F.broadcast(unigrams)
    # Pre-aggregate occurrences per (doc, prev, big) BEFORE the model joins:
    # both joins then carry one row per DISTINCT per-doc bigram instead of one
    # row per token position, shrinking the two gram-keyed shuffles by the
    # within-doc repetition factor (same trick as lines.line_doc_freq).  The
    # weighted mean below is integer-exact and identical to the per-occurrence
    # formulation.
    # Per-doc (big, k) occurrence counts are computed IN-ROW (Arrow-batched
    # Counter over adjacent token pairs): the whole bigram multiset of a
    # document lives on its own row, so pre-aggregation needs NO exchange -
    # the round-6 explode + groupBy(doc, big) shuffled one row per distinct
    # per-doc bigram (corpus-sized) before the model joins ever ran.
    # Identical rows by construction ('a'+' '+'b' == array_join(slice(t,i,2)))
    # and identical k-groups, so the k-weighted float surface downstream is
    # untouched.  prev = the bigram's first token, emitted from the same
    # loop (re-splitting the joined bigram is wrong for a token that holds
    # a space).
    import pandas as pd
    from collections import Counter

    id_type = docs.schema[id_col].dataType.simpleString()

    def count_occ(batches):
        for pdf in batches:
            ids: list = []
            bigs: list = []
            prevs: list = []
            ks: list = []
            for i, toks in zip(pdf[id_col], pdf[tokens_col]):
                if toks is None:
                    continue
                for (a, b), k in Counter(zip(toks, toks[1:])).items():
                    ids.append(i)
                    bigs.append(a + " " + b)
                    prevs.append(a)
                    ks.append(k)
                if len(ids) >= 200_000:  # bound worker memory per yield
                    yield pd.DataFrame(
                        {id_col: ids, "big": bigs, "prev": prevs, "k": ks}
                    )
                    ids, bigs, prevs, ks = [], [], [], []
            if ids:
                yield pd.DataFrame(
                    {id_col: ids, "big": bigs, "prev": prevs, "k": ks}
                )

    occ = docs.select(id_col, tokens_col).mapInPandas(
        count_occ, f"{id_col} {id_type}, big string, prev string, k long"
    )
    joined = (
        occ.join(bigrams, "big", "left")
        .join(unigrams, "prev", "left")
        .select(
            F.col(id_col),
            F.col("k"),
            (F.coalesce("cb", F.lit(0)) + 1).alias("num"),
            (F.coalesce("cu", F.lit(0)) + vocab).alias("den"),
        )
    )
    per_doc = joined.groupBy(id_col).agg(
        F.expr("sum(k)").alias("n_bigrams"),
        F.expr(
            "CAST(sum(k * ((1000000 * num) div den)) div sum(k) AS bigint)"
        ).alias("lik_e6"),
        F.expr(
            "pow(2.0, sum(k * -log2(num / CAST(den AS double))) / sum(k))"
        ).alias("log2_ppl"),
    )
    base = docs.select(id_col)
    return base.join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("n_bigrams", F.lit(0)).alias("n_bigrams"),
        F.coalesce("lik_e6", F.lit(0)).alias("lik_e6"),
        F.col("log2_ppl"),
    )


def lm_quality_scores(
    docs: DataFrame, id_col: str = "doc_id", tokens_col: str = "tokens"
) -> DataFrame:
    """Train-on-corpus + score in one call (the self-supervised filter:
    documents whose token transitions are atypical FOR THIS CORPUS score
    low lik_e6 / high perplexity)."""
    bigrams, unigrams, vocab = train_bigram_counts(docs, tokens_col)
    return score_docs(docs, bigrams, unigrams, vocab, id_col, tokens_col)


# ------------------------------------------------ round-5 LM extensions


def _trigram_expr(tokens_col: str) -> str:
    t = tokens_col
    return (
        f"transform(slice(sequence(1, greatest(size({t}) - 2, 1)), "
        f"1, greatest(size({t}) - 2, 0)), "
        f"i -> struct(element_at({t}, i + 2) AS w, "
        f"element_at({t}, i + 1) AS prev, "
        f"array_join(slice({t}, i, 2), ' ') AS ctx2, "
        f"array_join(slice({t}, i + 1, 2), ' ') AS big, "
        f"array_join(slice({t}, i, 3), ' ') AS tri))"
    )


def train_trigram_counts(
    docs: DataFrame, tokens_col: str = "tokens"
) -> tuple[DataFrame, DataFrame, DataFrame, int, int]:
    """(trigram_counts(tri, c3), bigram_counts(big, cb), unigram_counts(w,
    cu), n_tokens, vocab): corpus-wide occurrence counts for the
    interpolated trigram model.  Three hash-aggregates over the corpus; the
    unigram aggregate is persisted because it feeds both driver-side counts
    (V, N) and the scoring joins."""
    trigrams = (
        docs.select(
            F.explode(
                F.expr(
                    f"transform(slice(sequence(1, greatest(size({tokens_col}) - 2, 1)), "
                    f"1, greatest(size({tokens_col}) - 2, 0)), "
                    f"i -> array_join(slice({tokens_col}, i, 3), ' '))"
                )
            ).alias("tri")
        )
        .groupBy("tri")
        .agg(F.count("*").alias("c3"))
    )
    bigrams = (
        docs.select(F.explode(F.expr(_bigram_expr(tokens_col))).alias("p"))
        .groupBy(F.col("p.big").alias("big"))
        .agg(F.count("*").alias("cb"))
    )
    unigrams = (
        docs.select(F.explode(tokens_col).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cu"))
        .persist()
    )
    row = unigrams.agg(
        F.count("*").alias("v"), F.sum("cu").alias("n")
    ).collect()[0]
    return trigrams, bigrams, unigrams, int(row["n"]), int(row["v"])


def score_docs_trigram(
    docs: DataFrame,
    trigrams: DataFrame,
    bigrams: DataFrame,
    unigrams: DataFrame,
    n_tokens: int,
    vocab: int,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    weights: tuple[int, int, int] = (4, 2, 1),
) -> DataFrame:
    """(id, n_trigrams, lik3_e6): interpolated add-one trigram score - per
    trigram position the integer millionth-scaled probabilities

        s3 = (1e6*(c3(tri)+1))      div (cb(ctx2)+V)
        s2 = (1e6*(cb(big)+1))      div (cu(prev)+V)
        s1 = (1e6*(cu(w)+1))        div (N+V)

    combine as (w3*s3 + w2*s2 + w1*s1) div (w3+w2+w1) and average per doc -
    ALL integer arithmetic, so a SQL oracle reproduces it bit-for-bit (the
    same reason lik_e6 exists: transcendental log-interpolation is not
    cross-engine stable).  Occurrences are pre-aggregated per (doc, tri
    context) before the model joins, shrinking every gram-keyed shuffle by
    the within-doc repetition factor.  The model is corpus-sized, so the
    joins shuffle on the gram keys; see score_docs(broadcast_model=True)
    for the pretrained/broadcast shape."""
    w3, w2, w1 = (int(x) for x in weights)
    wsum = w3 + w2 + w1
    occ = (
        docs.select(
            F.col(id_col), F.explode(F.expr(_trigram_expr(tokens_col))).alias("p")
        )
        .select(
            id_col,
            F.col("p.w").alias("w"),
            F.col("p.prev").alias("prev"),
            F.col("p.ctx2").alias("ctx2"),
            F.col("p.big").alias("big"),
            F.col("p.tri").alias("tri"),
        )
        .groupBy(id_col, "w", "prev", "ctx2", "big", "tri")
        .agg(F.count("*").alias("k"))
    )
    cb_ctx = bigrams.select(F.col("big").alias("ctx2"), F.col("cb").alias("cb_ctx"))
    cu_prev = unigrams.select(F.col("w").alias("prev"), F.col("cu").alias("cu_prev"))
    cu_w = unigrams.select("w", F.col("cu").alias("cu_w"))
    joined = (
        occ.join(trigrams, "tri", "left")
        .join(bigrams, "big", "left")
        .join(cb_ctx, "ctx2", "left")
        .join(cu_prev, "prev", "left")
        .join(cu_w, "w", "left")
        .select(
            F.col(id_col),
            F.col("k"),
            F.expr(
                f"({w3} * ((1000000 * (coalesce(c3, 0) + 1)) div (coalesce(cb_ctx, 0) + {vocab}))"
                f" + {w2} * ((1000000 * (coalesce(cb, 0) + 1)) div (coalesce(cu_prev, 0) + {vocab}))"
                f" + {w1} * ((1000000 * (coalesce(cu_w, 0) + 1)) div ({n_tokens} + {vocab}))"
                f") div {wsum}"
            ).alias("s"),
        )
    )
    per_doc = joined.groupBy(id_col).agg(
        F.expr("sum(k)").alias("n_trigrams"),
        F.expr("CAST(sum(k * s) div sum(k) AS bigint)").alias("lik3_e6"),
    )
    base = docs.select(id_col)
    return base.join(per_doc, id_col, "left").select(
        id_col,
        F.coalesce("n_trigrams", F.lit(0)).alias("n_trigrams"),
        F.coalesce("lik3_e6", F.lit(0)).alias("lik3_e6"),
    )


def trigram_quality_scores(
    docs: DataFrame, id_col: str = "doc_id", tokens_col: str = "tokens"
) -> DataFrame:
    """Train-on-corpus interpolated trigram scoring in one call."""
    tri, big, uni, n, v = train_trigram_counts(docs, tokens_col)
    return score_docs_trigram(docs, tri, big, uni, n, v, id_col, tokens_col)


def pretrained_bigram_scores(
    docs: DataFrame,
    model_docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """CCNet shape: train the bigram model on a SEPARATE (small, e.g.
    Wikipedia-like) reference corpus, then score the target corpus with the
    model BROADCAST - the target never shuffles for the model joins.  The
    model tables are reference-corpus-sized, which is the precondition for
    broadcasting; plan-asserted in tests/test_plans.py."""
    bigrams, unigrams, vocab = train_bigram_counts(model_docs, tokens_col)
    return score_docs(
        docs, bigrams, unigrams, vocab, id_col, tokens_col,
        broadcast_model=True,
    )


def ccnet_buckets(
    scores: DataFrame,
    id_col: str = "doc_id",
    lang_col: str = "lang",
    score_col: str = "lik_e6",
    q: int = 10_000,
) -> DataFrame:
    """(id, lang, lik_e6, bucket): CCNet's signature head/middle/tail split
    (Wenzek et al. 2020) — per language, the best-scoring third of documents
    is 'head', the next 'middle', the rest 'tail' (higher lik_e6 = more
    fluent = CCNet's lower perplexity = head).

    Exact-integer, sort-free at corpus scale: scores quantize to
    bkt = lik_e6 div q; ONE hash-aggregate builds the per-(lang, bucket)
    histogram (cells bounded by languages x score-domain/q — a corpus
    statistic, not data); the cumulative scan over that tiny histogram runs
    driver-side (the exact_percentiles stats-to-driver shape) yielding
    nearest-rank thresholds t_lo (rank ceil(n/3)) and t_hi (rank
    ceil(2n/3)); assignment is a broadcast join + pure CASE.  CCNet itself
    sorts each language shard — a full per-lang sort that skews on English
    at 10^12 docs; the quantized-histogram route scans the corpus once and
    shuffles only the histogram.  Boundary buckets resolve DOWNWARD (a
    boundary bucket holding more than a third lands whole in the lower
    class) — deterministic and mirrored bit-for-bit by the SQL oracle."""
    spark = scores.sparkSession
    b = scores.select(
        F.col(id_col),
        F.col(lang_col),
        F.col(score_col).cast("long").alias(score_col),
        F.expr(f"cast({score_col} AS bigint) div {q}").alias("bkt"),
    )
    hist = b.groupBy(lang_col, "bkt").agg(F.count("*").alias("c")).collect()
    by_lang: dict[str, list[tuple[int, int]]] = {}
    for r in hist:
        by_lang.setdefault(r[lang_col], []).append((r["bkt"], r["c"]))
    rows = []
    for lang, h in sorted(by_lang.items()):
        h.sort()
        n = sum(c for _, c in h)

        def thr(rank: int) -> int:
            cum = 0
            for v, c in h:
                cum += c
                if cum >= rank:
                    return v
            return h[-1][0]

        rows.append((lang, thr((n + 2) // 3), thr((2 * n + 2) // 3)))
    thresholds = spark.createDataFrame(
        rows, f"{lang_col} string, t_lo long, t_hi long"
    )
    return b.join(F.broadcast(thresholds), lang_col).select(
        id_col,
        lang_col,
        score_col,
        F.expr(
            "CASE WHEN bkt <= t_lo THEN 'tail' "
            "WHEN bkt <= t_hi THEN 'middle' ELSE 'head' END"
        ).alias("bucket"),
    )
