"""Distributed BPE tokenizer training and encoding (Sennrich et al.
2016) - the vocabulary-learning stage every LLM training pipeline runs
over its cleaned corpus.

Algorithm (classic BPE): words split into characters + a '</w>'
end-of-word marker; k rounds of (count adjacent symbol pairs weighted
by word frequency -> merge the most frequent pair everywhere), ties
broken by (lhs, rhs) byte order so training is fully deterministic.

Scale posture: the corpus is touched ONCE (word-count aggregation);
every training round then runs over the WORD VOCABULARY, which is
Heaps-law bounded (~millions of rows for a 100 TB corpus - still a
DataFrame, never a driver structure).  Each round is one vocab-sized
pair aggregation (output bounded by the symbol-pair vocabulary), a
1-row argmax collect, and one pure-map merge rewrite; lineage is cut
per round with localCheckpoint (the iterative-plan-growth gotcha).
Encoding is a single pure map: the merge table is model-sized, folded
into one chained expression - zero shuffles, zero joins.

Merges are applied with a string rewrite on the space-joined symbol
sequence: separators are doubled, so ' L  R ' occurrences share no
characters and one left-to-right replace() merges exactly the
non-overlapping adjacent pairs - bit-identical to the sequential fold
('a a a' + merge(a,a) -> 'aa a', the standard BPE semantics).  The
rewrite chain is generated ONCE and rendered per dialect (Spark SQL /
DuckDB), so the SQL oracle cannot drift from the operator.

No reference anchor: the reference mines phrases (corpus_miner.cpp);
BPE is the builder brief's tokenizer-training bar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _q(s: str) -> str:
    """Render a string literal (both dialects quote ' by doubling)."""
    return "'" + s.replace("'", "''") + "'"


def char_split_expr(col: str, dialect: str) -> str:
    """Initial BPE segmentation of a word: characters joined by single
    spaces, plus the '</w>' end-of-word symbol."""
    if dialect == "duckdb":
        return (
            f"trim(regexp_replace({col}, '(.)', '\\1 ', 'g')) || ' </w>'"
        )
    return f"concat(trim(regexp_replace({col}, '(.)', '$1 ')), ' </w>')"


def merge_expr(seg: str, lhs: str, rhs: str, dialect: str) -> str:
    """One BPE merge applied to a space-joined symbol string: double the
    separators so occurrences of ' lhs  rhs ' cannot overlap, replace,
    then collapse separators back."""
    pat = _q(f" {lhs}  {rhs} ")
    rep = _q(f" {lhs}{rhs} ")
    return (
        f"trim(replace(replace(concat(' ', replace({seg}, ' ', '  '), ' '), "
        f"{pat}, {rep}), '  ', ' '))"
    )


def segment_chain_expr(
    col: str, merges: list[tuple[str, str]], dialect: str = "spark"
) -> str:
    """The full encoder for one word: char split + every learned merge in
    rank order, as a single nested expression (pure map)."""
    e = char_split_expr(col, dialect)
    for lhs, rhs in merges:
        e = merge_expr(e, lhs, rhs, dialect)
    return e


_PAIR_EXPR = (
    "transform(slice(sequence(1, greatest(size(l) - 1, 1)), "
    "1, greatest(size(l) - 1, 0)), "
    "i -> struct(element_at(l, i) AS lhs, element_at(l, i + 1) AS rhs))"
)


def _train_bpe_driver(
    word_syms, word_counts, k: int, min_count: int
) -> list[tuple[int, str, str, int]]:
    """Classic BPE over collected per-word SYMBOL sequences - same pair
    counting, same (count DESC, lhs, rhs) tie-break, same left-to-right
    merge as the distributed path (the pytest suite pins both against each
    other).  ``word_syms`` is a sequence of per-word symbol lists (the
    engine-side char_split_expr output, so the initial segmentation is
    byte-identical to the distributed path and the SQL oracle by
    construction); ``word_counts`` the matching count array.

    Vectorized (round-7): the symbol stream of ALL words lives in one flat
    int-code array (word-id array marks boundaries); each round is a
    weighted bincount pair count, an argmax with the reference tie-break,
    and an in-place merge of the matched positions (runs of overlapping
    matches keep alternate elements - exactly the sequential left-to-right
    fold).  The previous pure-Python dict loop took ~17 s at a 480k-word
    vocabulary; this takes under a second, which lets the driver strategy
    cover vocabularies the distributed rounds used to eat ~8 s of fixed
    job overhead on."""
    import numpy as np
    import pandas as pd

    n_words = len(word_syms)
    if n_words == 0:
        return []
    wcounts = np.asarray(word_counts, dtype=np.int64)
    lens = np.fromiter(map(len, word_syms), dtype=np.int64, count=n_words)
    flat = np.concatenate([np.asarray(s, dtype=object) for s in word_syms])
    codes_idx, uniques = pd.factorize(flat)
    # symbol STRINGS stay authoritative: a merge producing a string that
    # already exists (including '</w>' itself) reuses that code, exactly
    # like string-keyed counting
    sym_strs: list[str] = [str(s) for s in uniques]
    sym_code = {s: i for i, s in enumerate(sym_strs)}
    codes = codes_idx.astype(np.int64)
    wid = np.repeat(np.arange(n_words, dtype=np.int64), lens)
    wsym = wcounts[wid]  # weight of each symbol position

    merges: list[tuple[int, str, str, int]] = []
    for rank in range(1, k + 1):
        if len(codes) < 2:
            break
        same = wid[:-1] == wid[1:]
        left = codes[:-1][same]
        right = codes[1:][same]
        w = wsym[:-1][same]
        if len(left) == 0:
            break
        V = len(sym_strs)
        keys = left * V + right
        # bincount weights are float64: exact for any count below 2^53.
        # Dense V*V histogram when it fits (symbol alphabets are tiny -
        # chars + k merges): O(n), no sort.  np.unique's argsort of the
        # 11M-key stream was 3-7 s PER ROUND at the 480k-word bench vocab
        # vs 0.07 s for the dense bincount.
        if V * V <= 16_777_216:
            acc = np.bincount(keys, weights=w, minlength=V * V).astype(np.int64)
            best = int(acc.max())
            if best < min_count:
                break
            cand_keys = np.nonzero(acc == best)[0]
        else:
            uniq, inv = np.unique(keys, return_inverse=True)
            acc = np.bincount(inv, weights=w).astype(np.int64)
            best = int(acc.max())
            if best < min_count:
                break
            cand_keys = uniq[acc == best]
        lhs, rhs = min(
            (sym_strs[int(kk) // V], sym_strs[int(kk) % V])
            for kk in cand_keys
        )
        merges.append((rank, lhs, rhs, best))
        l_code, r_code = sym_code[lhs], sym_code[rhs]
        m_str = lhs + rhs
        m_code = sym_code.get(m_str)
        if m_code is None:
            m_code = len(sym_strs)
            sym_code[m_str] = m_code
            sym_strs.append(m_str)
        madj = (codes[:-1] == l_code) & (codes[1:] == r_code) & same
        p = np.nonzero(madj)[0]
        if len(p):
            # consecutive match positions (only possible when lhs == rhs)
            # overlap: keep alternate elements of each run = the sequential
            # left-to-right merge ('a a a' + (a,a) -> 'aa a')
            rid = p - np.arange(len(p))
            _, first_idx = np.unique(rid, return_index=True)
            run_first = np.repeat(
                first_idx, np.diff(np.append(first_idx, len(p)))
            )
            keep = ((np.arange(len(p)) - run_first) % 2) == 0
            pk = p[keep]
            codes[pk] = m_code
            delete = np.zeros(len(codes), dtype=bool)
            delete[pk + 1] = True
            codes = codes[~delete]
            wid = wid[~delete]
            wsym = wsym[~delete]
    return merges


def train_bpe(
    docs: DataFrame,
    k: int,
    tokens_col: str = "tokens",
    min_count: int = 1,
    strategy: str = "auto",
    driver_max_vocab: int = 2_000_000,
) -> list[tuple[int, str, str, int]]:
    """Learn ``k`` BPE merges from the corpus; returns
    [(rank, lhs, rhs, pair_count)] (model-sized, driver-side by design -
    this IS the tokenizer model).  Stops early when the best remaining
    pair falls under ``min_count``.

    strategy='auto': the corpus aggregates to
    word counts either way (one shuffle); when the VOCABULARY fits
    ``driver_max_vocab`` the k merge rounds run driver-side over the
    collected counts (each distributed round costs ~2 s of fixed job
    overhead that dwarfs the compute on a driver-sized vocabulary), and
    distributed (k vocab-sized Spark rounds) above it.  Identical output
    on every path.  The driver cap is 2M words since the round-7
    vectorized trainer (see _train_bpe_driver: flat numpy symbol stream,
    ~100 MB at 2M words) - the pure-Python dict loop it replaced was
    slower than the distributed rounds past ~100k words.  At real-corpus
    scale (Heaps-law vocabularies in the 10^8 range) the distributed
    path still takes over."""
    # persisted so the strategy probe and the collect / checkpoint that
    # follows read the SAME materialized aggregate - without it the full
    # corpus explode+shuffle (the expensive stage) runs twice
    counts_df = (
        docs.select(F.explode(tokens_col).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .persist()
    )
    if strategy == "auto":
        # full count, not a limit-probe: the count materializes EVERY
        # partition of the persisted aggregate exactly once, so the
        # toPandas/checkpoint that follows is a pure cache read (a limit
        # probe can stop early and leave partitions to recompute)
        strategy = "driver" if counts_df.count() <= driver_max_vocab else "distributed"
    if strategy == "driver":
        # Arrow transfer (toPandas), not a row collect: 480k (word, cnt)
        # rows collected ~3 s row-wise vs ~0.3 s columnar.  The initial
        # char split runs ENGINE-side (char_split_expr), so the driver
        # trainer sees exactly the symbol stream the distributed rounds
        # and the DuckDB oracle would ('.' regex line-terminator handling
        # included) - list(word) in Python is NOT that stream for words
        # carrying line terminators.
        pdf = counts_df.select(
            F.expr(
                f"split({char_split_expr('word', 'spark')}, ' ')"
            ).alias("syms"),
            "cnt",
        ).toPandas()
        counts_df.unpersist()
        return _train_bpe_driver(
            pdf["syms"].to_numpy(), pdf["cnt"].to_numpy(), k, min_count
        )
    vocab = (
        counts_df
        .withColumn("seg", F.expr(char_split_expr("word", "spark")))
        .localCheckpoint(eager=True)  # corpus scan runs exactly once
    )
    counts_df.unpersist()
    merges: list[tuple[int, str, str, int]] = []
    for r in range(1, k + 1):
        best = (
            vocab.select(
                F.col("cnt"), F.expr("split(seg, ' ')").alias("l")
            )
            .select("cnt", F.explode(F.expr(_PAIR_EXPR)).alias("p"))
            .groupBy("p.lhs", "p.rhs")
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.desc("c"), "lhs", "rhs")
            .limit(1)
            .collect()
        )
        if not best or best[0]["c"] < min_count:
            break
        lhs, rhs, c = best[0]["lhs"], best[0]["rhs"], best[0]["c"]
        merges.append((r, lhs, rhs, c))
        vocab = vocab.withColumn(
            "seg", F.expr(merge_expr("seg", lhs, rhs, "spark"))
        ).localCheckpoint(eager=True)  # bound lineage across rounds
    return merges


def merges_df(spark: SparkSession, merges: list[tuple[int, str, str, int]]):
    return spark.createDataFrame(
        merges, "rank int, lhs string, rhs string, pair_count long"
    )


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
) -> DataFrame:
    """(id, n_words, n_bpe_tokens): encode every document with a learned
    merge list - the whole model folds into one chained expression
    applied per word inside a transform lambda.  Pure map over the scan:
    no shuffle, no join, no Python."""
    t = tokens_col
    chain = segment_chain_expr("x", merges, "spark")
    return docs.select(
        F.col(id_col),
        F.expr(f"size({t})").cast("long").alias("n_words"),
        F.expr(
            f"aggregate(transform({t}, x -> size(split({chain}, ' '))), "
            f"0, (a, b) -> a + b)"
        ).cast("long").alias("n_bpe_tokens"),
    )


def duckdb_train_sql(k: int, corpus_sql: str) -> str:
    """Generated DuckDB twin of train_bpe: ``corpus_sql`` must yield a
    token column ``word`` (one row per occurrence); the result is
    (rank, lhs, rhs, pair_count) for ``k`` unrolled merge rounds.  Each
    round re-derives pairs with unnest(range()), picks the argmax with
    the same (count DESC, lhs, rhs) tie-break, and applies the merge via
    scalar subqueries into the same doubled-separator rewrite."""
    # every CTE is MATERIALIZED: the rounds chain v0 -> v1 -> ... and
    # reference each b{i} twice; DuckDB's default inlining re-expands the
    # whole prefix per reference (measured 419 s for k=8 on 200 docs),
    # materialization makes the chain linear (sub-second)
    parts = [
        f"v0 AS MATERIALIZED (SELECT word, count(*) AS cnt, "
        f"{char_split_expr('word', 'duckdb')} AS seg "
        f"FROM ({corpus_sql}) GROUP BY word)"
    ]
    for i in range(1, k + 1):
        prev = f"v{i - 1}"
        parts.append(
            f"p{i} AS MATERIALIZED (SELECT l[j] AS lhs, l[j + 1] AS rhs, sum(cnt) AS c "
            f"FROM (SELECT cnt, l, unnest(range(1, len(l))) AS j "
            f"      FROM (SELECT cnt, string_split(seg, ' ') AS l FROM {prev})) "
            f"GROUP BY lhs, rhs)"
        )
        parts.append(
            f"b{i} AS MATERIALIZED (SELECT lhs, rhs, c FROM p{i} "
            f"ORDER BY c DESC, lhs, rhs LIMIT 1)"
        )
        seg = (
            f"trim(replace(replace(concat(' ', replace(seg, ' ', '  '), ' '), "
            f"(SELECT ' ' || lhs || '  ' || rhs || ' ' FROM b{i}), "
            f"(SELECT ' ' || lhs || rhs || ' ' FROM b{i})), '  ', ' '))"
        )
        parts.append(
            f"v{i} AS MATERIALIZED (SELECT word, cnt, {seg} AS seg FROM {prev})"
        )
    unions = " UNION ALL ".join(
        f"SELECT {i} AS rank, lhs, rhs, CAST(c AS BIGINT) AS pair_count "
        f"FROM b{i}"
        for i in range(1, k + 1)
    )
    return "WITH " + ", ".join(parts) + " " + unions
