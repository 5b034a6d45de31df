"""BIDE+/CloSpan contiguous CLOSED-pattern mining, Spark-first (SURVEY.md
section 2.6 C1/C2; reference: corpus-miner/bide/bide_miner.cpp:43-119,
clospan/clospan_miner.cpp:40-105).

Key reformulation (instead of porting the recursive DFS): a CONTIGUOUS
pattern is just an n-gram, so

  closed k-patterns = { g : occ_count(g) >= min_sup
                          AND no (k+1)-gram with g as PREFIX has equal count   (forward closure,  bide_miner.cpp:10-15)
                          AND no (k+1)-gram with g as SUFFIX has equal count } (backward closure, bide_miner.cpp:19-41)

Support = OCCURRENCE count, not distinct docs (bide_miner.cpp:55; observed:
a phrase repeated inside one doc counts twice - FIXTURES.md 3a).  Any
extension with count equal to a frequent pattern's count is itself frequent,
so comparing against the FREQUENT (k+1)-gram level is exhaustive.

Scale posture of the level-wise loop (one hash-aggregate per length k, two
broadcast anti-joins between adjacent levels, terminates at the longest
frequent phrase):

  * ANTI-MONOTONE IN-SCAN GATE: a frequent (k+1)-gram's prefix k-gram is
    necessarily frequent (every occurrence of the extension contains one of
    the prefix), so level k+1 enumerates ONLY windows whose leading k-gram
    passes a gate of level k's grams - the bitmap gate of
    functions/bitmap.py that bloomspan's scans probe too: one bounded
    collect per level (`bitmap_words` over the grams' `gram_hash`, at most
    BITMAP_BITS // 64 rows however many grams survive), sized at 64 bits
    per gram, broadcast, and probed once per window position over the
    per-token hashes.  Noise windows die before the explode, so the
    per-level aggregate input shrinks with the frequent set.  Gate false
    positives are harmless AND exact: a gram's prefix hash is one fixed
    value, so the gate admits ALL of its windows or NONE - admitted grams
    are counted exactly, and a falsely admitted gram is one more aggregate
    row that meets (or fails) the exact threshold on its own.
    ADAPTIVE: the gate only engages when the corpus has at least
    `_GATE_MIN_WINDOWS` token positions (counted by an Observation on the
    level-1 scan) - below that the gate's FIXED per-level cost (one collect
    job + a broadcast, ~0.3-0.5 s of Spark job latency each level) exceeds
    what a full small scan costs, measured 1.7x on the sf0.1 bench.
  * STRING-PERSISTED CORPUS: the corpus is cached as ONE space-joined string
    column and re-split per level - Spark's columnar cache of array<string>
    re-reads ~8x slower than recomputing split() (measured; see
    bloomspan.mine's cache note).  Assumes tokens contain no spaces (true of
    every tokenizer in this package; array_join/split round-trips exactly).

The reference's BIDE and CloSpan differ only in a backward-check early-exit
that never changes the result set (an occurrence at doc start caps the
prefix count below support in both); one implementation serves both names -
pinned by the cross-check tests against the reference binary
(tests/test_pyref_crosscheck.py).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from boilerplate_buster_spark.functions.bitmap import (
    bitmap_gate,
    bitmap_probe,
    bitmap_words,
    driver_frame,
    gram_hash,
)
from boilerplate_buster_spark.functions.ngrams import gram_starts

CLOSED_SCHEMA = T.StructType(
    [
        T.StructField("phrase", T.StringType(), False),
        T.StructField("freq", T.LongType(), False),
        T.StructField("length", T.IntegerType(), False),
    ]
)

#: minimum corpus token-position count before the in-scan gate engages;
#: below this the per-level fixed overhead (collect job + broadcast) beats
#: the pruning.  Tests monkeypatch to 0 to force-exercise the gated path.
_GATE_MIN_WINDOWS = 2_000_000

#: re-split the persisted string form; '' round-trips to an EMPTY array
#: (split('') is ['']).
_TOKS = "CASE WHEN _t = '' THEN array() ELSE split(_t, ' ') END"


def _first_level(
    txt: DataFrame, counts: Callable[[DataFrame], DataFrame]
) -> tuple[DataFrame, bool]:
    """Level 1, `counts(txt)`, persisted and computed, and whether the gate
    engages: an Observation on that scan counts the corpus' token
    positions, so the choice costs no job of its own."""
    positions = Observation()
    cur = counts(txt.observe(positions, F.sum(F.size(F.expr(_TOKS))).alias("n"))).persist()
    cur.count()
    return cur, (positions.get["n"] or 0) >= _GATE_MIN_WINDOWS


def _level_gate(spark: SparkSession, level: DataFrame, k: int) -> DataFrame:
    """The next level's gate: the bitmap of the `gram_hash`es of a (gram,
    ...) level frame of k-grams, from one bounded collect."""
    hs = level.select(F.expr("transform(split(gram, ' '), x -> xxhash64(x))").alias("_hs"))
    return bitmap_gate(spark, bitmap_words(hs, gram_hash("_hs", "1", k)).collect())


def _with_tokens(txt: DataFrame, gate: DataFrame | None, extra: list[str]) -> DataFrame:
    """Two-step select so the split() array (and token hashes, when gated)
    materialize ONCE per row - CollapseProject would otherwise inline the
    split into every reference.  When gated, the broadcast 1-row gate rides
    in as a `bf` column (BroadcastNestedLoopJoin of a 1-row side -
    effectively free)."""
    base = txt.select(*extra, F.expr(_TOKS).alias("_tk"))
    if gate is not None:
        base = base.crossJoin(F.broadcast(gate)).select(
            *extra, "_tk", "bf",
            F.expr("transform(_tk, x -> xxhash64(x))").alias("_hs"),
        )
    return base


def _pos_expr(k: int, gated: bool) -> str:
    """SQL for the 1-based window start positions of k-grams over `_tk`: all
    of them, or (gated) those whose leading (k-1)-gram passes the gate."""
    pos = gram_starts("_tk", k)
    if gated:
        pos = f"filter({pos}, i -> {bitmap_probe(gram_hash('_hs', 'i', k - 1))})"
    return pos


def _gram_counts(
    txt: DataFrame, k: int, min_sup: int, gate: DataFrame | None
) -> DataFrame:
    """(gram, freq): occurrence counts of k-grams with freq >= min_sup,
    enumerated only at gate-surviving positions (see module docstring)."""
    base = _with_tokens(txt, gate, [])
    grams = base.select(
        F.explode(
            F.expr(
                f"transform({_pos_expr(k, gate is not None)}, "
                f"i -> array_join(slice(_tk, i, {k}), ' '))"
            )
        ).alias("gram")
    )
    return (
        grams.groupBy("gram")
        .agg(F.count("*").alias("freq"))
        .filter(F.col("freq") >= min_sup)
    )


def closed_contiguous_patterns(
    spark: SparkSession,
    docs: DataFrame,
    min_sup: int,
    min_l: int = 1,
    tokens_col: str = "tokens",
    max_len: int = 128,
) -> DataFrame:
    """All closed contiguous patterns (phrase, freq, length), canonical order
    (-freq*length, -freq, phrase).  Serves `--algo bide` AND `--algo clospan`.
    """
    txt = docs.select(F.array_join(F.col(tokens_col), " ").alias("_t")).persist()
    out_rows: list[tuple[str, int, int]] = []

    cur, gate_on = _first_level(txt, lambda t: _gram_counts(t, 1, min_sup, None))
    k = 1
    try:
        while k <= max_len:
            gate = _level_gate(spark, cur, k) if gate_on else None
            nxt = _gram_counts(txt, k + 1, min_sup, gate).persist()
            nxt_n = nxt.count()

            if k >= min_l:
                if nxt_n == 0:
                    survivors = cur
                else:
                    # forward closure: drop g if some (k+1)-gram PREFIXED by
                    # g has equal count; backward: same with g as SUFFIX.
                    ext = nxt.select(
                        F.expr(
                            "array_join(slice(split(gram, ' '), 1, size(split(gram, ' ')) - 1), ' ')"
                        ).alias("pfx"),
                        F.expr("array_join(slice(split(gram, ' '), 2, size(split(gram, ' ')))"
                               ", ' ')").alias("sfx"),
                        F.col("freq").alias("ext_freq"),
                    )
                    # a left-anti join ignores duplicate build rows: no distinct
                    kill = ext.select(F.col("pfx").alias("gram"), "ext_freq").unionAll(
                        ext.select(F.col("sfx").alias("gram"), "ext_freq")
                    )
                    survivors = cur.join(
                        F.broadcast(kill),
                        (cur["gram"] == kill["gram"]) & (cur["freq"] == kill["ext_freq"]),
                        "left_anti",
                    )
                out_rows += [
                    (r["gram"], r["freq"], k) for r in survivors.collect()
                ]

            cur.unpersist()
            cur = nxt
            if nxt_n == 0:
                break
            k += 1
    finally:
        cur.unpersist()
        txt.unpersist()
    out_rows.sort(key=lambda r: (-r[1] * r[2], -r[1], r[0]))
    return driver_frame(spark, out_rows, CLOSED_SCHEMA)


# aliases mirroring the reference's algorithm names
bide_mine_df = closed_contiguous_patterns
clospan_mine_df = closed_contiguous_patterns


def _doc_gram_counts(
    txt: DataFrame, k: int, id_col: str, gate: DataFrame | None
) -> DataFrame:
    """(gram, df, ext_docs): distinct-doc frequency of gate-surviving
    k-grams, plus the distinct-doc count of EXTENDABLE occurrences (not at
    doc end) - the reference PrefixSpan emits a pattern only if its projected
    database is non-empty (corpus_miner.cpp:170-182), i.e. some occurrence
    can extend."""
    base = _with_tokens(txt, gate, [id_col])
    pairs = base.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"array_distinct(transform({_pos_expr(k, gate is not None)}, "
                f"i -> struct(array_join(slice(_tk, i, {k}), ' ') AS gram, "
                f"IF(i + {k} <= size(_tk), 1, 0) AS ext)))"
            )
        ).alias("ge"),
    ).select(id_col, "ge.gram", "ge.ext")
    # per-doc max(ext): the doc counts as extendable if ANY occurrence is
    per_doc = pairs.groupBy(id_col, "gram").agg(F.max("ext").alias("ext"))
    return per_doc.groupBy("gram").agg(
        F.count("*").alias("df"), F.sum("ext").alias("ext_docs")
    )


def prefixspan_patterns(
    spark: SparkSession,
    docs: DataFrame,
    min_docs: int,
    min_l: int = 1,
    mode: str = "closed",
    tokens_col: str = "tokens",
    id_col: str = "doc_id",
    max_len: int = 128,
) -> DataFrame:
    """Contiguous PrefixSpan patterns with the reference's ALL/CLOSED/MAXIMAL
    modes (prefixspan/corpus_miner.h:18, decision at corpus_miner.cpp:128-142)
    as a level-wise Spark plan; support = DISTINCT-DOC count (occ_delivery,
    corpus_miner.cpp:69-93), closure checks are FORWARD-only (right
    extension), and a pattern whose every occurrence ends its document is
    never emitted (the projected-db drop quirk, ":170-182").  Cross-checked
    against core/pyref.prefixspan_mine.

    One hash-aggregate per length k - gated in-scan by the surviving k-gram
    hash set (anti-monotone on distinct-doc support exactly as on occurrence
    counts; see module docstring) - and one broadcast anti/left join between
    adjacent levels."""
    mode = mode.lower()
    if mode not in ("all", "closed", "maximal"):
        raise ValueError(f"unknown mode {mode!r}")
    txt = docs.select(
        F.col(id_col), F.array_join(F.col(tokens_col), " ").alias("_t")
    ).persist()
    out_rows: list[tuple[str, int, int]] = []

    cur, gate_on = _first_level(
        txt, lambda t: _doc_gram_counts(t, 1, id_col, None).filter(F.col("df") >= min_docs)
    )
    k = 1
    try:
        while k <= max_len:
            gate = _level_gate(spark, cur, k) if gate_on else None
            nxt = (
                _doc_gram_counts(txt, k + 1, id_col, gate)
                .filter(F.col("df") >= min_docs)
                .persist()
            )
            nxt_n = nxt.count()

            if k >= min_l:
                emit = cur.filter(F.col("ext_docs") > 0)
                if mode != "all" and nxt_n > 0:
                    # forward kill: a frequent (k+1)-gram PREFIXED by g
                    kill = nxt.select(
                        F.expr(
                            "array_join(slice(split(gram, ' '), 1, size(split(gram, ' ')) - 1), ' ')"
                        ).alias("kgram"),
                        F.col("df").alias("ext_df"),
                    )
                    if mode == "maximal":
                        cond = emit["gram"] == kill["kgram"]
                    else:  # closed: only equal-support extensions kill
                        cond = (emit["gram"] == kill["kgram"]) & (
                            emit["df"] == kill["ext_df"]
                        )
                    emit = emit.join(F.broadcast(kill), cond, "left_anti")
                out_rows += [(r["gram"], r["df"], k) for r in emit.collect()]

            cur.unpersist()
            cur = nxt
            if nxt_n == 0:
                break
            k += 1
    finally:
        cur.unpersist()
        txt.unpersist()
    out_rows.sort(key=lambda r: (-r[1] * r[2], -r[1], r[0]))
    return driver_frame(spark, out_rows, CLOSED_SCHEMA)
