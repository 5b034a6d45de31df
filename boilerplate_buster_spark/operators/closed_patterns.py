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

  * ANTI-MONOTONE IN-SCAN GATE (packed-bitmap probe): a frequent
    (k+1)-gram's prefix k-gram is necessarily frequent (every occurrence of
    the extension contains one of the prefix), so level k+1 enumerates ONLY
    windows whose leading k-gram hash survives level k.  The surviving hash
    set is packed driver-side into a Bloom bitmap (one array<bigint> row,
    broadcast - same machinery as bloomspan.word_gate's bitmap) and each
    window position pays ONE hash-combine + ONE bit probe.  Round 3 used a
    literal 64-bit IN-set here; literal IN-lists are LINEAR SCANS in codegen
    (O(survivors) per position - measured 2.1x slower than ungated at sf0.1
    where levels are small), so the bitmap probe is what makes the gate free
    at small scale while keeping the pruning that wins at large scale.
    Noise windows die before the explode, so the per-level aggregate input
    shrinks with the frequent set instead of rescanning every corpus
    position at every depth.  Hash collisions / Bloom false positives are
    harmless AND exact: a gram's prefix hash is a single fixed value, so the
    probe admits ALL of its windows or NONE - admitted grams are counted
    exactly, and a falsely-admitted gram is simply one more aggregate row
    that fails (or legitimately passes) the exact min_sup threshold.  Gate
    sets above `_INSCAN_MAX` fall back to the ungated full enumeration
    (bounds the driver collect; levels that big prune little anyway).
    ADAPTIVE: the gate only engages when the corpus has at least
    `_GATE_MIN_WINDOWS` token positions - below that the gate's FIXED
    per-level cost (one survivor-hash collect job + a bitmap broadcast,
    ~0.3-0.5 s of Spark job latency each level) exceeds what a full small
    scan costs, measured 1.7x on the sf0.1 bench; above it the per-level
    fixed cost is noise and the pruning dominates.
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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from boilerplate_buster_spark.operators.bloomspan import _gramhash_sql

CLOSED_SCHEMA = T.StructType(
    [
        T.StructField("phrase", T.StringType(), False),
        T.StructField("freq", T.LongType(), False),
        T.StructField("length", T.IntegerType(), False),
    ]
)

#: driver-collect cap for the gate hash set; above it levels run ungated.
_INSCAN_MAX = 65536

#: minimum corpus token-position count before the in-scan gate engages;
#: below this the per-level fixed overhead (collect job + broadcast) beats
#: the pruning.  Tests monkeypatch to 0 to force-exercise the gated path.
_GATE_MIN_WINDOWS = 2_000_000

#: re-split the persisted string form; '' round-trips to an EMPTY array
#: (split('') is ['']).
_TOKS = "CASE WHEN _t = '' THEN array() ELSE split(_t, ' ') END"


def _gram_hashes(level: DataFrame, k: int, n_rows: int) -> list[int] | None:
    """xxhash64-combined gram hashes of a (gram, ...) level frame, for the
    next level's in-scan gate; None when the set exceeds the collect cap."""
    if not 0 < n_rows <= _INSCAN_MAX:
        return None
    gh = _gramhash_sql("_hs", "1", k)
    return [
        r["gh"]
        for r in level.select(
            F.expr("transform(split(gram, ' '), x -> xxhash64(x))").alias("_hs")
        )
        .select(F.expr(gh).alias("gh"))
        .collect()
    ]


def _corpus_big_enough(txt: DataFrame) -> bool:
    """Engage the in-scan gate only above `_GATE_MIN_WINDOWS` token
    positions (see module docstring ADAPTIVE note); one cheap agg over the
    persisted string column."""
    if _GATE_MIN_WINDOWS <= 0:
        return True
    n = txt.select(
        F.sum(F.size(F.expr(_TOKS))).alias("n")
    ).first()["n"]
    return (n or 0) >= _GATE_MIN_WINDOWS


def _gate_bitmap(spark: SparkSession, hashes: list[int]) -> tuple[int, DataFrame]:
    """(bits, 1-row DataFrame `_bf array<bigint>`): the level's surviving
    gram hashes packed into a single-probe Bloom bitmap, driver-side (the
    hashes are already collected and `_INSCAN_MAX`-bounded).  Sized at
    >= 32 bits per entry (fpr ~3%), power of two in [2^16, 2^22] - at the
    top that is 64 KiB packed, a trivial broadcast."""
    import numpy as np

    bits = 1 << 16
    while bits < 32 * len(hashes) and bits < (1 << 22):
        bits <<= 1
    packed = np.zeros(bits // 64, dtype=np.uint64)
    for h in hashes:
        b = h % bits
        packed[b >> 6] |= np.uint64(1) << np.uint64(b & 63)
    vals = [int(v) for v in packed.view(np.int64)]
    return bits, spark.createDataFrame([(vals,)], "_bf array<bigint>")


def _pos_expr(k: int, gate_bits: int | None) -> str:
    """SQL for the 1-based window start positions of k-grams over `_tk`
    (with `_hs` = per-token xxhash64 and `_bf` = packed gate bitmap in scope
    when gated): all positions, or only those whose leading (k-1)-gram hash
    probes set in the previous level's bitmap."""
    pos = (
        f"slice(sequence(1, greatest(size(_tk) - {k} + 1, 1)), "
        f"1, greatest(size(_tk) - {k} + 1, 0))"
    )
    if gate_bits is not None:
        b = f"pmod({_gramhash_sql('_hs', 'i', k - 1)}, {gate_bits})"
        probe = (
            f"(shiftright(element_at(_bf, cast(shiftright({b}, 6) AS int) + 1), "
            f"cast({b} & 63 AS int)) & 1) = 1"
        )
        pos = f"filter({pos}, i -> {probe})"
    return pos


def _with_tokens(
    txt: DataFrame, bitmap_df: DataFrame | None, extra: list[str]
) -> DataFrame:
    """Two-step select so the split() array (and token hashes, when gated)
    materialize ONCE per row - CollapseProject would otherwise inline the
    split into every reference.  When gated, the broadcast 1-row bitmap
    rides in as a `_bf` column (BroadcastNestedLoopJoin of a 1-row side -
    effectively free)."""
    base = txt.select(*extra, F.expr(_TOKS).alias("_tk"))
    if bitmap_df is not None:
        base = base.crossJoin(F.broadcast(bitmap_df)).select(
            *extra, "_tk", "_bf",
            F.expr("transform(_tk, x -> xxhash64(x))").alias("_hs"),
        )
    return base


def _gram_counts(
    txt: DataFrame, k: int, min_sup: int, gate: tuple[int, DataFrame] | None
) -> DataFrame:
    """(gram, freq): occurrence counts of k-grams with freq >= min_sup,
    enumerated only at gate-surviving positions (see module docstring)."""
    gate_bits, bitmap_df = gate if gate is not None else (None, None)
    base = _with_tokens(txt, bitmap_df, [])
    grams = base.select(
        F.explode(
            F.expr(
                f"transform({_pos_expr(k, gate_bits)}, "
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

    cur = _gram_counts(txt, 1, min_sup, None).persist()
    cur_n = cur.count()
    # corpus size (token positions) decides whether gating pays; one cheap
    # agg over the already-persisted string column
    gate_on = _corpus_big_enough(txt)
    k = 1
    try:
        while k <= max_len:
            hashes = _gram_hashes(cur, k, cur_n) if gate_on else None
            gate = _gate_bitmap(spark, hashes) if hashes is not None else None
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
                    kill = (
                        ext.select(F.col("pfx").alias("gram"), "ext_freq")
                        .unionAll(ext.select(F.col("sfx").alias("gram"), "ext_freq"))
                        .distinct()
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
            cur, cur_n = nxt, nxt_n
            if nxt_n == 0:
                break
            k += 1
    finally:
        cur.unpersist()
        txt.unpersist()
    out_rows.sort(key=lambda r: (-r[1] * r[2], -r[1], r[0]))
    return spark.createDataFrame(out_rows, CLOSED_SCHEMA)


# aliases mirroring the reference's algorithm names
bide_mine_df = closed_contiguous_patterns
clospan_mine_df = closed_contiguous_patterns


def _doc_gram_counts(
    txt: DataFrame, k: int, id_col: str, gate: tuple[int, DataFrame] | None
) -> DataFrame:
    """(gram, df, ext_docs): distinct-doc frequency of gate-surviving
    k-grams, plus the distinct-doc count of EXTENDABLE occurrences (not at
    doc end) - the reference PrefixSpan emits a pattern only if its projected
    database is non-empty (corpus_miner.cpp:170-182), i.e. some occurrence
    can extend."""
    gate_bits, bitmap_df = gate if gate is not None else (None, None)
    base = _with_tokens(txt, bitmap_df, [id_col])
    pairs = base.select(
        F.col(id_col),
        F.explode(
            F.expr(
                f"array_distinct(transform({_pos_expr(k, gate_bits)}, "
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

    cur = (
        _doc_gram_counts(txt, 1, id_col, None)
        .filter(F.col("df") >= min_docs)
        .persist()
    )
    cur_n = cur.count()
    gate_on = _corpus_big_enough(txt)
    k = 1
    try:
        while k <= max_len:
            hashes = _gram_hashes(cur, k, cur_n) if gate_on else None
            gate = _gate_bitmap(spark, hashes) if hashes is not None else None
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
            cur, cur_n = nxt, nxt_n
            if nxt_n == 0:
                break
            k += 1
    finally:
        cur.unpersist()
        txt.unpersist()
    out_rows.sort(key=lambda r: (-r[1] * r[2], -r[1], r[0]))
    return spark.createDataFrame(out_rows, CLOSED_SCHEMA)
