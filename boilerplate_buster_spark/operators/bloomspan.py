"""BloomSpan Maximal-Frequent-Phrase miner, Spark-first.

Pipeline (SURVEY.md section 7; reference: corpus-miner/_ours/bloom_gram_miner.cpp),
one Spark action per step, and one code path per step for both strategies:

  docs(doc_id, tokens)
    -> word gate: ONE collect of the frequent-word aggregate,
       grouped into the 64-bit words of a packed Bloom bitmap
       (bit_or per word, plus a few word hashes per word)    [shuffles #1-2;
       small vocabularies gate by the literal hash IN-set,
       larger ones by the broadcast bitmap (word_gate)]
    -> candidate grams: word-gated per-doc-distinct n-gram
       counts, threshold support >= min_docs; ONE collect
       also carries each gram's seed chain hash and in-scan
       gather hash, and the driver numbers the grams         [shuffle #3;
       post-threshold set is corpus-statistics bounded: boilerplate
       TEMPLATES, not corpus rows]
    -> occurrence gather: in-scan hash IN-set filter over the
       corpus, ONE flat layout (cid, doc_h, doc_id, pos,
       prev_h, c1..cW, s1..sW) that both strategies read     [NO shuffle]
  strategy='distributed':
    -> greedy expansion: ONE path-tree edge aggregation over
       all depths, keyed by the next token's string,
       HAVING sup >= min_docs before collect; it also fills
       the cache of the gathered table                       [shuffles #4-5]
    -> occurrence transfer: ONE Arrow toPandas of per-occurrence
       (cid, doc, pos, prev hash, is_final) from the cache
    -> sequential selection: score order + occupancy bitmask
       + backward closure on (cid, doc, pos) integer tuples   [driver, numpy]
  strategy='driver':
    -> ONE Arrow transfer of (cid, doc_id, pos, prev_h, s1..sW), then the
       exact sequential kernel (core/expand.py) on the driver

On both strategies `prev` (the backward-closure input) is the 64-bit hash of
the token before the occurrence, so two distinct preceding tokens can only
be taken for one with probability ~2^-64 (the same caveat as the chain
hashes of the distributed walk).

The selection step is the reference's inherently sequential stage F
(":595-706").  What reaches the driver is NOT the corpus: the frequent edge
table (bounded by boilerplate path structure) plus one integer row per
occurrence OF A SURVIVING CANDIDATE.  At web scale the occurrence lists of
head phrases grow with the corpus, so ``max_occs_per_gram`` (default "auto"
-> AUTO_MAX_OCCS on the distributed path) caps the gathered postings per
gram (deterministic xxhash64 DOC sampling at rate cap/support) while the
EXACT seed df keeps coming from the candidate aggregate.  When the cap
BINDS (support > cap): expansion-edge supports are subsample counts, so the
frequency threshold scales to the unbiased estimate
(sup * support / cap >= min_docs) and reported expansion supports are
rescaled estimates; closure counters, examples and the occupancy bitmask run
on the same consistent doc subsample (sized >> min_docs for any sane
threshold).  `stats["occ_cap_sampled_grams"]` records how many grams the cap
touched; pass ``max_occs_per_gram=None`` for the byte-identical exact
posture.  Small corpora skip all of this: strategy='driver' transfers the
gathered windows and runs the exact kernel directly.

``mine`` runs its Spark jobs under a job group of its own (the caller's
group is restored on exit) and reports, in ``stats``, ``phase_s`` (wall
seconds per phase) and ``spark_jobs`` (jobs submitted by the call).
"""

from __future__ import annotations

import time
import uuid
from collections import defaultdict
from contextlib import contextmanager

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from boilerplate_buster_spark.core.expand import (
    WCandidate,
    WOcc,
    WindowExhausted,
    expand_windowed,
)
from boilerplate_buster_spark.functions.ngrams import gram_starts

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("phrase", T.StringType(), False),
        T.StructField("freq", T.LongType(), False),
        T.StructField("length", T.IntegerType(), False),
        T.StructField("example_docs", T.ArrayType(T.StringType()), False),
    ]
)
# schemas of the frames the miner builds on the driver (see _driver_frame)
_BITMAP_SCHEMA = T.StructType([T.StructField("bf", T.ArrayType(T.LongType()))])
_CANDS_SCHEMA = T.StructType([
    T.StructField("cid", T.IntegerType()),
    T.StructField("gram", T.StringType()),
    T.StructField("support", T.LongType()),
])


def _driver_frame(spark: SparkSession, rows: list[tuple], schema: T.StructType) -> DataFrame:
    """A frame of driver-side rows (they come from Spark results, so no
    per-row schema verification).  Built from a pyarrow Table, the frame is
    a local relation - an empty one too - so reading or broadcasting it runs
    no Spark job; a row list would be parallelized and unpickled by Python
    workers in a job of its own."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    cols = list(zip(*rows)) if rows else [[] for _ in schema.names]
    return spark.createDataFrame(
        pa.table(dict(zip(schema.names, cols)), schema=to_arrow_schema(schema))
    )


def _by_cid(values: list[int]) -> str:
    """SQL expression: values[cid - 1] for the dense candidate ids 1..N,
    from a literal BIGINT array - a per-candidate lookup with no join."""
    return f"element_at(array({', '.join(f'{v}L' for v in values)}), cid)"


def _gramhash_sql(hs_ref: str, i: str, n: int) -> str:
    """Order-sensitive combine of n consecutive 64-bit token hashes
    (xor of per-position rotations) - used for in-scan candidate membership;
    collisions only ADD occurrence rows, removed by the exact gram-string
    join right after."""
    terms = []
    for k in range(n):
        e = f"element_at({hs_ref}, {i} + {k})"
        sh = (k * 21) % 61
        terms.append(e if sh == 0 else f"shiftleft({e}, {sh})")
    return " ^ ".join(terms)


BITMAP_BITS = 1 << 22  # 4 Mbit -> 512 KiB packed; fpr ~ vocab/bits per probe

#: word hashes the word-gate probe carries per 64-bit bitmap word.  A
#: frequent vocabulary with more first-probe words in one bitmap word gates
#: through the bitmap even under word_gate_max - just as exact; with <= 2048
#: words over 65,536 bitmap words that happens with p ~ 1e-5.
_PROBE_HASHES = 4


def _bitmap_words(docs: DataFrame, min_docs: int) -> DataFrame:
    """(idx, v, n, hs): the 2-probe Bloom bitmap over the words in >=
    min_docs docs, grouped by its 64-bit words - the one word-gate collect,
    whose rows `word_gate` turns into the gate.  v is the bit_or of word
    `idx`'s set bits; n counts the words whose first probe lands in word
    `idx` and hs holds up to _PROBE_HASHES of their xxhash64 values.  At
    most BITMAP_BITS//64 rows, whatever the vocabulary size."""
    from boilerplate_buster_spark.operators.corpus_stats import word_doc_freq

    b1, b2 = f"pmod(xxhash64(word), {BITMAP_BITS})", f"pmod(xxhash64(word, 7), {BITMAP_BITS})"
    return (
        word_doc_freq(docs)
        .filter(F.col("df") >= min_docs)
        .select(
            F.explode(
                F.expr(
                    f"array(named_struct('bit', {b1}, 'h', xxhash64(word)), "
                    f"named_struct('bit', {b2}, 'h', CAST(NULL AS bigint)))"
                )
            ).alias("p")
        )
        .groupBy(F.expr("shiftright(p.bit, 6)").alias("idx"))
        .agg(
            F.expr("bit_or(shiftleft(CAST(1 AS bigint), CAST(p.bit & 63 AS int)))").alias("v"),
            F.count("p.h").alias("n"),
            F.expr(f"slice(collect_list(p.h), 1, {_PROBE_HASHES})").alias("hs"),
        )
    )


def word_gate(spark: SparkSession, probe: list, word_gate_max: int) -> list[int] | DataFrame:
    """The reference's P3 word-DF gate (bloom_gram_miner.cpp:414-421) from
    the collected `_bitmap_words` rows: the sorted xxhash64 values of a
    frequent vocabulary of at most word_gate_max words (a literal IN-set),
    or else the 2-probe Bloom bitmap packed into a one-row `bf
    array<bigint>` frame (broadcast into the scan).

    Spark's internal bloom_filter_agg is NOT in the public function registry
    (UNRESOLVED_ROUTINE on 4.1), so the bitmap is built from public ops: the
    cluster ORs the bits of each 64-bit bitmap word (at most BITMAP_BITS//64
    rows, NEVER bounded by vocabulary size - the driver-memory cliff of a
    full word collect), the driver places them.  False positives only ADD
    candidate grams; the exact support threshold keeps the mined set
    exact."""
    import numpy as np

    n_words = sum(r["n"] for r in probe)
    hashes = sorted(h for r in probe for h in r["hs"])
    if n_words <= word_gate_max and len(hashes) == n_words:
        return hashes
    packed = np.zeros(BITMAP_BITS // 64, dtype=np.int64)
    if probe:
        packed[np.array([r["idx"] for r in probe], dtype=np.int64)] = np.array(
            [r["v"] for r in probe], dtype=np.int64
        )
    return _driver_frame(spark, [(packed,)], _BITMAP_SCHEMA)


def _bitmap_probe(x: str) -> str:
    """SQL predicate: token `x` passes both bitmap probes (bf column in scope).
    shiftright on bigint is arithmetic, which still lands the target bit at
    position 0 before the & 1 mask - bit 63 included."""
    tests = []
    for probe in ("xxhash64(x)", "xxhash64(x, 7)"):
        h = f"pmod({probe}, {BITMAP_BITS})"
        tests.append(
            f"((shiftright(element_at(bf, cast(shiftright({h}, 6) AS int) + 1), "
            f"cast({h} & 63 AS int)) & 1) = 1)"
        )
    return " AND ".join(tests)


def candidate_grams(
    docs: DataFrame, n: int, min_docs: int, gate: list[int] | DataFrame
) -> tuple[DataFrame, Observation]:
    """(gram, support): n-grams in >= min_docs DISTINCT docs (stages A-D),
    and the Observation of the M5 seed counters (total, acc).
    Exact replacement of Bloom pass + word-DF gate + external merge
    (bloom_gram_miner.cpp:284-589) - those are approximations/spill machinery
    around exactly this aggregate.

    Two cardinality killers applied BEFORE the shuffle (both exactness-
    preserving):
      * per-doc array_distinct on the gram list (intra-doc repeats collapse
        map-side -> the agg is a plain count, no distinct rewrite/Expand);
      * the word gate `gate` (see word_gate): every token of a qualifying
        gram is itself in >= min_docs docs, so grams touching any rare word
        are dropped at the scan - by the literal hash IN-set, or by the
        broadcast packed bitmap.

    The seed counters ride the candidate collect via df.observe()
    (CollectMetrics blocks the threshold-filter pushdown, so `total` counts
    pre-filter grams): read the Observation only after an action has run
    the returned plan - obs.get on a never-executed plan blocks forever.
    """
    t = "tokens"
    if isinstance(gate, DataFrame):
        # bitmap probes per TOKEN (not per gram position), broadcast 1-row bf
        src_df = docs.crossJoin(F.broadcast(gate)).select(
            F.col(t),
            F.expr(f"transform({t}, x -> {_bitmap_probe('x')})").alias("_ok"),
        )
    else:
        # membership on 64-bit token hashes, computed ONCE per token -
        # literal IN-lists are linear scans in codegen, so comparing longs
        # (not strings) and testing each token once (not once per gram)
        # keeps the gate ~free.  Hash false positives only ADD grams; the
        # exact threshold below keeps the result exact.
        hset = ", ".join(map(str, gate)) or "0"
        src_df = docs.select(
            F.col(t),
            F.expr(f"transform({t}, x -> xxhash64(x) IN ({hset}))").alias("_ok"),
        )
    conj = " AND ".join(f"element_at(_ok, i + {k})" for k in range(n))
    per_doc = src_df.select(
        F.explode(
            F.expr(
                f"array_distinct(transform(filter({gram_starts(t, n)}, i -> {conj}), "
                f"i -> array_join(slice({t}, i, {n}), ' ')))"
            )
        ).alias("gram")
    )
    obs = Observation()
    grouped = per_doc.groupBy("gram").agg(F.count("*").alias("support")).observe(
        obs,
        F.count(F.lit(1)).alias("total"),
        F.sum(F.expr(f"IF(support >= {min_docs}, 1, 0)")).alias("acc"),
    )
    return grouped.filter(F.col("support") >= min_docs), obs


def _with_seed_hashes(cands: DataFrame, n: int) -> DataFrame:
    """(gram, support, h0, gh): the candidate collect.  h0 is the rolling
    seed hash (the chain value of the gram itself), gh the in-scan gather
    hash (_gramhash_sql over the gram's token hashes)."""
    return cands.select(
        "gram", "support",
        F.expr("transform(split(gram, ' '), x -> xxhash64(x))").alias("_hs"),
    ).select(
        "gram", "support",
        F.expr("aggregate(_hs, cast(0 AS bigint), (acc, h) -> xxhash64(acc, h))").alias("h0"),
        F.expr(_gramhash_sql("_hs", "1", n)).alias("gh"),
    )


def _number_candidates(spark: SparkSession, rows: list) -> tuple[list[tuple], DataFrame]:
    """(cid, gram, support, h0, gh) per collected `_with_seed_hashes` row,
    cid = rank in gram order, and the (cid, gram, support) frame that
    gather_windows joins."""
    cand_rows = [(cid, *r) for cid, r in enumerate(sorted(rows), start=1)]
    return cand_rows, _driver_frame(spark, [r[:3] for r in cand_rows], _CANDS_SCHEMA)


def gather_windows(
    docs: DataFrame,
    cands: DataFrame,
    cand_hashes: list[int],
    n: int,
    window: int,
    max_occs_per_gram: int | None = None,
) -> DataFrame:
    """Per-occurrence windows for every candidate gram, in the one flat
    layout both strategies read: (cid, doc_h, doc_id, pos, prev_h, c1..cW,
    s1..sW).

    `cands` is the (cid, gram, support) frame and `cand_hashes` the in-scan
    gather hashes of its grams (``_gramhash_sql`` over each gram's token
    hashes), both from the one candidate collect (`_number_candidates`).

    ZERO shuffles on the main path: the candidate set is corpus-statistics
    small (post-threshold boilerplate templates), so occurrence discovery is
    a literal IN-set filter INSIDE the doc scan - one codegen pass over the
    cached corpus, windows sliced in place, then a broadcast map-side join
    attaches cid/support.  A candidate set above `inscan_max` falls back to
    the explode + broadcast-join + docs-join plan (two shuffles).

    prev_h = xxhash64 of the token before the occurrence, NULL at pos 0
    (backward-closure input, ":675-695"); s<i> = token i of the W-token
    window from the occurrence start, NULL past the doc's end (expansion
    input); c<i> = rolling prefix hash of window[0..i) (distributed walk).
    """
    t = "tokens"
    # occurrence discovery: per-token hashes computed once per doc, then a
    # long-typed shift-xor gram hash tested against the candidate hash set
    # INSIDE the scan (string IN-lists are linear scans in codegen; long
    # compares are ~free).  Hash false positives are removed by the exact
    # gram-string broadcast join right after.
    gh = _gramhash_sql("_hs", "i", n)
    inscan_max = 65536
    all_pos = gram_starts(t, n)
    if len(cand_hashes) <= inscan_max:
        hset = ", ".join(str(h) for h in cand_hashes) or "0"
        pos_expr = f"filter({all_pos}, i -> ({gh}) IN ({hset}))"
        build = F.broadcast(cands)  # exact: drops hash false positives
    else:
        # huge candidate set (plan-size limit for the literal IN-set):
        # enumerate all positions and shuffle-join on gram (AQE handles skew)
        pos_expr, build = all_pos, cands
    occ = (
        docs.selectExpr("doc_id", t, f"transform({t}, x -> xxhash64(x)) AS _hs")
        .selectExpr("doc_id", t, "_hs", f"explode({pos_expr}) AS ipos")
        .selectExpr(
            "doc_id", t, "_hs", "ipos", "ipos - 1 AS pos",
            f"array_join(slice({t}, ipos, {n}), ' ') AS gram",
        )
        .join(build, "gram")
    )
    if max_occs_per_gram is not None:
        # Deterministic per-gram DOC sampling: keep a doc's occurrences of a
        # gram iff hash_frac(doc) < cap/support, using the EXACT distinct-doc
        # support from the candidate aggregate (already joined in).  Expected
        # docs kept per gram ~ cap; grams under the cap keep everything.
        # Pure in-scan filter - the earlier row_number() window partitioned
        # by gram was a guaranteed skew hotspot (few keys, corpus-sized
        # partitions) exactly when the cap binds.
        m = 1 << 20
        occ = occ.filter(
            F.expr(
                f"pmod(xxhash64(doc_id), {m}) * support "
                f"< cast({max_occs_per_gram} AS bigint) * {m}"
            )
        )
    # FLAT COLUMNS, no arrays: each expansion depth reads c_d, c_d+1 and
    # s_d+1 from the columnar cache, the final-occurrence flag reads c_flen
    # only, and the driver strategy's select prunes the c columns away:
    # column pruning that array columns cannot give (measured ~8x slower to
    # re-read).  c<i> is the fold of the per-token hashes.
    chain_arr = (
        f"aggregate(slice(_hs, ipos, {window}), "
        f"array(cast(0 AS bigint)), "
        f"(acc, h) -> array_append(acc, xxhash64(element_at(acc, -1), h)), "
        f"acc -> slice(acc, 2, {window}))"
    )
    # string expressions: one selectExpr parses them all in one call
    return occ.selectExpr(
        "cid",
        # 64-bit doc hash: the edge aggregation only needs doc IDENTITY
        # for distinct counts - comparing/shuffling longs, not id strings
        "xxhash64(doc_id) AS doc_h",
        "CAST(doc_id AS STRING) AS doc_id",
        "pos",
        # pos is 0-based; element_at is 1-based, so index `pos` IS pos-1
        "IF(pos > 0, element_at(_hs, pos), NULL) AS prev_h",
        f"{chain_arr} AS _chain",
        t,
        "ipos",
    ).selectExpr(
        "cid", "doc_h", "doc_id", "pos", "prev_h",
        *(f"try_element_at(_chain, {i}) AS c{i}" for i in range(1, window + 1)),
        *(f"try_element_at({t}, ipos + {i} - 1) AS s{i}" for i in range(1, window + 1)),
    )


#: distributed-strategy default for max_occs_per_gram ("auto"): per-gram
#: Bernoulli DOC sampling at rate cap/support bounds the gathered postings
#: and the driver transfer.  SEED supports stay exact (they come from the
#: candidate aggregate); when the cap binds, expansion thresholds scale to
#: the unbiased support estimate (see _mine_distributed) and the
#: bitmask/closure run over the sampled docs (a deterministic, consistent
#: subsample - must be sized >> min_docs, which 100k is for any
#: sane boilerplate threshold).  At web scale head phrases have occurrence
#: counts proportional to the corpus, so an uncapped gather is a transfer
#: cliff.  Pass None explicitly for the byte-identical posture (the pytest
#: goldens and equivalence tests run far below the cap, where "auto" is
#: exact anyway).
AUTO_MAX_OCCS = 100_000


_JOB_PROPS = ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel")


@contextmanager
def _own_job_group(spark: SparkSession, stats: dict | None, clock: _PhaseClock):
    """Run the body under a fresh job group; on exit restore the caller's
    group, description and interrupt flag, and record in `stats` the jobs
    the body submitted (spark_jobs) and the clock's phases (phase_s)."""
    sc = spark.sparkContext
    saved = {k: sc.getLocalProperty(k) for k in _JOB_PROPS}
    group = f"bloomspan.mine-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "bloomspan.mine")
    try:
        yield
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)
        if stats is not None:
            # the status tracker is fed by the listener bus: let it catch up
            # (on a timeout, count the jobs that have arrived)
            try:
                sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
            except Py4JError:
                pass
            stats["spark_jobs"] = len(sc.statusTracker().getJobIdsForGroup(group))
            stats["phase_s"] = {k: round(v, 4) for k, v in clock.phase_s.items()}


class _PhaseClock:
    """Wall seconds per named phase; each lap closes the phase that ran
    since the previous lap (a window retry adds to the same names)."""

    def __init__(self):
        self.phase_s: dict[str, float] = {}
        self._t = time.perf_counter()

    def lap(self, name: str) -> None:
        now = time.perf_counter()
        self.phase_s[name] = self.phase_s.get(name, 0.0) + now - self._t
        self._t = now


#: strategy="auto" picks the driver strategy below this many candidate
#: occurrences (lower-bounded by the summed seed supports)
AUTO_DRIVER_OCCS = 150_000


def mine(
    spark: SparkSession,
    docs: DataFrame,
    min_docs: int,
    ngrams: int,
    min_l: int | None = None,
    window: int = 16,
    max_occs_per_gram: int | None | str = "auto",
    strategy: str = "auto",
    word_gate_max: int = 2048,
    stats: dict | None = None,
) -> list[WCandidate]:
    """Run the full miner over docs(doc_id, tokens); returns the final
    phrase list (driver-side, small).

    Job plan (module docstring): one word-gate collect, one candidate
    collect, then per window size one gather of the flat occurrence layout
    and the strategy's actions over it.
    strategy='distributed': greedy expansion runs as ONE path-tree edge
    aggregation over cluster-resident occurrence windows (all depths counted
    together; sub-threshold edges never leave the cluster; each edge carries
    its token string), then the driver replays the greedy walk over the
    frequent edges and the sequential occupancy-mask selection over integer
    (gram, doc, pos) tuples from one Arrow transfer.
    strategy='driver': one Arrow transfer of the windows, and the whole
    kernel runs driver-side (exact same outputs; the transfer dominates on
    large corpora).  'auto' (default) picks by total candidate-occurrence
    count (< AUTO_DRIVER_OCCS -> driver).  Both retry with doubled W if a
    phrase outgrows the gathered windows.

    The word gate is ONE bounded collect (`_bitmap_words`): the
    frequent-word aggregate grouped by the 64-bit words of the packed Bloom
    bitmap.  `word_gate` turns it into a literal hash IN-set for a
    frequent-word set of at most word_gate_max words, and into the broadcast
    bitmap for a larger one - never a full word collect.  Candidate ids are
    assigned driver-side in gram order after the candidate collect.  Every
    cache is released on every exit path.

    `stats` (optional dict) receives the M5 mining-statistics table
    (bloom_gram_miner.cpp:447-454,710-718): seed totals, accepted/rejected,
    %reduction, phrases_total, phrases_6plus, selection counters - plus
    phase_s (wall seconds per phase) and spark_jobs (jobs this call ran,
    counted under its own job group)."""
    if min_l is None:
        min_l = ngrams  # main.cpp:67

    # NOTE deliberately NOT persisted: Spark's columnar cache reads of
    # array<string> are ~8x slower than recomputing split()+explode from the
    # (codegen-friendly) source scan - measured on this corpus shape.  Cache
    # the STRING form upstream instead (extraction does), never token arrays.
    docs = docs.select("doc_id", "tokens")

    clock = _PhaseClock()
    with _own_job_group(spark, stats, clock):
        probe = _bitmap_words(docs, min_docs).collect()
        gate = word_gate(spark, probe, word_gate_max)
        clock.lap("words")

        cands, seeds = candidate_grams(docs, ngrams, min_docs, gate)
        # one tiny collect serves strategy choice, candidate ids, seed
        # supports, the rolling seed hash and the in-scan gather hash
        cand_rows = _with_seed_hashes(cands, ngrams).collect()
        if stats is not None:
            seed_row = seeds.get  # the collect above ran the observed plan
            total, acc = int(seed_row["total"] or 0), int(seed_row["acc"] or 0)
            stats.update(
                seeds_total=total,
                seeds_accepted=acc,
                seeds_rejected=total - acc,
                pct_reduction=round(100.0 * (total - acc) / total, 2) if total else 0.0,
            )
        cand_rows, cands = _number_candidates(spark, cand_rows)
        clock.lap("candidates")
        if stats is not None:
            stats.setdefault("candidates_after_merge", len(cand_rows))
        if not cand_rows:
            if stats is not None:
                stats.update(phrases_total=0, phrases_6plus=0)
            return []
        cand_hashes = [r[4] for r in cand_rows]
        if strategy == "auto":
            # support (distinct docs) lower-bounds occurrences; good
            # enough to pick the execution strategy
            total_occs = sum(r[2] for r in cand_rows)
            strategy = "driver" if total_occs < AUTO_DRIVER_OCCS else "distributed"
        if max_occs_per_gram == "auto":
            max_occs_per_gram = AUTO_MAX_OCCS if strategy == "distributed" else None
        if stats is not None:
            stats["occ_cap_sampled_grams"] = sum(
                1
                for r in cand_rows
                if max_occs_per_gram is not None and r[2] > max_occs_per_gram
            )
        while True:
            try:
                gathered = gather_windows(
                    docs, cands, cand_hashes, ngrams, window, max_occs_per_gram
                )
                if strategy == "distributed":
                    out = _mine_distributed(
                        spark, gathered, cand_rows, min_docs, min_l, window,
                        stats=stats, max_occs_per_gram=max_occs_per_gram,
                        clock=clock,
                    )
                else:
                    out = _mine_driver(
                        gathered, cand_rows, min_docs, min_l, window, stats=stats
                    )
                    clock.lap("expand")
                if stats is not None:
                    stats.update(
                        phrases_total=len(out),
                        phrases_6plus=sum(1 for p in out if len(p.tokens) >= 6),
                    )
                return out
            except WindowExhausted:
                window *= 2


def _mine_driver(
    gathered: DataFrame, cand_rows: list, min_docs: int, min_l: int, window: int,
    stats: dict | None = None,
) -> list[WCandidate]:
    """Transfer the windows in one Arrow batch and run the exact sequential
    kernel driver-side.  `cand_rows`: (cid, gram, support, h0, gh) per
    candidate; only candidates with gathered occurrences enter the kernel.
    Examples are the first 2 of each phrase's sorted final-occurrence docs,
    as on the distributed strategy."""
    s_cols = [f"s{i}" for i in range(1, window + 1)]
    rows = gathered.select("cid", "doc_id", "pos", "prev_h", *s_cols).toArrow()
    # integers through to_pylist: the nullable BIGINT prev_h stays an exact
    # int, where numpy or pandas would make it float64; strings through
    # numpy, ~20x faster than to_pylist
    ints = zip(*(rows.column(c).to_pylist() for c in ("cid", "pos", "prev_h")))
    doc_ids, *s_vals = (
        rows.column(c).to_numpy(zero_copy_only=False) for c in ("doc_id", *s_cols)
    )
    gram_support = {cid: (gram, support) for cid, gram, support, _, _ in cand_rows}
    occs: dict[int, list[WOcc]] = defaultdict(list)
    for (cid, pos, prev), doc, win in zip(ints, doc_ids, zip(*s_vals)):
        # the s<i> past the doc's end are NULL padding
        end = win.index(None) if None in win else window
        occs[cid].append(WOcc(doc, pos, prev, list(win[:end])))
    cands = []
    for cid, lst in occs.items():
        lst.sort(key=lambda o: (o.doc_id, o.pos))  # canonical occ order
        gram, support = gram_support[cid]
        cands.append(WCandidate(gram.split(" "), support, lst))
    out = expand_windowed(cands, min_docs, min_l, window=window, stats=stats)
    for p in out:
        p.examples = sorted({o.doc_id for o in p.occs})[:2]
    return out


def _mine_distributed(
    spark: SparkSession,
    gathered: DataFrame,
    cand_rows: list,
    min_docs: int,
    min_l: int,
    window: int,
    stats: dict | None = None,
    max_occs_per_gram: int | None = None,
    *,
    clock: _PhaseClock,
) -> list[WCandidate]:
    """Distributed greedy expansion + vectorized driver-side mask selection.

    `cand_rows`: (cid, gram, support, h0, gh) per candidate.  Two Spark
    actions, both over the persisted `gathered` table (released on every
    exit path):

      edges: stack -> groupBy(cid, d, c_{d+1}, token).agg(countDistinct(doc_h))
             HAVING sup >= min_docs        <- noise edges die cluster-side;
             this scan also fills the cache
      occurrences: one Arrow toPandas of (cid, doc_id, pos, prev_h, is_final)

    Expansion of a candidate never depends on the occupancy bitmask (the mask
    only gates skip-before/mark-after, bloom_gram_miner.cpp:633-640,697-702),
    so all candidates' greedy walks are served by ONE path-tree edge
    aggregation over the cluster-resident occurrence table.  The table layout
    is FLAT columns (c<i> = rolling prefix hash of window[0..i), s<i> = the
    token at window position i); `stack` unpivots each occurrence into its
    (depth, prefix-hash, next-hash, next-token) edges and one two-level
    aggregate counts DISTINCT docs per edge.  The token string is part of
    the grouping key - the prefix hash c_{d+1} already fixes it, so the
    groups are the same, and a key keeps the aggregate a hash aggregate
    where a string buffer (first(token)) would fall back to a sort.  The
    driver walk then follows max-support frequent edges from the seed hash
    (tie -> smallest token string) with no further jobs and no word lookup.

    Because the prefix hash c_d encodes the ENTIRE path, counting all depths
    together is exact: edges of different prefixes can never merge (modulo
    the documented 2^-64 chain-collision caveat, guarded by the
    driver/distributed equivalence tests).  Sub-threshold edges - the
    overwhelming majority on noise candidates - are filtered before collect,
    so driver transfer is bounded by the FREQUENT path structure (boilerplate
    templates), not the corpus.

    Backward closure (":675-695") and the canonical example docs need no
    extra cluster jobs: the single Arrow transfer of per-occurrence
    tuples - which the sequential selection needs regardless - serves the
    n_pos0 / distinct-prev closure counters and the min-2 example reduction
    in pandas, before the score-ordered selection with interval-based numpy
    mask bookkeeping."""
    import numpy as np
    import pandas as pd

    gathered = gathered.persist()
    try:
        state = {
            cid: {
                "gram": gram,
                "tokens": gram.split(" "),
                "support": support,
                "seed_support": support,
                "h": h0,
            }
            for cid, gram, support, h0, _ in cand_rows
        }
        n = len(cand_rows[0][1].split(" "))

        # ---- one-shot path-tree edge aggregation over ALL depths ----
        # When the per-gram occurrence cap sampled a head gram's docs at rate
        # cap/support (gather_windows), edge supports are counted over that
        # subsample - so the frequency threshold is applied to the UNBIASED
        # estimate sup * support / cap >= min_docs, i.e. the per-cid
        # threshold DROPS to ceil(min_docs * cap / support) for capped grams.
        # Comparing sampled supports against the raw min_docs (the round-2
        # behavior) made a head gram's continuation survive only at
        # ~support/cap times the intended df - silently truncating greedy
        # expansion.
        cap = max_occs_per_gram
        capped_sup = {
            cid: support
            for cid, _, support, _, _ in cand_rows
            if cap is not None and support > cap
        }
        thr_by_cid = {
            cid: max(1, -(-min_docs * cap // sup)) for cid, sup in capped_sup.items()
        }
        stack_args = ", ".join(
            f"{d}, c{d}, c{d + 1}, s{d + 1}" for d in range(n, window)
        )
        agg = (
            gathered.selectExpr(
                "cid", "doc_h", f"stack({window - n}, {stack_args}) AS (d, cur, nxt, tok)"
            )
            .filter("nxt IS NOT NULL")
            .groupBy("cid", "d", "nxt", "tok")
            .agg(
                F.countDistinct("doc_h").alias("sup"),
                F.first("cur").alias("cur"),
            )
        )
        if thr_by_cid:
            agg = agg.filter(
                F.col("sup") >= F.expr(
                    _by_cid([thr_by_cid.get(r[0], min_docs) for r in cand_rows])
                )
            )
        else:
            agg = agg.filter(F.col("sup") >= min_docs)
        edge_rows = agg.select("cid", "d", "cur", "sup", "tok", "nxt").collect()
        clock.lap("edges")

        by_cur: dict[tuple, list] = defaultdict(list)
        for cid, d, cur, sup, tok, nxt in edge_rows:
            by_cur[(cid, d, cur)].append((sup, tok, nxt))

        # ---- greedy walk per candidate over the frequent edges (driver) ----
        for cid, st in state.items():
            plen, h = n, st["h"]
            while True:
                options = by_cur.get((cid, plen, h))
                if not options:
                    break
                best_sup = max(o[0] for o in options)
                # winner: max unique-doc support, tie -> smallest token string
                tok, nxt = min((t, o_nxt) for sup, t, o_nxt in options if sup == best_sup)
                st["tokens"].append(tok)
                st["support"] = best_sup
                h = nxt
                plen += 1
                if plen >= window:
                    clock.lap("walk")
                    raise WindowExhausted(f"phrase reached window W={window}")
            st["h"] = h
            if plen > n and cid in capped_sup:
                # expansion support was counted over the cap/support doc
                # sample: report the unbiased estimate (bounded by the exact
                # seed df - expansion support is monotone non-increasing)
                est = round(st["support"] * capped_sup[cid] / cap)
                st["support"] = min(st["seed_support"], max(min_docs, est))
        clock.lap("walk")

        # ---- flag FINAL occurrences (per-cid final length and chain hash,
        # looked up by cid - no join); only the c columns of lengths that
        # actually occur are read from cache ----
        flens = sorted({len(st["tokens"]) for st in state.values()})
        fin_case = (
            "CASE flen "
            + " ".join(f"WHEN {f} THEN (c{f} = fin_h)" for f in flens)
            + " END"
        )
        flagged = (
            gathered.withColumn(
                "flen", F.expr(_by_cid([len(state[r[0]]["tokens"]) for r in cand_rows]))
            )
            .withColumn("fin_h", F.expr(_by_cid([state[r[0]]["h"] for r in cand_rows])))
            .withColumn("is_final", F.coalesce(F.expr(fin_case), F.lit(False)))
        )

        # single Arrow transfer: (cid, doc_id, pos, prev hash, is_final) - the
        # occurrence rows the sequential selection needs anyway also serve
        # the closure counters AND the canonical example docs, so no further
        # cluster jobs run after this point
        pdf = flagged.select("cid", "doc_id", "pos", "prev_h", "is_final").toPandas()
        clock.lap("occurrences")
    finally:
        gathered.unpersist()

    # ---- closure counters + example docs, reduced driver-side -------------
    fin_pdf = pdf[pdf["is_final"]]
    n_pos0_by = fin_pdf[fin_pdf["pos"] == 0].groupby("cid").size()
    n_prev_by = fin_pdf.groupby("cid")["prev_h"].nunique()  # NaN (pos=0) excluded
    n_pos0_by, n_prev_by = n_pos0_by.to_dict(), n_prev_by.to_dict()
    closure = {
        cid: (int(n_pos0_by.get(cid, 0)), int(n_prev_by.get(cid, 0)))
        for cid in state
    }
    # canonical examples: first 2 of the sorted unique doc-id set per cid
    ex = (
        fin_pdf[["cid", "doc_id"]]
        .drop_duplicates()
        .sort_values(["cid", "doc_id"])
        .groupby("cid")
        .head(2)
    )
    examples: dict[int, list[str]] = defaultdict(list)
    for cid, doc in zip(ex["cid"].tolist(), ex["doc_id"].tolist()):
        examples[cid].append(doc)

    # ---- sequential selection (reference stage F), numpy-vectorized with
    # INTERVAL bookkeeping (marks are contiguous ranges; storing intervals
    # instead of positions keeps memory/sorts ~plen times smaller) ----
    codes, _ = pd.factorize(pdf["doc_id"])
    flat = (codes.astype(np.int64) << 32) | pdf["pos"].to_numpy(np.int64)
    cid_arr = pdf["cid"].to_numpy(np.int64)
    isfin_arr = pdf["is_final"].to_numpy(bool)

    order = sorted(
        state.items(),
        key=lambda kv: (
            -kv[1]["seed_support"] * len(kv[1]["gram"].split(" ")),
            -kv[1]["seed_support"],
            kv[1]["gram"].split(" "),
        ),
    )
    sort_idx = np.argsort(cid_arr, kind="stable")
    sorted_cids = cid_arr[sort_idx]
    idx_by_cid: dict[int, np.ndarray] = {}
    for cid, _ in order:
        lo = np.searchsorted(sorted_cids, cid, side="left")
        hi = np.searchsorted(sorted_cids, cid, side="right")
        idx_by_cid[cid] = sort_idx[lo:hi]

    # covered-interval chunks: each chunk keeps (starts sorted, RAW ends in
    # start order, cummax of ends).  A point p is covered by a chunk iff the
    # last interval starting <= p has cummax end > p (cummax makes the single
    # lookup correct for overlapping intervals).  Chunks merge from their RAW
    # ends when they pile up (cummax'd ends must never be merged as if raw -
    # they inherit earlier intervals' reach).
    chunks: list[tuple[np.ndarray, np.ndarray, np.ndarray]] = []

    def covered(points: np.ndarray) -> np.ndarray:
        m = np.zeros(len(points), dtype=bool)
        for s, _, cume in chunks:
            idx = np.searchsorted(s, points, side="right") - 1
            ok = idx >= 0
            m |= ok & (cume[np.clip(idx, 0, None)] > points)
        return m

    def add_intervals(starts: np.ndarray, length: int) -> None:
        o = np.argsort(starts, kind="stable")
        s = starts[o]
        raw_e = s + length
        chunks.append((s, raw_e, np.maximum.accumulate(raw_e)))
        if len(chunks) > 8:  # amortized merge
            alls = np.concatenate([c[0] for c in chunks])
            alle = np.concatenate([c[1] for c in chunks])
            o2 = np.argsort(alls, kind="stable")
            s2, e2 = alls[o2], alle[o2]
            chunks.clear()
            chunks.append((s2, e2, np.maximum.accumulate(e2)))

    out: list[WCandidate] = []
    n_skipped = n_closed = 0
    for cid, st in order:
        rows = idx_by_cid[cid]
        starts = flat[rows]
        # skip iff ALL seed START positions already covered (":633-640")
        if chunks and covered(starts).all():
            n_skipped += 1
            continue
        n_pos0, n_prev = closure.get(cid, (0, 0))
        fin_rows = rows[isfin_arr[rows]]
        if fin_rows.size and n_pos0 == 0 and n_prev == 1:
            n_closed += 1
            continue  # backward closure: drop, don't mark
        plen = len(st["tokens"])
        if fin_rows.size:
            add_intervals(flat[fin_rows], plen)
        if plen >= min_l:
            out.append(
                WCandidate(
                    st["tokens"],
                    st["support"],
                    occs=[],
                    examples=examples.get(cid, []),
                )
            )
    if stats is not None:
        stats.update(selection_skipped_covered=n_skipped, selection_dropped_closure=n_closed)
    clock.lap("selection")
    return out


def phrases_to_df(spark: SparkSession, phrases: list[WCandidate]) -> DataFrame:
    """Canonical result DataFrame (deterministic projection of the CSV sink,
    corpus_miner.cpp:529-561): example_docs = each phrase's `examples`, which
    `mine` sets on both strategies to the first 2 of the sorted unique doc
    set (deviation: reference uses hash-set order).  A local relation (see
    _driver_frame), rows in the sorted order."""
    data = [(p.text, p.support, len(p.tokens), list(p.examples)[:2]) for p in phrases]
    data.sort(key=lambda r: (-r[1] * r[2], -r[1], r[0]))
    return _driver_frame(spark, data, RESULT_SCHEMA)


def mine_df(spark: SparkSession, docs: DataFrame, **kw) -> DataFrame:
    return phrases_to_df(spark, mine(spark, docs, **kw))


def greedy_phrase_expansion(
    docs: DataFrame,
    min_docs: int,
    n: int = 3,
    max_len: int = 8,
    tokens_col: str = "tokens",
) -> DataFrame:
    """(seed, phrase, length, support): pure greedy right-expansion of every
    frequent seed n-gram - the SQL-oracle-able projection of the M1 miner's
    expansion rule (round-4 verdict stretch #7).

    Each seed (distinct-doc support >= min_docs) extends one token at a time:
    among all (L+1)-grams whose first L tokens equal the current phrase and
    whose distinct-doc support stays >= min_docs, pick MAX support, ties to
    the LEXICOGRAPHICALLY SMALLEST next token - exactly the documented
    expansion tie-break of core/pyref.expand_candidates (bloom_gram_miner.cpp
    :655-661; the full miner adds score ordering, the occupancy bitmask and
    backward closure on top, which stay driver-side/rows-only).  Stops when
    no qualifying extension exists or length reaches max_len.

    Plan shape: one distinct-doc gram aggregate per length (n..max_len) and
    one left join per expansion step - a STATIC unrolled chain, no iteration
    whose depth depends on data, so Catalyst sees the whole plan and a SQL
    twin can mirror it step for step.  Every aggregate is a uniform-key
    hash-aggregate; the per-prefix argmax is min(struct(-support, gram)),
    never a window over a skewed key."""
    t = tokens_col

    def gram_support(length: int) -> DataFrame:
        g = (
            f"array_distinct(transform({gram_starts(t, length)}, "
            f"i -> array_join(slice({t}, i, {length}), ' ')))"
        )
        return (
            docs.select(F.explode(F.expr(g)).alias("gram"))
            .groupBy("gram")
            .agg(F.count("*").alias("sup"))
            .filter(F.col("sup") >= min_docs)
        )

    cur = gram_support(n).select(
        F.col("gram").alias("seed"),
        F.col("gram").alias("phrase"),
        F.lit(n).alias("length"),
        F.col("sup").alias("support"),
    )
    for length in range(n, max_len):
        ext = gram_support(length + 1).select(
            F.expr(
                f"array_join(slice(split(gram, ' '), 1, {length}), ' ')"
            ).alias("phrase"),
            F.col("gram").alias("g"),
            F.col("sup").alias("s"),
        )
        best = ext.groupBy("phrase").agg(
            F.min(F.struct(F.expr("-s").alias("ns"), F.col("g").alias("np"))).alias("b")
        )
        # stalled phrases (token count < current step length) never string-
        # match a longer prefix, so the left join carries them unchanged
        cur = cur.join(best, "phrase", "left").select(
            "seed",
            F.coalesce(F.col("b.np"), F.col("phrase")).alias("phrase"),
            F.when(F.col("b").isNull(), F.col("length"))
            .otherwise(F.lit(length + 1))
            .alias("length"),
            F.when(F.col("b").isNull(), F.col("support"))
            .otherwise(-F.col("b.ns"))
            .alias("support"),
        )
    return cur
