"""BloomSpan Maximal-Frequent-Phrase miner, Spark-first.

Pipeline (SURVEY.md section 7; reference: corpus-miner/_ours/bloom_gram_miner.cpp),
one code path, one Spark action per step:

  docs(doc_id, tokens)
    -> word gate: ONE collect of the frequent words' bitmap
       words (functions/bitmap.py), sized driver-side to the
       frequent words and broadcast into the scan            [shuffles #1-2]
    -> candidate grams: word-gated per-doc-distinct n-gram
       counts, threshold support >= min_docs; ONE collect
       also carries each gram's seed chain hash and the two
       bitmap cells of its gather hash; the driver numbers
       the grams and sizes the gather gate, a second
       bitmap, to them (_number_candidates)                  [shuffle #3;
       post-threshold set is corpus-statistics bounded: boilerplate
       TEMPLATES, not corpus rows]
    -> edges and occurrences: ONE Arrow transfer
       (edges_and_occurrences) over one occurrence expression
       (_occurrences: gate-probed gram starts, window chains,
       the capped-gram doc sample): the path-tree edges of all
       depths, each doc row building and deduping its own,
       count(*) keyed by the next token's string, HAVING
       sup >= min_docs before the transfer                    [shuffle #4]
       - unioned with one (seed, doc_id, pos, prev hash, chain)
       row per occurrence                                     [NO shuffle]
    -> driver walk: max-support frequent edges from each seed hash;
       then each occurrence's cid by seed hash and its final flag
    -> sequential selection: score order + occupancy bitmask
       + backward closure on (cid, doc, pos) integer tuples   [driver, numpy]
    (no cache: both branches of the one action read the corpus; the
    candidates reach them as one broadcast bitmap - the one literal left
    is the support map of the grams the occurrence cap samples)

`prev` (the backward-closure input) is the 64-bit hash of the token before
the occurrence, so two distinct preceding tokens can only be taken for one
with probability ~2^-64 (the same caveat as the chain hashes of the walk).
The exact pure-Python miner (core/pyref.py, over core/expand.py) is the
oracle the tests hold this path to.

The selection step is the reference's inherently sequential stage F
(":595-706").  What reaches the driver is NOT the corpus: the frequent edge
table (bounded by boilerplate path structure) plus one integer row per
occurrence OF A SURVIVING CANDIDATE.  At web scale the occurrence lists of
head phrases grow with the corpus, so ``max_occs_per_gram`` (default
AUTO_MAX_OCCS) caps the gathered postings per gram (deterministic xxhash64
DOC sampling at rate cap/support, the same doc subsample in the edges and
the occurrence rows) while the EXACT seed df keeps coming from the candidate
aggregate.  When the cap BINDS (support > cap): expansion-edge supports are
subsample counts, so the frequency threshold scales to the unbiased
estimate (sup * support / cap >= min_docs) and reported expansion supports
are rescaled estimates; closure counters, examples and the occupancy
bitmask run on the same consistent doc subsample (sized >> min_docs for any
sane threshold).  `stats["occ_cap_sampled_grams"]` records how many grams
the cap touched; pass ``max_occs_per_gram=None`` for the byte-identical
exact posture.

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

from boilerplate_buster_spark.core.expand import WCandidate, WindowExhausted
from boilerplate_buster_spark.functions.bitmap import (
    bitmap_cells,
    bitmap_gate,
    bitmap_probe,
    bitmap_words,
    driver_frame,
    gram_hash,
)
from boilerplate_buster_spark.functions.ngrams import gram_starts
from boilerplate_buster_spark.operators.corpus_stats import word_doc_freq

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("phrase", T.StringType(), False),
        T.StructField("freq", T.LongType(), False),
        T.StructField("length", T.IntegerType(), False),
        T.StructField("example_docs", T.ArrayType(T.StringType()), False),
    ]
)


def candidate_grams(
    docs: DataFrame, n: int, min_docs: int, gate: DataFrame
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
      * the word gate `gate` (a functions/bitmap.py gate of the words in
        >= min_docs docs): every token of a qualifying gram is itself in
        >= min_docs docs, so grams touching any rare word are dropped at the
        scan by the broadcast bitmap, probed once per TOKEN (not once per
        gram position).

    The seed counters ride the candidate collect via df.observe()
    (CollectMetrics blocks the threshold-filter pushdown, so `total` counts
    pre-filter grams): read the Observation only after an action has run
    the returned plan - obs.get on a never-executed plan blocks forever.
    """
    t = "tokens"
    src_df = docs.crossJoin(F.broadcast(gate)).select(
        F.col(t),
        F.expr(f"transform({t}, x -> {bitmap_probe('x')})").alias("_ok"),
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
    """(gram, support, h0, cells): the candidate collect.  h0 is the rolling
    seed hash (the chain value of the gram itself), cells the two bitmap
    cells (`bitmap_cells`) of the in-scan gather hash (`gram_hash` over the
    gram's token hashes): the same SQL the scans' gate probe runs, so the
    driver never hashes anything itself."""
    gh = gram_hash("_hs", "1", n)
    return cands.select(
        "gram", "support",
        F.expr("transform(split(gram, ' '), x -> xxhash64(x))").alias("_hs"),
    ).select(
        "gram", "support",
        F.expr("aggregate(_hs, cast(0 AS bigint), (acc, h) -> xxhash64(acc, h))").alias("h0"),
        F.expr(bitmap_cells(gh)).alias("cells"),
    )


def _number_candidates(spark: SparkSession, rows: list) -> tuple[list[tuple], DataFrame]:
    """(cid, gram, support, h0) per collected `_with_seed_hashes` row, cid =
    rank in gram order, and the gather gate: the bitmap of their gather
    hashes, from the collected cells."""
    rows = sorted(rows)
    gate = bitmap_gate(spark, [c for r in rows for c in r["cells"]])
    return [(cid, r["gram"], r["support"], r["h0"]) for cid, r in enumerate(rows, start=1)], gate


def _doc_sample_sql(support: str, cap: int) -> str:
    """SQL predicate: keep a doc's occurrences of a gram of `support`
    distinct docs iff hash_frac(doc_id) < cap/support - deterministic
    per-gram DOC sampling, applied once in `_occurrences`, so the edges
    and the occurrence rows see one doc subsample.  Expected docs kept
    per gram ~ cap; a gram at or under the cap (or `support` 0) keeps
    everything.  A pure in-scan filter: a row_number() window partitioned by
    gram is a skew hotspot (few keys, corpus-sized partitions) exactly when
    the cap binds."""
    m = 1 << 20
    return f"pmod(xxhash64(doc_id), {m}) * {support} < cast({cap} AS bigint) * {m}"


def _chain_sql(hs_ref: str, i: str, window: int) -> str:
    """SQL: [0, c1, .., cL] for the occurrence starting at token i (1-based)
    - c<k> is the rolling prefix hash of the k tokens from i (the fold of
    their xxhash64 values), L = min(window, tokens left from i)."""
    return (
        f"aggregate(slice({hs_ref}, {i}, {window}), array(cast(0 AS bigint)), "
        f"(acc, h) -> array_append(acc, xxhash64(element_at(acc, -1), h)))"
    )


def _occurrences(
    docs: DataFrame,
    gate: DataFrame,
    cand_rows: list,
    n: int,
    window: int,
    max_occs_per_gram: int | None,
) -> tuple[DataFrame, str]:
    """The doc scan (doc_id, tokens, _hs, bf) and the SQL expression, over
    it, of each doc's candidate occurrences, array<struct<i, ch>> - the one
    occurrence expression of edges_and_occurrences: the gram starts
    i whose gather hash (`gram_hash` over the token hashes _hs) passes
    both probes of the gate bitmap bf, each with its window chain ch
    (`_chain_sql`; element n+1 is the seed hash c_n), and for a candidate
    over `max_occs_per_gram` only its doc sample (`_doc_sample_sql`, the
    support looked up by seed hash).  False positives only ADD occurrences
    whose seed hash is no candidate's.  An expression, not a column: Spark
    infers a non-empty filter for an explode of a column and pushes it
    below the projection as a second copy of the expression."""
    t = "tokens"
    occs = (
        f"transform(filter({gram_starts(t, n)}, "
        f"i -> {bitmap_probe(gram_hash('_hs', 'i', n))}), "
        f"i -> named_struct('i', i, 'ch', {_chain_sql('_hs', 'i', window)}))"
    )
    cap = max_occs_per_gram
    capped = [(h0, s) for _, _, s, h0 in cand_rows if cap is not None and s > cap]
    if capped:
        # the capped grams' supports by seed hash; every other gram (and a
        # false positive) reads 0 and keeps all its docs
        sup_map = ", ".join(f"{h}L, {s}L" for h, s in capped)
        sup = f"coalesce(try_element_at(map({sup_map}), element_at(o.ch, {n + 1})), 0L)"
        occs = f"filter({occs}, o -> {_doc_sample_sql(sup, cap)})"
    scan = docs.selectExpr(
        "doc_id", t, f"transform({t}, x -> xxhash64(x)) AS _hs"
    ).crossJoin(F.broadcast(gate))
    return scan, occs


def edges_and_occurrences(
    docs: DataFrame,
    gate: DataFrame,
    cand_rows: list,
    n: int,
    window: int,
    max_occs_per_gram: int | None,
    min_sup: int,
) -> DataFrame:
    """The one frame a mine collects per window size: the path-tree edges
    (seed, d, nxt, tok, sup, cur) of every candidate gram's occurrences,
    counted over distinct docs, HAVING sup >= min_sup; and one row
    (seed, doc_id, pos, prev_h, ch) per occurrence, whose d is NULL.

    An edge is one step of a greedy walk: from the length-d path prefix with
    rolling hash cur = c_d to the length-(d+1) prefix nxt = c_{d+1}, whose
    last token is tok, for d = n .. window-1; seed = c_n is the candidate's
    seed chain hash (h0 of its `_with_seed_hashes` row).

    ONE exchange.  Each doc row builds its own edges from its occurrences
    (`_occurrences`) before any explode.  nxt hashes the whole path, so it
    fixes the edge: sorting the row's edges by nxt and dropping adjacent
    repeats leaves each edge once per doc, and a plain count(*) is the
    distinct-doc support.

    An occurrence row holds pos (0-based), prev_h = xxhash64 of the token
    before (NULL at pos 0; backward-closure input, ":675-695") and
    ch = [c_n, c_{n+1}, ..]: its chain from the seed hash on, which tells
    the driver whether it is an occurrence of the walk's final phrase.
    False-positive occurrences carry a seed hash that no candidate has; the
    driver drops their edges and rows."""
    scan, occs = _occurrences(docs, gate, cand_rows, n, window, max_occs_per_gram)
    # c_k is element k+1 of a chain; a depth d has an edge while the chain
    # holds c_{d+1}
    edges = (
        f"flatten(transform({occs}, o -> transform("
        f"filter(sequence({n}, {window - 1}), d -> d + 2 <= size(o.ch)), "
        f"d -> named_struct('nxt', element_at(o.ch, d + 2), "
        f"'seed', element_at(o.ch, {n + 1}), 'd', d, "
        f"'cur', element_at(o.ch, d + 1), 'tok', element_at(tokens, o.i + d)))))"
    )
    counted = (
        scan.selectExpr(f"array_sort({edges}) AS _e")
        .selectExpr(
            "explode(filter(_e, (e, k) -> k = 0 OR e.nxt != element_at(_e, k).nxt)) AS e"
        )
        # the token is part of the key (nxt already fixes it, so the
        # groups are the same): a string key keeps the aggregate a hash
        # aggregate, where first(tok) would fall back to a sort
        .groupBy("e.seed", "e.d", "e.nxt", "e.tok")
        .agg(F.count("*").alias("sup"), F.first("e.cur").alias("cur"))
        .filter(F.col("sup") >= min_sup)
    )
    occurrences = scan.selectExpr("doc_id", "_hs", f"explode({occs}) AS o").selectExpr(
        f"element_at(o.ch, {n + 1}) AS seed",
        "CAST(doc_id AS STRING) AS doc_id",
        "o.i - 1 AS pos",
        # element_at is 1-based: index o.i - 1 is the token before
        "IF(o.i > 1, element_at(_hs, o.i - 1), NULL) AS prev_h",
        f"slice(o.ch, {n + 1}, {window}) AS ch",
    )
    return counted.unionByName(occurrences, allowMissingColumns=True)


#: default for max_occs_per_gram: per-gram Bernoulli DOC sampling at rate
#: cap/support bounds the gathered postings and the driver transfer.  SEED
#: supports stay exact (they come from the candidate aggregate); when the
#: cap binds, expansion thresholds scale to the unbiased support estimate
#: (see _mine_distributed) and the bitmask/closure run over the sampled
#: docs (a deterministic, consistent subsample - must be sized >> min_docs,
#: which 100k is for any sane boilerplate threshold).  At web scale head
#: phrases have occurrence counts proportional to the corpus, so an
#: uncapped gather is a transfer cliff.  Pass None explicitly for the
#: byte-identical posture (the pytest goldens and equivalence tests run far
#: below the cap, where the default is exact anyway).
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


def mine(
    spark: SparkSession,
    docs: DataFrame,
    min_docs: int,
    ngrams: int,
    min_l: int | None = None,
    window: int = 16,
    max_occs_per_gram: int | None = AUTO_MAX_OCCS,
    strategy: str = "distributed",
    stats: dict | None = None,
) -> list[WCandidate]:
    """Run the full miner over docs(doc_id, tokens); returns the final
    phrase list (driver-side, small).

    Job plan (module docstring), one path for every corpus: one word-gate
    collect, one candidate collect, then per window size ONE Arrow transfer
    (edges_and_occurrences) of the path-tree edges, aggregated with one
    exchange (all depths counted together, each doc's edges deduped in its
    row; sub-threshold edges never leave the cluster; each edge carries its
    token string), and of the occurrence rows.  The driver replays the
    greedy walk over the frequent edges, then runs the sequential
    occupancy-mask selection over integer (gram, doc, pos) tuples.  A
    packed bitmap of the candidates' gather hashes, broadcast, gates the
    gram starts.  Nothing is cached: 4 shuffles in all.  A phrase that
    outgrows the window W raises WindowExhausted, and the one transfer runs
    again at 2W.  `strategy` has the one value "distributed"; any other
    raises ValueError.

    The word gate is ONE bounded collect (`bitmap_words` of the frequent
    words), which `bitmap_gate` sizes to the frequent words and places -
    never a full word collect.  Candidate ids are assigned driver-side in
    gram order after the candidate collect, which also brings the gather
    gate's cells.

    `stats` (optional dict) receives the M5 mining-statistics table
    (bloom_gram_miner.cpp:447-454,710-718): seed totals, accepted/rejected,
    %reduction, phrases_total, phrases_6plus, selection counters - plus
    occ_cap_sampled_grams, phase_s (wall seconds per phase) and spark_jobs
    (jobs this call ran, counted under its own job group)."""
    if strategy != "distributed":
        raise ValueError(f"strategy must be 'distributed', got {strategy!r}")
    if min_l is None:
        min_l = ngrams  # main.cpp:67

    # NOTE deliberately NOT persisted: Spark's columnar cache reads of
    # array<string> are ~8x slower than recomputing split()+explode from the
    # (codegen-friendly) source scan - measured on this corpus shape.  Cache
    # the STRING form upstream instead (extraction does), never token arrays.
    docs = docs.select("doc_id", "tokens")

    clock = _PhaseClock()
    with _own_job_group(spark, stats, clock):
        probe = bitmap_words(word_doc_freq(docs).filter(F.col("df") >= min_docs), "word").collect()
        gate = bitmap_gate(spark, probe)
        clock.lap("words")

        cands, seeds = candidate_grams(docs, ngrams, min_docs, gate)
        # one tiny collect serves candidate ids, seed supports, the rolling
        # seed hash and the gather gate's cells
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
        cand_rows, gate = _number_candidates(spark, cand_rows)
        clock.lap("candidates")
        if stats is not None:
            stats["candidates_after_merge"] = len(cand_rows)
            stats["occ_cap_sampled_grams"] = sum(
                1
                for r in cand_rows
                if max_occs_per_gram is not None and r[2] > max_occs_per_gram
            )
        if not cand_rows:
            if stats is not None:
                stats.update(
                    phrases_total=0, phrases_6plus=0,
                    selection_skipped_covered=0, selection_dropped_closure=0,
                )
            return []
        while True:
            try:
                out = _mine_distributed(
                    docs, gate, cand_rows, min_docs, min_l, window,
                    stats=stats, max_occs_per_gram=max_occs_per_gram,
                    clock=clock,
                )
                if stats is not None:
                    stats.update(
                        phrases_total=len(out),
                        phrases_6plus=sum(1 for p in out if len(p.tokens) >= 6),
                    )
                return out
            except WindowExhausted:
                window *= 2


def _mine_distributed(
    docs: DataFrame,
    gate: DataFrame,
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

    `cand_rows`: (cid, gram, support, h0) per candidate; `gate`: their
    broadcast gather bitmap.  ONE Spark action over no cache,
    edges_and_occurrences over `docs`: per-doc deduped path-tree edges,
    count(*) per (seed, d, c_{d+1}, token) HAVING sup >= the lowest
    threshold in ONE exchange (noise edges die cluster-side), and the
    occurrence rows (seed, doc_id, pos, prev_h, chain), both from
    `_occurrences`.  After the walk the driver maps each row's seed hash to
    its cid and flags the occurrences of the final phrase.

    Expansion of a candidate never depends on the occupancy bitmask (the mask
    only gates skip-before/mark-after, bloom_gram_miner.cpp:633-640,697-702),
    so all candidates' greedy walks are served by ONE path-tree edge
    aggregation over all depths.  An edge's prefix hash c_d (cur) and next
    hash c_{d+1} (nxt) are rolling hashes of the whole path from the
    occurrence start; each doc row dedups its own edges by nxt, so the count
    per edge is its distinct-doc support with no distinct-aggregate rewrite.
    The driver walk then follows max-support frequent edges from the seed
    hash (tie -> smallest token string) with no further jobs and no word
    lookup.

    Because the prefix hash c_d encodes the ENTIRE path, counting all depths
    together is exact: edges of different prefixes can never merge (modulo
    the documented 2^-64 chain-collision caveat, guarded by the pyref
    equivalence tests).  Sub-threshold edges - the overwhelming majority on
    noise candidates - are filtered before the transfer, so the edges that
    reach the driver are bounded by the FREQUENT path structure
    (boilerplate templates), not the corpus.

    Backward closure (":675-695") and the canonical example docs need no
    extra cluster jobs: the occurrence rows - which the sequential
    selection needs regardless - serve the n_pos0 / distinct-prev closure
    counters and the min-2 example reduction in pandas, before the
    score-ordered selection with interval-based numpy mask bookkeeping."""
    import numpy as np
    import pandas as pd
    import pyarrow as pa
    import pyarrow.compute as pc

    state = {
        cid: {
            "gram": gram,
            "tokens": gram.split(" "),
            "support": support,
            "seed_support": support,
            "h": h0,
        }
        for cid, gram, support, h0 in cand_rows
    }
    n = len(cand_rows[0][1].split(" "))
    if n >= window:
        # a seed fills the window: its chains cannot hold the next token
        raise WindowExhausted(f"seed length {n} reaches window W={window}")

    # ---- one-shot path-tree edge aggregation over ALL depths ----
    # When the per-gram occurrence cap sampled a head gram's docs at rate
    # cap/support (_doc_sample_sql), edge supports are counted over that
    # subsample - so the frequency threshold is applied to the UNBIASED
    # estimate sup * support / cap >= min_docs, i.e. the per-cid
    # threshold DROPS to ceil(min_docs * cap / support) for capped grams.
    # The cluster filters at the lowest threshold; the exact per-cid one
    # applies below.
    cap = max_occs_per_gram
    capped_sup = {
        cid: support for cid, _, support, _ in cand_rows if cap is not None and support > cap
    }
    thr_by_cid = {
        cid: max(1, -(-min_docs * cap // sup)) for cid, sup in capped_sup.items()
    }
    edge_rows = edges_and_occurrences(
        docs, gate, cand_rows, n, window, cap, min([min_docs, *thr_by_cid.values()])
    ).toArrow()
    clock.lap("edges")

    is_edge = pc.is_valid(edge_rows["d"])
    edges = edge_rows.filter(is_edge).select(["seed", "d", "nxt", "tok", "sup", "cur"])
    cid_by_seed = {h0: cid for cid, _, _, h0 in cand_rows}
    by_cur: dict[tuple, list] = defaultdict(list)
    for seed, d, nxt, tok, sup, cur in zip(*edges.to_pydict().values()):
        cid = cid_by_seed.get(seed)  # None: a gate false positive
        if cid is not None and sup >= thr_by_cid.get(cid, min_docs):
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

    # ---- the occurrence rows: each seed hash maps to its cid (0, and the
    # row drops, for a gate false positive); an occurrence is final iff
    # its chain ch = [c_n, c_{n+1}, ..] reaches index flen - n and holds
    # the final hash there.  cids run 1..N in state order
    # (_number_candidates).  The nullable BIGINT prev_h arrives as pandas
    # Int64, exact: float64 would merge hashes that differ only in their
    # low bits.
    occ = edge_rows.filter(pc.invert(is_edge))
    cid = pd.Series(occ["seed"].to_numpy()).map(cid_by_seed).fillna(0).to_numpy(np.int64)
    occ, cid = occ.filter(pa.array(cid > 0)), cid[cid > 0]
    flen = np.array([0, *(len(st["tokens"]) for st in state.values())])[cid]
    fh = np.array([0, *(st["h"] for st in state.values())], np.int64)[cid]
    ch = occ["ch"].combine_chunks()
    off, vals = ch.offsets.to_numpy(), ch.values.to_numpy()
    at, end = off[:-1] + flen - n, off[1:]
    pdf = occ.select(["doc_id", "pos", "prev_h"]).to_pandas(
        types_mapper={pa.int64(): pd.Int64Dtype()}.get
    )
    pdf["cid"] = cid
    pdf["is_final"] = (at < end) & (vals[np.minimum(at, end - 1)] == fh)
    clock.lap("occurrences")

    # ---- closure counters + example docs, reduced driver-side -------------
    fin_pdf = pdf[pdf["is_final"]]
    n_pos0_by = fin_pdf[fin_pdf["pos"] == 0].groupby("cid").size()
    n_prev_by = fin_pdf.groupby("cid")["prev_h"].nunique()  # <NA> (pos=0) excluded
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
    `mine` sets to the first 2 of the sorted unique doc set (deviation:
    reference uses hash-set order).  A local relation (see driver_frame),
    rows in the sorted order."""
    data = [(p.text, p.support, len(p.tokens), list(p.examples)[:2]) for p in phrases]
    data.sort(key=lambda r: (-r[1] * r[2], -r[1], r[0]))
    return driver_frame(spark, data, RESULT_SCHEMA)


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
