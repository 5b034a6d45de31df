"""Deduplication operators for web-scale training-data pipelines:

  * exact dedup        - md5-fingerprint hash-groupBy (one shuffle on the
                         fingerprint; survivors = min doc per group)
  * MinHash + LSH      - shingle -> K salted-md5 minima -> band buckets ->
                         bucket self-join for candidate pairs (the classic
                         scale path: candidates ~ true-duplicate pairs, never
                         all-pairs)
  * n-gram Jaccard     - exact verification on LSH candidates only
  * SimHash (16-bit)   - per-token hash bit-majority signature

Every hash is the portable 60-bit md5 (operators/text_stats.h60), so each of
these has a bit-exact DuckDB oracle in __spark_entry__.py.

Scale notes: minhash/simhash signatures are computed per-row inside
whole-stage codegen (transform/filter/aggregate over the token array - no
shuffle, no Python), and exactly ONCE (banding is a single projection, pairs
come from a per-bucket expansion, never a self-join).  The only shuffles are
the fingerprint/bucket groupBys, whose keys are uniform by construction;
pathological all-identical buckets are bounded by `max_bucket` (see
lsh_candidate_pairs)."""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from boilerplate_buster_spark.operators.text_stats import h60

DEFAULT_K = 12  # minhash functions
DEFAULT_BANDS = 4  # -> rows-per-band = K/BANDS = 3


def exact_dedup_groups(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(fp, n_docs, keep_id): md5-exact duplicate groups; survivor = min id."""
    return (
        docs.select(F.col(id_col), F.md5(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.min(id_col).alias("keep_id"))
    )


def shingles_expr(tokens_col: str, n: int) -> str:
    """n-gram shingle strings (distinct per doc), Spark SQL dialect."""
    t = tokens_col
    cnt = f"greatest(size({t}) - {n} + 1, 0)"
    return (
        f"array_distinct(transform(slice(sequence(1, greatest(size({t}) - {n} + 1, 1)), 1, {cnt}), "
        f"i -> array_join(slice({t}, i, {n}), ' ')))"
    )


def minhash_signature(
    docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    n_shingle: int = 3,
    k: int = DEFAULT_K,
    hash_fn: str = "portable",
) -> DataFrame:
    """(doc_id, mh_0 .. mh_{k-1}): k independent minhash values per doc.

    hash_fn='portable' (default): H(shingle || '#j') with the 60-bit md5 -
    bit-identical in DuckDB, used by the oracle-checked queries.
    hash_fn='xxhash64': the production path (no cross-engine oracle) - each
    shingle STRING is hashed exactly once, the k functions are integer
    re-hashes xxhash64(h, j) of that value (string hashing k times per
    shingle was the round-1 hot spot).

    Both paths materialize the shingle array in a separate projection so the
    k min-folds share it (CollapseProject keeps multiply-referenced
    non-trivial aliases materialized)."""
    sh = shingles_expr(tokens_col, n_shingle)
    if hash_fn == "xxhash64":
        pre = docs.select(
            F.col(id_col), F.expr(f"transform({sh}, s -> xxhash64(s))").alias("_sh")
        )
        mins = [f"array_min(transform(_sh, u -> xxhash64(u, {j})))" for j in range(k)]
    else:
        pre = docs.select(F.col(id_col), F.expr(sh).alias("_sh"))
        mins = [
            "array_min(transform(_sh, s -> " + h60(f"concat(s, '#{j}')") + "))"
            for j in range(k)
        ]
    cols = [F.col(id_col)] + [F.expr(m).alias(f"mh_{j}") for j, m in enumerate(mins)]
    return pre.select(*cols).filter(F.col("mh_0").isNotNull())


def minhash_bands(
    docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    n_shingle: int = 3,
    k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
    hash_fn: str = "portable",
) -> DataFrame:
    """(doc_id, band, bucket): LSH band buckets; bucket = md5 of the band's
    minhash values.

    SINGLE PASS over the signature pipeline: one projection emits
    array(struct(band, bucket)) and explodes it - Catalyst does not CSE
    across union branches, so the round-1 per-band unionAll re-ran
    shingling + all k minhash folds once per band (4x compute)."""
    sig = minhash_signature(docs, id_col, tokens_col, n_shingle, k, hash_fn)
    r = k // bands
    structs = ", ".join(
        "named_struct('band', {b}, 'bucket', md5(concat_ws(',', {cols})))".format(
            b=b, cols=", ".join(f"mh_{b * r + i}" for i in range(r))
        )
        for b in range(bands)
    )
    return sig.select(
        F.col(id_col), F.expr(f"explode(array({structs}))").alias("bb")
    ).select(id_col, F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket"))


def lsh_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    n_shingle: int = 3,
    k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
    hash_fn: str = "portable",
    max_bucket: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b) candidate near-dup pairs: same bucket in >= 1 band.

    One shuffle total: groupBy(band, bucket) -> sorted member set -> in-place
    pair expansion (x < y within the sorted array) -> distinct.  The round-1
    bucket SELF-join recomputed the whole signature pipeline on both sides;
    this shape computes signatures exactly once and never joins.

    `max_bucket` (optional) drops buckets with more members - a pathological
    all-identical bucket expands quadratically in one row, which no AQE split
    can save; at crawl scale such buckets mean exact duplicates better served
    by exact_dedup_groups, and dropping them only loses candidate RECALL."""
    grouped = _banded_groups(docs, id_col, tokens_col, n_shingle, k, bands, hash_fn)
    if max_bucket is not None:
        grouped = grouped.filter(F.size("ids") <= max_bucket)
    return _pairs_from_groups(grouped)


def _banded_groups(
    docs, id_col, tokens_col, n_shingle, k, bands, hash_fn
) -> DataFrame:
    """(band, bucket, ids): sorted member set per LSH bucket."""
    b = minhash_bands(docs, id_col, tokens_col, n_shingle, k, bands, hash_fn)
    return b.groupBy("band", "bucket").agg(
        F.expr(f"array_sort(collect_set({id_col}))").alias("ids")
    )


def _pairs_from_groups(grouped: DataFrame) -> DataFrame:
    """In-array pair expansion of bucket member sets -> distinct pairs."""
    pairs = grouped.filter(F.size("ids") >= 2).select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) -> "
                "transform(slice(ids, i + 2, size(ids)), "
                "y -> named_struct('doc_a', x, 'doc_b', y))))"
            )
        ).alias("p")
    )
    return pairs.select(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b")).distinct()


def lsh_candidate_pairs_with_drop_count(
    docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    n_shingle: int = 3,
    k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
    hash_fn: str = "portable",
    max_bucket: int = 64,
) -> tuple[DataFrame, DataFrame]:
    """(pairs, dropped): candidate pairs with `max_bucket` ENFORCED, plus a
    ONE-ROW DataFrame (n_dropped_buckets) counting the buckets the cap
    removed.  'No silent caps' cuts both ways: an UNBOUNDED bucket join is a
    quadratic time bomb at crawl scale, and a bound that drops data without
    a ledger is a silent recall hole - composed pipelines use this variant
    so the drop count rides along in their metrics (0 on healthy corpora;
    nonzero means an all-identical cluster that exact dedup should have
    eaten first)."""
    grouped = _banded_groups(docs, id_col, tokens_col, n_shingle, k, bands, hash_fn)
    dropped = grouped.filter(F.size("ids") > max_bucket).agg(
        F.count("*").cast("long").alias("n_dropped_buckets")
    )
    pairs = _pairs_from_groups(
        grouped.filter(F.size("ids") <= max_bucket)
    )
    return pairs, dropped


def jaccard_verified_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    n_shingle: int = 3,
    threshold: float = 0.5,
    k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
    hash_fn: str = "portable",
) -> DataFrame:
    """LSH candidates verified with EXACT shingle-set Jaccard >= threshold.
    The expensive set comparison runs only on candidate pairs."""
    cand = lsh_candidate_pairs(docs, id_col, tokens_col, n_shingle, k, bands, hash_fn)
    sh = docs.select(
        F.col(id_col), F.expr(shingles_expr(tokens_col, n_shingle)).alias("sh")
    )
    out = (
        cand.join(sh.withColumnRenamed(id_col, "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed(id_col, "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                "round(cast(size(array_intersect(sh_a, sh_b)) AS double) "
                "/ greatest(size(array_union(sh_a, sh_b)), 1), 4)"
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out


def duplicate_clusters(
    pairs: DataFrame, max_iters: int = 50, driver_threshold: int = 1_000_000
) -> DataFrame:
    """(doc_id, cluster_id): connected components over near-dup candidate
    pairs; cluster_id = the smallest doc_id in the component (the survivor a
    keep-one-per-cluster dedup retains).

    Small edge sets (<= driver_threshold, known exactly from the persisted
    count) collect to a driver union-find - iterative Spark rounds cost ~2s
    of fixed job latency EACH, which dwarfs a tiny graph.  Larger graphs run
    iterative min-label propagation with ADAPTIVE POINTER JUMPING: the first
    two rounds are plain min-over-neighbor-labels (near-dup components are
    clique-ish, diameter ~1-2, so these graphs converge here with no extra
    joins - the jump join was pure overhead on them, measured 3x on the
    round-3 bench); from round 3 on, each round additionally replaces every
    label by the label OF its label (label values are node ids, so this is
    one self-join) - pointer jumping halves the remaining distance to the
    component minimum, so convergence on pathological long-chain graphs is
    still O(log diameter) rounds and max_iters=50 covers any graph that fits
    in storage.  Each round is one or two shuffle joins + one min-aggregate,
    with `localCheckpoint` per round to cut lineage growth (plan-string OOM
    after ~30 iterative rounds otherwise - measured).  Termination is an
    exact count of changed labels; exhausting max_iters unconverged RAISES
    instead of silently returning split clusters (the documented contract is
    cluster_id = min doc_id in the component)."""
    # both edge orientations come from ONE evaluation of the (possibly
    # expensive - e.g. the whole LSH pipeline) `pairs` plan: Catalyst does
    # not CSE across union branches, so the previous
    # select(a,b).unionByName(select(b,a)) ran the upstream plan twice
    edges = (
        pairs.select(
            F.explode(
                F.expr(
                    "array(struct(doc_a AS src, doc_b AS dst), "
                    "struct(doc_b AS src, doc_a AS dst))"
                )
            ).alias("e")
        )
        .select("e.src", "e.dst")
        .distinct()
        .persist()
    )
    if edges.count() <= driver_threshold:
        rows = edges.collect()
        edges.unpersist()
        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in rows:
            ra, rb = find(r["src"]), find(r["dst"])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        out = [(n, find(n)) for n in parent]
        spark = pairs.sparkSession
        return spark.createDataFrame(
            out, schema=pairs.select(F.col("doc_a").alias("doc_id"),
                                     F.col("doc_a").alias("cluster_id")).schema
        )
    labels = edges.select("src").distinct().select(
        F.col("src").alias("id"), F.col("src").alias("label")
    )
    labels = labels.localCheckpoint(eager=True)
    changed = -1
    for round_idx in range(max_iters):
        neigh = (
            edges.join(labels, edges["dst"] == labels["id"])
            .select(F.col("src").alias("id"), "label")
        )
        propagated = (
            labels.unionByName(neigh)
            .groupBy("id")
            .agg(F.min("label").alias("label"))
        )
        if round_idx >= 2:
            # Not converged after two plain rounds -> a long-chain component
            # exists; add pointer jumping: label <- label(label).  Every
            # label value is a node id present in `propagated` (labels start
            # as ids and min() only moves between them), so the inner join
            # is total.
            lut = propagated.select(
                F.col("id").alias("_lid"), F.col("label").alias("_llabel")
            )
            propagated = (
                propagated.join(lut, propagated["label"] == lut["_lid"])
                .select("id", F.col("_llabel").alias("label"))
            )
        new_labels = propagated.localCheckpoint(eager=True)
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    edges.unpersist()
    if changed != 0:
        raise RuntimeError(
            f"duplicate_clusters: min-label propagation did not converge in "
            f"{max_iters} rounds ({changed} labels still changing) - result "
            f"would split components; raise max_iters"
        )
    return labels.select(F.col("id").alias("doc_id"), F.col("label").alias("cluster_id"))


def simhash16(
    docs: DataFrame, id_col: str = "doc_id", tokens_col: str = "tokens"
) -> DataFrame:
    """(doc_id, simhash): 16-bit SimHash - bit b set iff the majority of token
    hashes have bit b set (strict majority; tie -> 0)."""
    hs = f"transform({tokens_col}, x -> {h60('x')})"
    bit_terms = " + ".join(
        f"IF(2 * size(filter(hs, h -> (shiftright(h, {b}) & 1) = 1)) > size(hs), {1 << b}, 0)"
        for b in range(16)
    )
    return docs.select(
        F.col(id_col), F.expr(hs).alias("hs")
    ).select(F.col(id_col), F.expr(f"cast({bit_terms} AS bigint)").alias("simhash"))


def snapshot_versions(
    snaps: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    content_col: str = "content",
) -> DataFrame:
    """(url, ts, fp, version_idx, changed, is_latest): recrawl history per
    url - the CDX-style temporal dedup every multi-crawl corpus needs
    (store one copy per CHANGED snapshot, serve the latest).

      version_idx  0-based position in the url's snapshot order (ts asc);
      changed      first snapshot, or fingerprint differs from the
                   PREVIOUS snapshot (a revert to an older version counts
                   as changed - byte-identity to the immediate predecessor
                   is what dedups storage);
      is_latest    the url's newest snapshot.

    One url-keyed window: urls are uniform keys and per-url snapshot counts
    are bounded by recrawl frequency, so the partitionBy window is
    scale-safe (unlike a global order)."""
    from pyspark.sql import Window

    w = Window.partitionBy(url_col).orderBy(ts_col)
    wd = Window.partitionBy(url_col).orderBy(F.desc(ts_col))
    return (
        snaps.select(
            F.col(url_col), F.col(ts_col), F.md5(content_col).alias("fp")
        )
        .withColumn("version_idx", F.row_number().over(w) - 1)
        .withColumn(
            "changed",
            F.coalesce(
                F.col("fp") != F.lag("fp").over(w), F.lit(True)
            ),
        )
        .withColumn("is_latest", F.row_number().over(wd) == 1)
    )


def exact_substring_pairs(
    docs: DataFrame,
    span: int = 20,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    max_bucket: int | None = None,
) -> DataFrame:
    """(doc_a, doc_b, n_shared_spans): document pairs sharing at least one
    EXACT `span`-token substring, with the count of distinct shared spans -
    the deduplicating-training-data criterion of Lee et al. 2022 (50-token
    exact match; The Pile / PaLM pipelines), complementing MinHash's
    whole-document similarity with span-level exactness.

    Plan: distinct per-doc span HASHES (xxhash64 of the joined span - 64-bit
    collision risk documented, the standard trade at corpus scale) ->
    groupBy(span) collect_set - the same bucket-expansion shape as
    lsh_candidate_pairs (never a self-join) -> per-pair span count.
    `max_bucket` drops spans shared by more docs (quadratic blowup guard;
    such spans are boilerplate better handled by the phrase miner)."""
    sh = shingles_expr(tokens_col, span)
    spans = docs.select(
        F.col(id_col),
        F.explode(F.expr(f"transform({sh}, s -> xxhash64(s))")).alias("h"),
    )
    grouped = spans.groupBy("h").agg(
        F.expr(f"array_sort(collect_set({id_col}))").alias("ids")
    )
    if max_bucket is not None:
        grouped = grouped.filter(F.size("ids") <= max_bucket)
    pairs = grouped.filter(F.size("ids") >= 2).select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) -> "
                "transform(slice(ids, i + 2, size(ids)), "
                "y -> named_struct('doc_a', x, 'doc_b', y))))"
            )
        ).alias("p")
    )
    return (
        pairs.select(
            F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b")
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_shared_spans"))
    )


def _dup_window_occurrences(
    docs: DataFrame,
    span: int,
    id_col: str,
    tokens_col: str,
    min_docs: int,
    max_bucket: int | None,
    drop_canonical: bool,
) -> DataFrame:
    """(id, pos) of every `span`-token window whose exact text also occurs
    in >= min_docs distinct documents.  drop_canonical additionally removes
    the globally-first occurrence (min (id, pos)) of each window - the
    deterministic keep-one rule substring_dedup_docs builds on.

    One shuffle: windows hash-grouped (xxhash64 of the joined span - same
    64-bit trade as exact_substring_pairs; the grouped VALUES are (id, pos)
    pairs, so a collision can only over-mark, never corrupt positions) with
    the occurrence list collected per bucket and re-exploded - the
    lsh_candidate_pairs bucket shape, never a corpus self-join.  max_bucket
    drops windows with more total occurrences (boilerplate spans belong to
    the phrase miner, and unbounded buckets are the quadratic risk)."""
    from boilerplate_buster_spark.functions.ngrams import explode_ngrams

    occ = explode_ngrams(docs, span, id_col, tokens_col).select(
        F.xxhash64("gram").alias("_h"),
        F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p")).alias("o"),
    )
    grouped = occ.groupBy("_h").agg(
        F.sort_array(F.collect_list("o")).alias("occs")
    )
    grouped = grouped.filter(
        F.expr("size(array_distinct(transform(occs, o -> o.d)))") >= min_docs
    )
    if max_bucket is not None:
        grouped = grouped.filter(F.size("occs") <= max_bucket)
    sel = "slice(occs, 2, size(occs) - 1)" if drop_canonical else "occs"
    return grouped.select(F.explode(F.expr(sel)).alias("o")).select(
        F.col("o.d").alias(id_col), F.col("o.p").alias("pos")
    )


def _merge_windows_to_spans(
    hits: DataFrame, span: int, id_col: str
) -> DataFrame:
    """Merge overlapping/adjacent duplicated windows [pos, pos+span) into
    maximal token spans per document (gaps-and-islands over a running max
    of window ends).  One shuffle on the document id; islands are strictly
    per-document so no skew beyond document length."""
    from pyspark.sql.window import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    run_end = F.max(F.col("pos") + F.lit(span)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = hits.withColumn(
        "_new",
        F.when(run_end.isNull() | (F.col("pos") > run_end), 1).otherwise(0),
    ).withColumn(
        "_island", F.sum("_new").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return flagged.groupBy(id_col, "_island").agg(
        F.min("pos").alias("span_start"),
        (F.max("pos") + F.lit(span)).alias("span_end"),
        F.count("*").alias("n_windows"),
    ).drop("_island")


def substring_dup_spans(
    docs: DataFrame,
    span: int = 20,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    min_docs: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """(id, span_start, span_end, n_windows): maximal merged token spans of
    content whose every `span`-token window also occurs verbatim in at
    least `min_docs` distinct documents - the span-level view of the
    Lee et al. 2022 exact-substring duplication criterion (the doc-pair
    view is exact_substring_pairs; reference analog: the high-df phrase
    spans bloom_gram_miner.cpp mines, generalized to arbitrary length).

    span_end is exclusive; spans never overlap within a document."""
    hits = _dup_window_occurrences(
        docs, span, id_col, tokens_col, min_docs, max_bucket,
        drop_canonical=False,
    )
    return _merge_windows_to_spans(hits, span, id_col)


def substring_dedup_docs(
    docs: DataFrame,
    span: int = 20,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    min_docs: int = 2,
    max_bucket: int | None = None,
) -> DataFrame:
    """Exact substring-level deduplication (Lee et al. 2022, the Pile/PaLM
    recipe): every `span`-token window duplicated across >= min_docs
    documents is removed EXCEPT its globally-first occurrence
    (min (id, pos) - deterministic, order-free), removal windows are merged
    to maximal spans per doc, and covered tokens are cut.

    Returns (id, clean_text, n_tokens, n_removed).  Note the usual span-
    union semantics: a canonical window can still lose tokens when an
    overlapping NON-canonical window of a different duplicated span covers
    them - same property as the original suffix-array formulation.

    Scale: one bucket shuffle (window hash), one per-doc window shuffle,
    one broadcast-sized join of removal spans back onto the corpus (spans
    per doc are few); token cutting is a pure Catalyst array expression."""
    rem = _merge_windows_to_spans(
        _dup_window_occurrences(
            docs, span, id_col, tokens_col, min_docs, max_bucket,
            drop_canonical=True,
        ),
        span,
        id_col,
    )
    per_doc = rem.groupBy(id_col).agg(
        F.collect_list(F.struct("span_start", "span_end")).alias("_spans")
    )
    joined = docs.join(per_doc, id_col, "left")
    kept = (
        f"filter(transform({tokens_col}, (tk, i) -> struct(tk AS tk, i AS i)), "
        "s -> _spans IS NULL OR NOT exists(_spans, "
        "sp -> s.i >= sp.span_start AND s.i < sp.span_end))"
    )
    return joined.select(
        F.col(id_col),
        F.expr(f"array_join(transform({kept}, x -> x.tk), ' ')").alias(
            "clean_text"
        ),
        F.size(tokens_col).alias("n_tokens"),
        (F.size(tokens_col) - F.expr(f"size({kept})")).alias("n_removed"),
    )


def fuzzy_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "title",
    max_dist: int = 1,
) -> DataFrame:
    """(id_a, id_b, dist): all pairs of rows whose ``text_col`` strings
    are within Levenshtein distance ``max_dist`` (currently 1) - the
    record-linkage / near-identical-title join.

    COMPLETE blocking via deletion neighborhoods (SymSpell): every string
    emits itself plus each single-character deletion; two strings within
    edit distance 1 always share a variant (substitution -> both delete
    the differing position; insertion/deletion -> the longer string's
    deletion equals the shorter string; equality -> the strings
    themselves).  Candidates meet in a variant-keyed join - never an
    all-pairs product - and an exact levenshtein() verify removes the
    false positives (distance-2 strings can share a variant).  The
    contract oracle brute-forces the cross join, so equality PROVES the
    blocking complete on real data.  Per-row fan-out is length+1
    variants: linear in corpus characters, one shuffle on the variant
    key (same shape as LSH banding).

    Hot-bucket assumption: all rows that share a variant are collected
    into ONE array row and expanded to pairs in that row, so a variant
    held by m rows costs one task O(m^2) pairs and the whole m-member
    array (thousands of identical titles make one such bucket).  There is
    no bucket cap and no drop ledger (unlike `prefix_jaccard_pairs` and
    `lsh_candidate_pairs_with_drop_count`): the result stays complete, and
    inputs are assumed to hold no variant shared by more rows than one
    task can pair."""
    if max_dist != 1:
        raise ValueError("deletion-neighborhood blocking implemented for k=1")
    t = text_col
    variants = (
        f"array_distinct(transform(sequence(0, length({t})), i -> "
        f"IF(i = 0, {t}, concat(substring({t}, 1, i - 1), "
        f"substring({t}, i + 1, length({t}))))))"
    )
    v = df.select(
        F.col(id_col).alias("_id"),
        F.col(t).alias("_t"),
        F.explode(F.expr(variants)).alias("_v"),
    )
    # candidates meet inside one variant-keyed aggregate + in-array pair
    # expansion (the lsh_candidate_pairs shape): the previous variant
    # SELF-join evaluated the exploded-variants plan twice (no CSE across
    # join branches) and shuffled both sides
    grouped = v.groupBy("_v").agg(
        F.expr("array_sort(collect_list(struct(_id, _t)))").alias("ms")
    )
    cands = (
        grouped.filter(F.size("ms") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ms, (x, i) -> "
                    "transform(slice(ms, i + 2, size(ms)), y -> "
                    "named_struct('id_a', x._id, 'id_b', y._id, "
                    "'_ta', x._t, '_tb', y._t))))"
                )
            ).alias("c")
        )
        # members sort by (_id, _t), so pair order gives id_a <= id_b;
        # the strict filter preserves the old join's a._id < b._id
        # exclusion of equal-id pairs (duplicate input ids)
        .filter(F.col("c.id_a") != F.col("c.id_b"))
        .select("c.id_a", "c.id_b", "c._ta", "c._tb")
        .distinct()
    )
    return (
        cands.withColumn("dist", F.levenshtein("_ta", "_tb").cast("long"))
        .filter(F.col("dist") <= max_dist)
        .select("id_a", "id_b", "dist")
    )


def lsh_recall_eval(
    docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    n_shingle: int = 3,
    threshold_e6: int = 800000,
    k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
    hash_fn: str = "portable",
) -> DataFrame:
    """ONE ROW: (n_true, n_candidates, n_true_candidates, recall_e6,
    precision_e6) - certification harness for the banding parameters.
    Ground truth = EXACT all-pairs shingle Jaccard with an integer
    cross-multiplied threshold (inter * 1e6 >= union * threshold_e6 - no
    float rounding at the boundary); recall = the fraction of true pairs
    the LSH blocking surfaces, precision = the fraction of candidates
    that are truly above threshold.

    EVALUATION operator: the truth join is O(n^2) BY DESIGN.  Run it on a
    bounded calibration sample (thousands of docs), never the corpus -
    the point is to measure what recall the (k, bands) choice buys
    BEFORE committing a 100-TB dedup run to it."""
    sh = docs.select(
        F.col(id_col).alias("id"),
        F.expr(shingles_expr(tokens_col, n_shingle)).alias("sh"),
    ).filter(F.size("sh") >= 1)
    a = sh.select(F.col("id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("doc_b"), F.col("sh").alias("sh_b"))
    truth = (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .filter(
            F.expr(
                f"size(array_intersect(sh_a, sh_b)) * 1000000 "
                f">= size(array_union(sh_a, sh_b)) * {int(threshold_e6)}"
            )
        )
        .select("doc_a", "doc_b")
    )
    cand = lsh_candidate_pairs(docs, id_col, tokens_col, n_shingle, k, bands, hash_fn)
    hit = truth.join(
        cand.withColumn("_c", F.lit(1)), ["doc_a", "doc_b"], "left"
    ).agg(
        F.count("*").alias("n_true"),
        # SUM over zero rows is NULL; coalesce the AGGREGATE (not just the
        # per-row term) so an empty truth set yields 0 like the SQL oracle.
        F.coalesce(
            F.sum(F.coalesce("_c", F.lit(0))), F.lit(0)
        ).alias("n_true_candidates"),
    )
    n_cand = cand.agg(F.count("*").alias("n_candidates"))
    return hit.crossJoin(n_cand).select(
        F.col("n_true").cast("long"),
        F.col("n_candidates").cast("long"),
        F.col("n_true_candidates").cast("long"),
        F.expr("n_true_candidates * 1000000 div greatest(n_true, 1)")
        .cast("long").alias("recall_e6"),
        F.expr("n_true_candidates * 1000000 div greatest(n_candidates, 1)")
        .cast("long").alias("precision_e6"),
    )


# The certified production operating point for threshold-0.5 near-dup
# blocking, chosen from the lsh_tuning_eval sweep (see tests and the
# lsh_tuning oracle query): k=24 minhashes in 12 bands of r=2.  The
# match probability 1-(1-s^2)^12 is >=0.968 at s=0.5 pointwise, and the
# measured recall on the calibration corpus is >=0.9 with full precision
# retained by the exact-Jaccard verify stage that always follows.
PRODUCTION_K = 24
PRODUCTION_BANDS = 12


def lsh_tuning_eval(
    docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    n_shingle: int = 3,
    configs: tuple[tuple[int, int], ...] = (
        (12, 2), (12, 4), (12, 6), (24, 8), (24, 12),
    ),
    thresholds_e6: tuple[int, ...] = (500000, 800000),
    hash_fn: str = "portable",
) -> DataFrame:
    """(k, bands, threshold_e6, n_true, n_candidates, n_true_candidates,
    recall_e6, precision_e6): the (k, bands) OPERATING-POINT SWEEP - one
    row per (config, truth threshold), so choosing banding parameters for
    a dedup run is a table lookup instead of a guess.

    The signature is computed ONCE at max(k): minhash coordinate j is
    H(shingle || '#j') regardless of k, so a k=12 config reads mh_0..mh_11
    of the k=24 signature and gets exactly the k=12 signature.  Every
    config's band buckets come out of a single explode projection and one
    groupBy - the sweep costs one shuffle, not one per config.

    EVALUATION operator (like lsh_recall_eval): the exact truth join is
    O(n^2) BY DESIGN, run it on a bounded calibration sample only.  The
    certified default for production near-dup blocking at threshold 0.5
    is (PRODUCTION_K, PRODUCTION_BANDS) = (24, 12)."""
    spark = docs.sparkSession
    k_max = max(k for k, _ in configs)
    for ck, cb in configs:
        if ck % cb != 0:
            raise ValueError(f"bands {cb} must divide k {ck}")
    sig = minhash_signature(docs, id_col, tokens_col, n_shingle, k_max, hash_fn)
    structs = []
    for ck, cb in configs:
        r = ck // cb
        for b in range(cb):
            cols = ", ".join(f"mh_{b * r + i}" for i in range(r))
            structs.append(
                f"named_struct('k', {ck}, 'bands', {cb}, 'band', {b}, "
                f"'bucket', md5(concat_ws(',', {cols})))"
            )
    bb = sig.select(
        F.col(id_col), F.expr(f"explode(array({', '.join(structs)}))").alias("bb")
    ).select(
        id_col,
        F.col("bb.k").alias("k"),
        F.col("bb.bands").alias("bands"),
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )
    grouped = bb.groupBy("k", "bands", "band", "bucket").agg(
        F.expr(f"array_sort(collect_set({id_col}))").alias("ids")
    )
    pairs = (
        grouped.filter(F.size("ids") >= 2)
        .select(
            "k",
            "bands",
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), "
                    "y -> named_struct('doc_a', x, 'doc_b', y))))"
                )
            ).alias("p"),
        )
        .select(
            "k", "bands",
            F.col("p.doc_a").alias("doc_a"),
            F.col("p.doc_b").alias("doc_b"),
        )
        .distinct()
    )
    n_cand = pairs.groupBy("k", "bands").agg(
        F.count("*").alias("n_candidates")
    )
    min_t = min(int(t) for t in thresholds_e6)
    sh = docs.select(
        F.col(id_col).alias("id"),
        F.expr(shingles_expr(tokens_col, n_shingle)).alias("sh"),
    ).filter(F.size("sh") >= 1)
    a = sh.select(F.col("id").alias("doc_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("doc_b"), F.col("sh").alias("sh_b"))
    truth = (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                "size(array_intersect(sh_a, sh_b)) * 1000000 "
                "div greatest(size(array_union(sh_a, sh_b)), 1)"
            ).cast("long").alias("jac_e6"),
        )
        .filter(F.col("jac_e6") >= min_t)
    )
    cfg = spark.createDataFrame(
        [(int(ck), int(cb)) for ck, cb in configs], "k int, bands int"
    )
    th = spark.createDataFrame(
        [(int(t),) for t in thresholds_e6], "threshold_e6 long"
    )
    hit = (
        truth.crossJoin(F.broadcast(cfg))
        .join(pairs.withColumn("_c", F.lit(1)), ["k", "bands", "doc_a", "doc_b"], "left")
        .crossJoin(F.broadcast(th))
        .filter(F.col("jac_e6") >= F.col("threshold_e6"))
        .groupBy("k", "bands", "threshold_e6")
        .agg(
            F.count("*").alias("n_true"),
            F.coalesce(
                F.sum(F.coalesce("_c", F.lit(0))), F.lit(0)
            ).alias("n_true_candidates"),
        )
    )
    grid = cfg.crossJoin(th)
    return (
        grid.join(hit, ["k", "bands", "threshold_e6"], "left")
        .join(n_cand, ["k", "bands"], "left")
        .select(
            F.col("k").cast("long"),
            F.col("bands").cast("long"),
            F.col("threshold_e6").cast("long"),
            F.coalesce("n_true", F.lit(0)).cast("long").alias("n_true"),
            F.coalesce("n_candidates", F.lit(0)).cast("long").alias("n_candidates"),
            F.coalesce("n_true_candidates", F.lit(0)).cast("long")
            .alias("n_true_candidates"),
            F.expr(
                "coalesce(n_true_candidates, 0) * 1000000 "
                "div greatest(coalesce(n_true, 0), 1)"
            ).cast("long").alias("recall_e6"),
            F.expr(
                "coalesce(n_true_candidates, 0) * 1000000 "
                "div greatest(coalesce(n_candidates, 0), 1)"
            ).cast("long").alias("precision_e6"),
        )
    )


def snapshot_diffs(
    snaps: DataFrame,
    url_col: str = "url",
    ts_col: str = "ts",
    content_col: str = "content",
) -> DataFrame:
    """(url, ts, n_tokens, n_added, n_removed, jaccard_e6): token-set
    change measurement between each snapshot and its IMMEDIATE
    predecessor of the same url - the incremental-crawl companion to
    snapshot_versions (that one answers "did it change at all",
    byte-level; this one answers "how much", token-level, which is what
    recrawl schedulers and freshness models consume).  First snapshots
    have no predecessor and are excluded.  jaccard_e6 is the exact
    integer distinct-token Jaccard (intersect*1e6 div union).

    One shuffle on the url key (the lag window); token sets are computed
    inside the same projection, so the comparison never re-joins."""
    from pyspark.sql import Window

    w = Window.partitionBy(url_col).orderBy(ts_col)
    t = (
        snaps.select(
            F.col(url_col),
            F.col(ts_col),
            F.expr(
                f"array_distinct(filter(split({content_col}, ' '), x -> x != ''))"
            ).alias("cur"),
        )
        .withColumn("prev", F.lag("cur").over(w))
        .filter(F.col("prev").isNotNull())
    )
    return t.select(
        url_col,
        ts_col,
        F.size("cur").cast("long").alias("n_tokens"),
        F.expr("size(array_except(cur, prev))").cast("long").alias("n_added"),
        F.expr("size(array_except(prev, cur))").cast("long").alias("n_removed"),
        F.expr(
            "size(array_intersect(cur, prev)) * 1000000 "
            "div greatest(size(array_union(cur, prev)), 1)"
        ).cast("long").alias("jaccard_e6"),
    )


def containment_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    n_shingle: int = 3,
    min_containment_e6: int = 900000,
    k: int = DEFAULT_K,
    bands: int = DEFAULT_BANDS,
    hash_fn: str = "portable",
) -> DataFrame:
    """(doc_a, doc_b, cont_a_e6, cont_b_e6): CONTAINMENT-verified near-dup
    pairs - cont_a_e6 = |A n B| * 1e6 div |A| (how much of A lives inside
    B), kept when EITHER direction clears the threshold.  This is the
    quote/subset detector Jaccard structurally misses: a 60%-prefix
    excerpt of a long page has Jaccard ~0.6 (below any dedup threshold)
    but containment ~1.0.  Exact integer cross-multiplied comparison.

    Same scale shape as jaccard_verified_pairs: the expensive set math
    runs ONLY on LSH candidates (note banding recall is Jaccard-tuned -
    heavily asymmetric pairs may not band together; pair this with
    exact-substring dedup for the adversarial tail, as Lee et al. do)."""
    cand = lsh_candidate_pairs(docs, id_col, tokens_col, n_shingle, k, bands, hash_fn)
    sh = docs.select(
        F.col(id_col), F.expr(shingles_expr(tokens_col, n_shingle)).alias("sh")
    )
    t = int(min_containment_e6)
    return (
        cand.join(sh.withColumnRenamed(id_col, "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
        .join(sh.withColumnRenamed(id_col, "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                "size(array_intersect(sh_a, sh_b)) * 1000000"
                " div greatest(size(sh_a), 1)"
            ).cast("long").alias("cont_a_e6"),
            F.expr(
                "size(array_intersect(sh_a, sh_b)) * 1000000"
                " div greatest(size(sh_b), 1)"
            ).cast("long").alias("cont_b_e6"),
        )
        .filter((F.col("cont_a_e6") >= t) | (F.col("cont_b_e6") >= t))
    )


def quality_survivors(
    docs_scores: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
    score_col: str = "quality_e6",
) -> DataFrame:
    """(id, cluster_id, score, is_survivor): keep-BEST-per-cluster
    survivor selection - the FineWeb-style refinement of min-id survival
    (min-id keeps an ARBITRARY member; this keeps the highest-`score_col`
    member, ties to the smallest id, so dedup stops throwing away the
    best copy of duplicated content).  `docs_scores` covers ALL docs;
    docs absent from `clusters` are singleton survivors.

    One left join on the id key + a rank window over CLUSTER-sized
    partitions (bounded by duplicate-group size, never corpus-sized)."""
    from pyspark.sql import Window

    j = docs_scores.join(clusters, id_col, "left").withColumn(
        "cluster_id", F.coalesce("cluster_id", F.col(id_col))
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col(score_col).desc(), F.col(id_col)
    )
    return j.select(
        id_col,
        "cluster_id",
        F.col(score_col).cast("long").alias(score_col),
        (F.row_number().over(w) == 1).alias("is_survivor"),
    )


def prefix_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.7,
    id_col: str = "doc_id",
    tokens_col: str = "tokens",
    max_bucket: int | None = None,
) -> DataFrame:
    """EXACT token-set similarity join via prefix filtering (the
    AllPairs/SSJoin principle; Bayardo et al. WWW'07, Chaudhuri et al.
    ICDE'06): (doc_a, doc_b, jaccard) for every pair with set-Jaccard >=
    threshold, recall 1.0 by construction - the exact complement of the
    probabilistic MinHash-LSH path.

    Prefix principle: order every set by a GLOBAL rank (ascending document
    frequency, i.e. rarest first, ties by token); a pair with J >= t must
    share a token within each set's first |s| - ceil(t*|s|) + 1 tokens
    (if a's prefix missed the min-ranked shared token, a would carry more
    than (1-t)*|a| unshared tokens - contradiction with J >= t).  So
    bucketing on prefix tokens alone finds every qualifying pair, and
    rare-token buckets stay small.

    Plan: one df aggregate (vocab-sized) + rank join, one per-doc
    sort/collect, one prefix-token bucket shuffle (the
    lsh_candidate_pairs expansion shape, never an all-pairs join), then
    exact verification on candidate pairs only.  max_bucket caps
    stop-word-like prefix tokens (with rarest-first ordering such tokens
    only enter prefixes of very large sets).

    CAVEAT: passing max_bucket VOIDS the recall-1.0 guarantee - a pair
    whose only shared prefix token sits in an over-cap bucket is silently
    dropped (the exactness claim above holds only for max_bucket=None,
    the default; callers needing a bounded-but-ledgered variant should
    mirror lsh_candidate_pairs_with_drop_count)."""
    sets = docs.select(
        F.col(id_col), F.array_sort(F.array_distinct(tokens_col)).alias("s")
    ).filter(F.size("s") > 0)
    tok_df = (
        sets.select(F.explode("s").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("df"))
    )
    ordered = (
        sets.select(F.col(id_col), F.size("s").alias("n"), F.explode("s").alias("tok"))
        .join(tok_df, "tok")
        .groupBy(id_col, "n")
        .agg(
            F.expr("transform(array_sort(collect_list(struct(df, tok))), x -> x.tok)").alias("o")
        )
    )
    t = float(threshold)
    prefix = ordered.select(
        F.col(id_col),
        F.expr(f"slice(o, 1, size(o) - CAST(ceil({t} * size(o)) AS INT) + 1)").alias("p"),
    ).select(F.col(id_col), F.explode("p").alias("tok"))
    grouped = prefix.groupBy("tok").agg(
        F.expr(f"array_sort(collect_set({id_col}))").alias("ids")
    )
    if max_bucket is not None:
        grouped = grouped.filter(F.size("ids") <= max_bucket)
    cand = (
        grouped.filter(F.size("ids") >= 2)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) -> "
                    "transform(slice(ids, i + 2, size(ids)), "
                    "y -> named_struct('doc_a', x, 'doc_b', y))))"
                )
            ).alias("c")
        )
        .select(F.col("c.doc_a").alias("doc_a"), F.col("c.doc_b").alias("doc_b"))
        .distinct()
    )
    sa = sets.select(F.col(id_col).alias("doc_a"), F.col("s").alias("sa"))
    sb = sets.select(F.col(id_col).alias("doc_b"), F.col("s").alias("sb"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.expr(
                "cast(size(array_intersect(sa, sb)) AS double) "
                "/ greatest(size(array_union(sa, sb)), 1)"
            ).alias("_j"),
        )
        # filter on the UNROUNDED ratio: the prefix lemma guarantees
        # recall only for true J >= t - a rounded comparison would admit
        # pairs (true J in [t - 5e-5, t)) that candidate generation is
        # allowed to miss; round for display only
        .filter(F.col("_j") >= t)
        .select("doc_a", "doc_b", F.round("_j", 4).alias("jaccard"))
    )
