"""Two-pass main-content extraction over Common-Crawl-style pages
(the north-rule pipeline; BASELINE.json north_star).

  pass 1 (corpus-global):  pages -> text representation -> tokenize ->
                           BloomSpan mining -> boilerplate phrase table
  pass 2 (per-page map):   broadcast phrase index -> Arrow-batched strip ->
                           (url, extracted_text, removed_spans)

One strip function, `_strip_batches` (parse html when non-null, else take
`text`, then strip), serves `strip_pass`, `strip_text_pass`,
`extract_main_content` and streaming's `stream_strip`.  A fresh pipeline
run parses html once: `_parse_and_mine` persists the parsed `text_repr` (a
string column - cache-friendly, unlike token arrays) and mines it, and
pass 2 strips from that same frame.  `with_text_repr` is one projection
over the pages, so the parse runs one Python task per input partition.

Scale notes:
  * Pass 2 is a pure map - NO shuffle; parallelism is input-partition bound.
    `repartition_by_url` adds an explicit repartition(xxhash64(url)) when the
    source partitioning is skewed (north rule), otherwise the scan
    partitioning is reused untouched.
  * The phrase table is corpus-statistics-bounded (templates, not rows) and is
    broadcast once per executor; the strip kernel is the numpy-vectorized
    batch matcher (core/extract_vec.py) inside mapInPandas Arrow batches -
    rolling-hash window matching, no per-row per-phrase Python loops.  The
    pure-Python kernel (core/extract.py) remains the golden oracle.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from boilerplate_buster_spark.core.extract import index_phrases
from boilerplate_buster_spark.core.extract_vec import strip_batch
from boilerplate_buster_spark.core.htmlparse import html_to_text
from boilerplate_buster_spark.functions.tokenizer import tokens
from boilerplate_buster_spark.operators import bloomspan

EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("extracted_text", T.StringType(), False),
        T.StructField(
            "removed_spans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("start", T.IntegerType(), False),
                        T.StructField("end", T.IntegerType(), False),
                        T.StructField("phrase", T.StringType(), False),
                    ]
                )
            ),
            False,
        ),
    ]
)


def with_text_repr(pages: DataFrame) -> DataFrame:
    """pages + text_repr: parsed html blocks, else the `text` column.

    One projection, `coalesce(parse_html(html), text)`: the html parse is a
    pandas-UDF (Arrow batches) that maps a NULL html to NULL, so such a row
    takes `text`.  The frame keeps the input's partitions - a filtered
    union of an html branch and a text branch doubles them, and each extra
    Python task costs its fixed start-up time even with no rows.
    """

    @F.pandas_udf(T.StringType())
    def parse_html(html: pd.Series) -> pd.Series:
        return html.map(lambda b: html_to_text(b) if b is not None else None)

    return pages.withColumn(
        "text_repr", F.coalesce(parse_html(F.col("html")), F.col("text"))
    )


def _strip_batches(
    batches: Iterator[pd.DataFrame], by_len: dict
) -> Iterator[pd.DataFrame]:
    """The one strip body: (url, html, text) batches -> EXTRACTED_SCHEMA
    batches.  A page's text is its parsed html when html is non-null, else
    `text` ("" when both are NULL)."""
    for pdf in batches:
        texts = [
            html_to_text(h) if h is not None else (t or "")
            for h, t in zip(pdf["html"], pdf["text"])
        ]
        out_text, spans = strip_batch(texts, by_len)
        yield pd.DataFrame(
            {
                "url": pdf["url"],
                "extracted_text": out_text,
                "removed_spans": [
                    [{"start": s, "end": e, "phrase": p} for s, e, p in sp]
                    for sp in spans
                ],
            }
        )


def strip_pass(pages: DataFrame, phrases: list[str]) -> DataFrame:
    """Pass 2 from raw pages (url, html, text): parse + strip in one map;
    returns EXTRACTED_SCHEMA rows.  `phrases` rides the closure -> task
    broadcast; the by-length index is built once, on the driver."""
    by_len = index_phrases(phrases)
    return pages.select("url", "html", "text").mapInPandas(
        lambda batches: _strip_batches(batches, by_len), EXTRACTED_SCHEMA
    )


def strip_text_pass(
    df: DataFrame, phrases: list[str], text_col: str = "text_repr"
) -> DataFrame:
    """Pass 2 over an already-parsed text column: `strip_pass` with no
    html, so nothing parses again."""
    no_html = F.lit(None).cast(T.BinaryType()).alias("html")
    return strip_pass(df.select("url", no_html, F.col(text_col).alias("text")), phrases)


def _parse_and_mine(
    spark: SparkSession, pages: DataFrame, min_docs: int, ngrams: int,
    min_l: int | None, repartition_by_url: bool, **mine_kw,
) -> tuple[DataFrame, list[bloomspan.WCandidate]]:
    """Pass 1: parse every page once into a persisted (url, text_repr) frame
    and mine it -> (that frame, mined phrases).  The caller strips from the
    frame and unpersists it; a failed mine releases it here."""
    text_repr = with_text_repr(pages).select("url", "text_repr")
    if repartition_by_url:
        text_repr = text_repr.repartition(F.xxhash64("url"))
    # cache the STRING text representation; token ARRAYS are recomputed per
    # mine scan - array<string> columnar cache reads are far slower than
    # split()-on-scan (see bloomspan.mine note)
    text_repr = text_repr.persist(StorageLevel.MEMORY_AND_DISK)
    docs = text_repr.select(
        F.col("url").alias("doc_id"), tokens("text_repr").alias("tokens")
    )
    try:
        mined = bloomspan.mine(
            spark, docs, min_docs=min_docs, ngrams=ngrams, min_l=min_l, **mine_kw
        )
    except BaseException:
        text_repr.unpersist()
        raise
    return text_repr, mined


def extract_main_content(
    spark: SparkSession,
    pages: DataFrame,
    min_docs: int,
    ngrams: int = 4,
    min_l: int | None = None,
    repartition_by_url: bool = False,
    **mine_kw,
) -> tuple[DataFrame, list[str]]:
    """Full two-pass pipeline -> (extracted DataFrame, mined phrase list).

    HTML parses exactly once: the parsed text_repr persists (MEMORY_AND_DISK)
    through pass 1 mining AND the returned pass-2 strip plan.  The cache stays
    alive because the returned DataFrame is lazy; Spark evicts it under
    pressure, and callers may `.unpersist()` the input lineage after
    materializing."""
    text_repr, mined = _parse_and_mine(
        spark, pages, min_docs, ngrams, min_l, repartition_by_url, **mine_kw
    )
    phrases = [p.text for p in mined]
    return strip_text_pass(text_repr, phrases), phrases
