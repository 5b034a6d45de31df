"""Byte-identical extraction tests (the north-rule per-row invariant):
mined boilerplate stripped from synthetic Common-Crawl-style pages must equal
the injection-time golden text per url, through BOTH the html-parse path and
the text-fallback path."""

from __future__ import annotations

from boilerplate_buster_spark.core.extract import index_phrases, strip_boilerplate
from boilerplate_buster_spark.core.htmlparse import html_to_text
from boilerplate_buster_spark.operators.extraction import (
    extract_main_content,
    strip_pass,
    strip_text_pass,
    with_text_repr,
)
from boilerplate_buster_spark.sources import pages as pages_src

N_PAGES = 60
MIN_DOCS = 5


def test_generator_roundtrip_html_text():
    rows, _ = pages_src.generate_pages_local(N_PAGES)
    for r in rows:
        assert html_to_text(r["html"]) == r["text"], r["url"]


def test_strip_kernel_exact_spans():
    rows, golden = pages_src.generate_pages_local(N_PAGES)
    by_len = index_phrases(
        pages_src.TEMPLATES
        + [pages_src.SITE_TEMPLATE.format(s=s) for s in range(pages_src.N_SITES)]
    )
    for r in rows:
        want_text, want_spans = golden[r["url"]]
        got_text, got_spans = strip_boilerplate(r["text"], by_len)
        assert got_text == want_text, r["url"]
        assert [(s, e) for s, e, _ in got_spans] == [(s, e) for s, e, _ in want_spans]


def _check_extracted(ext_rows, golden):
    assert len(ext_rows) == len(golden)
    for r in ext_rows:
        want_text, want_spans = golden[r["url"]]
        assert r["extracted_text"] == want_text, r["url"]
        got = [(s["start"], s["end"]) for s in r["removed_spans"]]
        assert got == [(s, e) for s, e, _ in want_spans], r["url"]


def test_end_to_end_extraction_html_path(spark):
    rows, golden = pages_src.generate_pages_local(N_PAGES)
    pages = spark.createDataFrame(rows, schema=pages_src.PAGES_SCHEMA)
    ext, phrases = extract_main_content(spark, pages, min_docs=MIN_DOCS, ngrams=3)
    # the mined set is exactly the injected templates (per-site footers incl.)
    want = set(pages_src.TEMPLATES) | {
        pages_src.SITE_TEMPLATE.format(s=s) for s in range(pages_src.N_SITES)
    }
    assert want.issubset(set(phrases))
    # anything extra must be a sub/cross-phrase of the union footer suffix
    for extra in set(phrases) - want:
        assert extra in "copyright incorporated all rights reserved worldwide" or all(
            w in " ".join(want) for w in extra.split()
        ), extra
    _check_extracted(ext.collect(), golden)


def test_end_to_end_extraction_text_fallback(spark):
    rows, golden = pages_src.generate_pages_local(N_PAGES)
    for r in rows:
        r["html"] = None  # force the text-column fallback path
    pages = spark.createDataFrame(rows, schema=pages_src.PAGES_SCHEMA)
    ext, _ = extract_main_content(spark, pages, min_docs=MIN_DOCS, ngrams=3)
    _check_extracted(ext.collect(), golden)


def test_expression_generator_deterministic_and_minable(spark):
    a = pages_src.generate_pages_df(spark, 200, seed=7).collect()
    b = pages_src.generate_pages_df(spark, 200, seed=7).collect()
    assert sorted(r["url"] for r in a) == sorted(r["url"] for r in b)
    assert {r["url"]: r["text"] for r in a} == {r["url"]: r["text"] for r in b}
    # text-only pages (html NULL), languages populated
    assert all(r["html"] is None for r in a)
    assert {r["lang"] for r in a} <= {"en", "ru", "de"}

    df = pages_src.generate_pages_df(spark, 200, seed=7)
    ext, phrases = extract_main_content(spark, df, min_docs=20, ngrams=3)
    for t in pages_src.TEMPLATES:
        assert t in phrases, t
    # extraction removed every template occurrence
    sample = ext.limit(50).collect()
    for r in sample:
        for t in pages_src.TEMPLATES:
            assert t not in r["extracted_text"]


def test_strip_pass_equals_strip_text_pass_over_parsed_pages(spark):
    """The one strip core, reached two ways: parse+strip in one map from raw
    pages, and a strip over the separately parsed text_repr.  Byte-identical
    per url over html rows, html-NULL rows (text fallback) and rows where
    both are NULL."""
    rows, _ = pages_src.generate_pages_local(N_PAGES)
    for i, r in enumerate(rows):
        if i % 3 == 1:
            r["html"] = None
        elif i % 3 == 2:
            r["html"] = r["text"] = None
    pages = spark.createDataFrame(rows, schema=pages_src.PAGES_SCHEMA)
    phrases = pages_src.TEMPLATES + [
        pages_src.SITE_TEMPLATE.format(s=s) for s in range(pages_src.N_SITES)
    ]

    def by_url(df):
        return {
            r["url"]: (r["extracted_text"],
                       [(s["start"], s["end"], s["phrase"]) for s in r["removed_spans"]])
            for r in df.collect()
        }

    one_map = by_url(strip_pass(pages, phrases))
    parsed = with_text_repr(pages)
    # one projection: the parse keeps the input's partitions
    assert parsed.rdd.getNumPartitions() == pages.rdd.getNumPartitions()
    two_step = by_url(strip_text_pass(parsed, phrases))
    assert len(one_map) == N_PAGES
    assert one_map == two_step
    assert any(spans for _, spans in one_map.values())
    for i, r in enumerate(rows):
        if i % 3 == 2:
            assert one_map[r["url"]] == ("", []), r["url"]
