"""Seeded page corpora for the extraction benchmark.

Every cell is a pure Catalyst expression over ``spark.range(n)``: each random
draw is ``xxhash64(id, <slot>, seed)``, so a (shape, seed) pair always yields
the same pages, whatever the partitioning.  Next to the program's input
columns (url, html, text) each row carries its golden answer:

  * ``golden_text``  - the page's text with every injected template replaced
    by '' (what the extraction must return once every template is mined);
  * ``golden_spans`` - the removed character spans (start, end, phrase) of
    those templates, recorded at injection time.

Page layout: filler, then per global template (T?, filler), then the site
footer, then filler.  Fillers always separate templates, and filler words are
64-bit hash-unique (``u<16 hex>``), so no n-gram of a filler word is
frequent and the mined phrase set is exactly the injected template set once
each template clears ``min_docs``.

Every template below is 3-gram-disjoint from every other, footers included:
each footer 3-gram holds one of the site's own tokens (``site<s>``,
``corp<s>``, ``group<s>``, ``brand<s>``, ``media<s>``, ``labs<s>``).  A
shared 3-gram would let greedy expansion pull one template toward another's
continuation, and the golden would no longer equal the mined set.  Six site
tokens per footer put a few hundred sites over ``mine``'s 2,048-word limit
for the literal IN-set word gate.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

GLOBAL_TEMPLATES = (
    "skip to main content home shop deals help account cart",
    "join our mailing list to get early access to new arrivals and member offers",
    "we use cookies to personalise content and analyse traffic read our cookie notice",
    "about us careers investors press room accessibility terms privacy",
)


def site_footer(site: int) -> str:
    """Footer of one site; every 3-gram holds a site-unique token."""
    return (f"copyright site{site} holdings corp{site} group{site} "
            f"brand{site} media{site} labs{site} rights reserved")


_FOOTER_SQL = (
    "concat('copyright site', {s}, ' holdings corp', {s}, ' group', {s}, "
    "' brand', {s}, ' media', {s}, ' labs', {s}, ' rights reserved')"
)

FILLER_MIN, FILLER_MAX = 3, 7  # filler words between parts

_BLOCK_TAGS = ("nav", "p", "div", "footer", "section", "article")

# Skipped by the html parser (head, style, script): they only add bytes the
# parse kernel has to scan.  No single quotes (SQL literal) and no '</'
# inside script bodies (the parser's CDATA end).
_HEAD = (
    '<!DOCTYPE html><html lang="en"><head><meta charset="utf-8">'
    '<meta name="viewport" content="width=device-width, initial-scale=1">'
    '<meta name="description" content="catalogue page with offers and news">'
    '<link rel="stylesheet" href="/static/css/site.min.css?v=20240101">'
    '<link rel="preload" as="font" href="/static/fonts/inter.woff2" crossorigin>'
    "<style>body{margin:0;font-family:Inter,Helvetica,Arial,sans-serif;"
    "color:#1d1d1f;background:#fafafa}.row{display:flex;flex-wrap:wrap;"
    "gap:12px;padding:8px 16px}.row>.cell{flex:1 1 240px;min-width:0}"
    "nav a{color:#0066cc;text-decoration:none;margin-right:14px}"
    "footer{font-size:12px;color:#6e6e73;border-top:1px solid #d2d2d7}"
    ".banner{position:fixed;bottom:0;left:0;right:0;padding:12px;"
    "background:#111;color:#fff;z-index:9999}@media (max-width:640px)"
    "{.row{flex-direction:column}.banner{font-size:11px}}</style>"
    "<script>window.dataLayer=window.dataLayer||[];function gtag(){"
    "dataLayer.push(arguments)}gtag('js',new Date());gtag('config','G-X1');"
    "(function(){var s=document.createElement('script');s.async=true;"
    "s.src='/static/js/app.bundle.js?v=7f3a';document.head.appendChild(s)})();"
    "</script>"
).replace("'", '"')

_BODY_SCRIPT = (
    '<script type="application/ld+json">{"@context":"https://schema.org",'
    '"@type":"WebPage","inLanguage":"en","isPartOf":{"@type":"WebSite",'
    '"name":"Example"},"potentialAction":{"@type":"ReadAction"}}</script>'
)


@dataclass(frozen=True)
class CorpusShape:
    """Size and shape of one workload's corpus."""

    n_pages: int
    n_sites: int
    html: bool  # html pages (text NULL) or text-only pages (html NULL)
    template_tenths: int = 7  # chance, in tenths, of each global template

    def footers(self) -> list[str]:
        return [site_footer(s) for s in range(self.n_sites)]

    def templates(self) -> list[str]:
        return list(GLOBAL_TEMPLATES) + self.footers()


def _h(slot: int, seed: int) -> str:
    return f"xxhash64(id, {slot}, {seed})"


def _filler_sql(slot: int, seed: int) -> str:
    span = FILLER_MAX - FILLER_MIN + 1
    n_words = f"({FILLER_MIN} + cast(pmod({_h(slot, seed)}, {span}) AS int))"
    return (
        f"array_join(transform(sequence(1, {n_words}), "
        f"j -> concat('u', lower(hex(xxhash64(id, {slot}, j, {seed}))))), ' ')"
    )


def _part(text_sql: str, is_template: bool) -> str:
    return f"named_struct('s', {text_sql}, 't', {str(is_template).lower()})"


def _template_on(k: int, seed: int, tenths: int) -> str:
    return f"pmod({_h(10 + k, seed)}, 10) < {tenths}"


def site_sql(seed: int, n_sites: int) -> str:
    """Site of page `id`: a seeded rotation of id mod n_sites, so every site
    holds floor(n/n_sites) or ceil(n/n_sites) pages."""
    return f"cast(pmod(id + {seed % 1_000_003}, {n_sites}) AS int)"


def generate(spark: SparkSession, shape: CorpusShape, seed: int,
             partitions: int) -> DataFrame:
    """-> (url, html, text, golden_text, golden_spans, site)."""
    site = site_sql(seed, shape.n_sites)
    parts = [_part(_filler_sql(1, seed), False)]
    for k, t in enumerate(GLOBAL_TEMPLATES):
        on = _template_on(k, seed, shape.template_tenths)
        parts.append(f"IF({on}, {_part(repr_sql(t), True)}, NULL)")
        parts.append(f"IF({on}, {_part(_filler_sql(20 + k, seed), False)}, NULL)")
    parts.append(_part(_FOOTER_SQL.format(s="_site"), True))
    parts.append(_part(_filler_sql(40, seed), False))
    parts_sql = f"filter(array({', '.join(parts)}), x -> x IS NOT NULL)"

    spans_sql = (
        "aggregate(_parts, named_struct('off', 0, 'sp', "
        "cast(array() AS array<struct<start:int,end:int,phrase:string>>)), "
        "(acc, x) -> named_struct('off', acc.off + length(x.s) + 1, 'sp', "
        "IF(x.t, array_append(acc.sp, named_struct('start', acc.off, "
        "'end', acc.off + length(x.s), 'phrase', x.s)), acc.sp)), acc -> acc.sp)"
    )
    df = spark.range(0, shape.n_pages, 1, partitions).select(
        "id", F.expr(site).alias("_site")
    ).select(
        "id", "_site", F.expr(parts_sql).alias("_parts")
    )
    text = F.expr("array_join(transform(_parts, x -> x.s), '\\n')")
    if shape.html:
        html = F.expr(f"encode({_html_sql(seed)}, 'UTF-8')")
        text_col = F.lit(None).cast("string")
    else:
        html = F.lit(None).cast("binary")
        text_col = text
    return df.select(
        F.expr("concat('https://site', _site, '.example.com/page/', id)").alias("url"),
        html.alias("html"),
        text_col.alias("text"),
        F.expr("array_join(transform(_parts, x -> IF(x.t, '', x.s)), '\\n')").alias(
            "golden_text"
        ),
        F.expr(spans_sql).alias("golden_spans"),
        F.col("_site").alias("site"),
    )


def repr_sql(s: str) -> str:
    """SQL string literal for a template (templates hold no quotes)."""
    if "'" in s or "\\" in s:
        raise ValueError(f"template not literal-safe: {s!r}")
    return f"'{s}'"


def _html_sql(seed: int) -> str:
    """A ~3.7 KB page whose html parse yields exactly the text column: each
    part is one attribute-laden block element; head, style and scripts are
    skipped by the parser."""
    tags = ", ".join(f"'{t}'" for t in _BLOCK_TAGS)
    block = (
        f"transform(_parts, (x, i) -> concat("
        f"'<', element_at(array({tags}), pmod(i, {len(_BLOCK_TAGS)}) + 1), "
        f"' class=\"row c', i, IF(x.t, ' tpl', ''), '\" id=\"b', i, '-', "
        f"lower(hex(xxhash64(id, i, {seed}))), '\" data-track=\"blk-', i, "
        f"'\" data-v=\"', pmod(xxhash64(id, i, 3, {seed}), 100000), "
        f"'\" style=\"padding:4px 8px;margin:0\" aria-label=\"section ', i, '\">', "
        f"'<span class=\"cell\" data-i=\"', i, '\">', x.s, '</span></', "
        f"element_at(array({tags}), pmod(i, {len(_BLOCK_TAGS)}) + 1), '>'))"
    )
    return (
        f"concat('{_HEAD}<title>page ', id, ' of site ', _site, '</title></head>"
        f"<body class=\"page site', _site, '\" data-page=\"', id, '\">', "
        f"array_join({block}, ''), '{_BODY_SCRIPT}</body></html>')"
    )


def template_doc_counts(corpus: DataFrame, shape: CorpusShape) -> dict[str, int]:
    """Pages carrying each template, from the golden spans (one job)."""
    rows = (
        corpus.select(F.explode("golden_spans.phrase").alias("phrase"))
        .groupBy("phrase")
        .count()
        .collect()
    )
    counts = {t: 0 for t in shape.templates()}
    counts.update({r["phrase"]: r["count"] for r in rows})
    return counts
