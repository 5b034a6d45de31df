"""Property-based tests (hypothesis) over the pure kernels:

  * vectorized strip == pure-Python golden strip, for ARBITRARY unicode texts
    and arbitrary phrase sets (the adversarial inputs hand-written cases miss:
    overlaps, repeats, phrase == whole doc, punctuation-only docs), and for
    batches holding None, astral characters, non-ASCII uppercase that must
    not be lowered and newlines inside docs;
  * strip invariants: output is a subsequence of the input, removed spans are
    disjoint ascending, splicing the spans back reconstructs the input;
  * tokenizer: tokens contain no delimiters, concatenating spans reproduces
    the token text, ASCII lowering only; the batch tokenizer equals the
    per-doc one doc by doc (tokens, doc-relative offsets, doc index);
  * html parse: the regex scanner behind html_to_text == the stdlib
    _BlockParser it replaced, over hostile html in every accepted input
    type, and the scanner (not the fallback) parses every generated page.
"""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from boilerplate_buster_spark.core.extract import index_phrases, strip_boilerplate
from boilerplate_buster_spark.core.extract_vec import strip_batch
from boilerplate_buster_spark.core.htmlparse import _parse_stdlib, _scan, html_to_text
from boilerplate_buster_spark.core.tokenize import (
    ascii_lower,
    decode_page_bytes,
    tokenize,
    tokenize_batch,
    tokenize_with_spans,
)
from boilerplate_buster_spark.sources.pages import generate_pages_local
from tests.test_domblocks import PAGE

# small vocab -> dense overlaps between docs and phrases
_word = st.sampled_from(["aa", "bb", "cc", "dd", "ee", "Aa", "x1", "日本"])
_sep = st.sampled_from([" ", "  ", ", ", "\n", "! ", " - "])


@st.composite
def doc_text(draw):
    n = draw(st.integers(0, 25))
    words = [draw(_word) for _ in range(n)]
    seps = [draw(_sep) for _ in range(max(n - 1, 0))]
    out = []
    for i, w in enumerate(words):
        out.append(w)
        if i < len(seps):
            out.append(seps[i])
    return "".join(out)


@st.composite
def phrase(draw):
    n = draw(st.integers(1, 4))
    return " ".join(draw(_word).lower() for _ in range(n))


@given(
    texts=st.lists(doc_text(), min_size=1, max_size=8),
    phrases=st.lists(phrase(), min_size=0, max_size=6),
)
@settings(max_examples=200, deadline=None)
def test_vectorized_strip_equals_golden(texts, phrases):
    by_len = index_phrases(phrases)
    got_t, got_s = strip_batch(texts, by_len)
    for t, gt, gs in zip(texts, got_t, got_s):
        wt, ws = strip_boilerplate(t, by_len)
        assert gt == wt
        assert gs == ws


# Words whose lowering differs between ASCII-only and full Unicode ("ÉA"
# must stay "ÉA", so phrase "éa" must not match it), astral characters, a
# titlecase letter; docs also carry arbitrary text and newlines.
_uword = st.sampled_from(
    ["aa", "bb", "Aa", "x1", "日本", "Éa", "éa", "ÉA", "\U0001d518x", "ǅ", "ß"]
)
_udoc = st.lists(
    st.one_of(_uword, st.text(max_size=3), st.sampled_from([" ", "\n", ", "])),
    max_size=20,
).map("".join)
_uphrase = st.lists(_uword.map(ascii_lower), min_size=1, max_size=3).map(" ".join)


@given(
    texts=st.lists(st.one_of(st.none(), _udoc), max_size=8),
    phrases=st.lists(_uphrase, min_size=1, max_size=5),
)
@settings(max_examples=300, deadline=None)
def test_strip_batch_equals_per_doc_oracle_unicode(texts, phrases):
    by_len = index_phrases(phrases)
    got_t, got_s = strip_batch(texts, by_len)
    assert len(got_t) == len(got_s) == len(texts)
    for t, gt, gs in zip(texts, got_t, got_s):
        wt, ws = strip_boilerplate(t or "", by_len)
        assert gt == wt
        assert gs == ws


@given(text=doc_text(), phrases=st.lists(phrase(), min_size=0, max_size=6))
@settings(max_examples=200, deadline=None)
def test_strip_invariants(text, phrases):
    out, spans = strip_boilerplate(text, index_phrases(phrases))
    # spans are disjoint, ascending, in-bounds
    prev_end = -1
    for s, e, _ in spans:
        assert 0 <= s < e <= len(text)
        assert s > prev_end
        prev_end = e
    # splicing removed spans back reconstructs the original byte-exactly
    rebuilt, cursor, oi = [], 0, 0
    for s, e, _ in spans:
        rebuilt.append(out[oi : oi + (s - cursor)])
        oi += s - cursor
        rebuilt.append(text[s:e])
        cursor = e
    rebuilt.append(out[oi:])
    assert "".join(rebuilt) == text


@given(text=st.text(max_size=200))
@settings(max_examples=300, deadline=None)
def test_tokenizer_spans_consistent(text):
    spans = tokenize_with_spans(text)
    assert [t for t, _, _ in spans] == tokenize(text)
    prev_end = -1
    for tok, s, e in spans:
        assert s > prev_end and s < e <= len(text)
        # span text ASCII-lowered equals the token
        raw = text[s:e]
        assert raw.translate({ord(c): ord(c) + 32 for c in
                              "ABCDEFGHIJKLMNOPQRSTUVWXYZ"}) == tok
        # tokens never contain ASCII delimiters
        assert all(ch > "\x7f" or ch.isalnum() for ch in tok)
        prev_end = e


@given(
    texts=st.lists(
        st.one_of(
            _udoc,
            # every category, lone surrogates included
            st.text(alphabet=st.characters(blacklist_categories=()), max_size=30),
        ),
        max_size=6,
    )
)
@settings(max_examples=300, deadline=None)
def test_tokenize_batch_equals_per_doc_oracle(texts):
    tokens, starts, ends, doc = tokenize_batch(texts)
    assert starts.dtype == ends.dtype == doc.dtype == "int64"
    want = [
        (d, tok, s, e)
        for d, text in enumerate(texts)
        for tok, s, e in tokenize_with_spans(text)
    ]
    assert list(zip(doc.tolist(), tokens, starts.tolist(), ends.tolist())) == want


# Hostile html fragments, one list per kind so that rare kinds meet often:
# raw-text bodies holding '<' and '</div>', '>' in quoted attributes,
# unclosed tags, quotes and comments, odd case and spacing in tags, entity
# references split by a tag or next to one, CDATA, processing instructions,
# '</>' and a stray '<'.
_HTML_FRAGMENTS = [
    [
        "<script>if (a < b) x = '</div>';</script>", "<style>p>b{}</style >",
        "<SCRIPT type=module>x<y</sCrIpT\t>", "<script>", "<style>",
        "</script>", "</STYLE>", "</ſcript>", "<script/>", "<head/>",
    ],
    [
        '<a title="1 > 0">', "<a title='x>y' id=b>", '<a href=x"y>',
        '<div class="a" hidden data-x = 3>', "<img src=/a/b.png/>", "<br/>",
        "<br />", "<a b=>", '<a b="x>', "<p", "<div class='x'", "<a/b>",
        "<p\x0bx>", "<p\xa0x>", "<a\x00>", "<a b==c>", "<a =b>",
    ],
    [
        "<!-- note -->", "<!-- <p>in</p> --  >", "<!--", "-->", "<!-->",
        "<!DOCTYPE html>", "<!doctype", "<!bogus>", "<![CDATA[x<y]]>",
        "<?pi?>", "<?xml version='1.0'?>", "</>", "</ >", "</3>",
    ],
    [
        "<DIV>", "</Div >", "</ div>", "<P>", "</p\n>", "<Head>", "</HEAD>",
        "<template>", "</template>", "<noscript>", "</noscript>", "<span>",
        "</span>", "<li>", "<td>", "<h1>", "</h1>", "<x:y>", "</p class=x>",
    ],
    ["&am", "p;", "&amp;", "&lt;", "&#65;", "&#x42", "&copy", "&", ";"],
    ["< ", "<", ">", "a < b", "text", " ", "\n", "é", "日本", "\xa0"],
]
_html = st.lists(
    st.one_of(
        *(st.sampled_from(kind) for kind in _HTML_FRAGMENTS),
        st.text(
            alphabet=st.characters(blacklist_categories=("Cs",)), max_size=4
        ),
    ),
    max_size=20,
).map("".join)

_ENCODINGS = {
    "str": lambda s: s,
    "utf-8-bom": lambda s: b"\xef\xbb\xbf" + s.encode("utf-8"),
    "utf-16-le-bom": lambda s: b"\xff\xfe" + s.encode("utf-16-le"),
    "utf-16-be-bom": lambda s: b"\xfe\xff" + s.encode("utf-16-be"),
    "bytearray": lambda s: bytearray(s.encode("utf-8")),
    "memoryview": lambda s: memoryview(s.encode("utf-8")),
}


def _oracle(raw):
    if isinstance(raw, (bytes, bytearray, memoryview)):
        raw = decode_page_bytes(bytes(raw))
    return _parse_stdlib(raw)


@given(doc=_html, enc=st.sampled_from(sorted(_ENCODINGS)))
@settings(max_examples=1000, deadline=None)
def test_html_scanner_equals_stdlib_oracle(doc, enc):
    raw = _ENCODINGS[enc](doc)
    want = _oracle(raw)
    assert html_to_text(raw) == want
    assert want == _parse_stdlib(doc)  # every encoding decodes to the doc


def test_html_scanner_grammar_edges():
    # per-run unescape: a reference split by a tag stays literal
    assert _scan("<p>&am<span>p;</span></p>") == "&amp;"
    assert _scan("<p>a &amp; b</p>") == "a & b"
    assert _scan('<p title="a>b">x</p><script>"</div>"</script>y') == "x\ny"
    assert _scan("<SCRIPT>a<b</Script >c") == "c"
    assert _scan("<script/>a") == "a"
    # outside the grammar: the stdlib parse answers
    for doc in ("a < b", '<a href=x"y>t', "<!-- open", "<![CDATA[x]]>",
                "<script>open", "<p>x</p><", "<script>x</ſcript>"):
        assert _scan(doc) is None, doc
        assert html_to_text(doc) == _parse_stdlib(doc), doc


def test_html_scanner_parses_every_generated_page():
    # a grammar slip would fall back to the slow parser with correct output
    rows, _golden = generate_pages_local(200, seed=11)
    for r in rows:
        doc = decode_page_bytes(bytes(r["html"]))
        fast = _scan(doc)
        assert fast is not None, r["url"]
        assert fast == _parse_stdlib(doc) == r["text"], r["url"]
    fast = _scan(PAGE)
    assert fast is not None
    assert fast == _parse_stdlib(PAGE)
