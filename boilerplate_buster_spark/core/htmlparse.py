"""HTML -> text-block parsing kernel (regex scanner, with stdlib html.parser
as its oracle and fallback; no third-party html parser is needed).

Spec (used by the page generator round-trip and the Arrow-batched parse stage
in operators/extraction.py):

  * content inside <head>, <script>, <style>, <template>, <noscript> is dropped;
  * every BLOCK-level element boundary flushes the current text block;
  * the page's text representation = blocks joined with a single "\\n".

The spec's reference implementation is ``_BlockParser``, a stdlib
``HTMLParser`` subclass.  It runs a Python callback per tag and parses and
unescapes every attribute, which nothing reads.  ``html_to_text`` runs
``_scan`` instead: one compiled regex (``_TOKEN``) matched at the cursor
takes a text gap (``[^<]*``) and then one markup item:

  * start tag ``<name attr attr=v attr="v" attr='v'>`` or ``.../>``.  The
    tag name is the stdlib's (``[a-zA-Z][^\\t\\n\\r\\f />\\x00]*``, lowercased);
    attributes are whitespace-separated; a quoted value may hold ``>``;
  * end tag ``</ name >`` (the stdlib's ``endtagfind``);
  * comment ``<!-- ... -->`` closed by the first ``--\\s*>``;
  * doctype or bogus declaration ``<!...>`` (not ``<!--``, not ``<![``);
  * processing instruction ``<?...>``.

A skip-depth counter tracks the ``_SKIP`` elements; each ``_BLOCK`` start or
end tag flushes the current block, inside skipped content too.  After a
non-self-closing ``<script>`` or ``<style>`` the scanner jumps to the
stdlib's raw-text end, ``</script\\s*>`` or ``</style\\s*>`` (ignoring case).
Each text run is unescaped on its own, and only when it holds ``&``, as the
stdlib does with ``convert_charrefs`` (``&am<b>p;`` stays literal).

Fallback rule: ``_scan`` returns None when it meets markup outside that
grammar -- a ``<`` that starts none of the items above (``a < b``,
``<a href=x"y>``, an unclosed comment, ``<![CDATA[``, a stray ``<`` at the
end), or a ``<script>``/``<style>`` that is never closed.  ``html_to_text``
then returns ``_BlockParser``'s result for the page.  Inside the grammar the
two agree byte for byte (tests/test_property_kernels.py checks it over
hostile html), so the output is the stdlib parse's in every case.

This is the S2/Stage-1 analog of the reference's byte->text load phase
(/root/reference/corpus-miner/corpus_miner.cpp:417-448) lifted to HTML pages
per the north rule (html binary -> DOM text blocks)."""

from __future__ import annotations

import re
from html import unescape
from html.parser import HTMLParser

_SKIP = {"head", "script", "style", "template", "noscript"}
_BLOCK = {
    "p", "div", "nav", "footer", "header", "section", "article", "aside",
    "main", "ul", "ol", "li", "table", "tr", "td", "th", "h1", "h2", "h3",
    "h4", "h5", "h6", "br", "blockquote", "pre", "form", "figure",
}


class _BlockParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[str] = []
        self._cur: list[str] = []
        self._skip_depth = 0

    def _flush(self) -> None:
        if self._cur:
            s = "".join(self._cur).strip()
            if s:
                self.blocks.append(s)
            self._cur = []

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP:
            self._skip_depth += 1
        elif tag in _BLOCK:
            self._flush()

    def handle_endtag(self, tag):
        if tag in _SKIP:
            self._skip_depth = max(0, self._skip_depth - 1)
        elif tag in _BLOCK:
            self._flush()

    def handle_data(self, data):
        if self._skip_depth == 0:
            self._cur.append(data)


def _parse_stdlib(raw: str) -> str:
    """The spec's reference parse: ``_BlockParser`` over a decoded page."""
    p = _BlockParser()
    p.feed(raw)
    p.close()
    p._flush()
    return "\n".join(p.blocks)


# Possessive quantifiers keep each item to the one reading the stdlib gives
# it; a quantifier that could backtrack might find a second, different one.
_ATTR = (
    r"""[^\s/>"'=<]++"""
    r"""(?:\s*+=\s*+(?:"[^"]*+"|'[^']*+'|[^\s"'=<>`]++))?+"""
)
_TOKEN = re.compile(
    r"([^<]*+)(?:<(?:"
    r"([a-zA-Z][^\t\n\r\f />\x00]*+)(?:\s++" + _ATTR + r")*+\s*+(/?)>"
    r"|/\s*+([a-zA-Z][-.a-zA-Z0-9:_]*+)\s*+>"
    r"|!--(?s:.*?)--\s*>"
    r"|!(?!--|\[)[^>]*+>"
    r"|\?[^>]*+>"
    r")|\Z)"
)
# The stdlib's raw-text end for the elements it reads as CDATA.  Its search
# ignores case in full Unicode, but an end tag whose name is not ASCII
# ("</ſcript>") fails its endtagfind and stays raw text, so the name
# here ignores ASCII case only.
_RAW_END = {
    t: re.compile(r"</\s*(?ai:%s)\s*>" % t).search for t in ("script", "style")
}


def _scan(raw: str) -> str | None:
    """The spec's text representation, or None for markup outside the
    scanner's grammar (see the module docstring)."""
    blocks: list[str] = []
    cur: list[str] = []
    skip = 0
    pos = 0
    match = _TOKEN.match
    while True:
        m = match(raw, pos)
        if m is None:
            return None
        text, start, slash, end = m.groups()
        if text and not skip:
            cur.append(unescape(text) if "&" in text else text)
        pos = m.end()
        if start is not None:
            tag = start.lower()
            if tag in _SKIP:
                if slash:  # <tag/>: start then end, depth unchanged
                    continue
                raw_end = _RAW_END.get(tag)
                if raw_end is None:
                    skip += 1
                    continue
                c = raw_end(raw, pos)
                if c is None:
                    return None
                pos = c.end()
                continue
            if tag not in _BLOCK:
                continue
        elif end is not None:
            tag = end.lower()
            if tag in _SKIP:
                if skip:
                    skip -= 1
                continue
            if tag not in _BLOCK:
                continue
        elif pos != m.end(1):  # comment, declaration, processing instruction
            continue
        # a block boundary, or the end of input (the \Z branch)
        if cur:
            s = "".join(cur).strip()
            if s:
                blocks.append(s)
            cur = []
        if pos == len(raw):
            return "\n".join(blocks)


def html_to_text(raw: bytes | str | None) -> str | None:
    """Decode (BOM-sniffing) + parse to the block-joined text representation."""
    if raw is None:
        return None
    if isinstance(raw, (bytes, bytearray, memoryview)):
        from boilerplate_buster_spark.core.tokenize import decode_page_bytes

        raw = decode_page_bytes(bytes(raw))
    text = _scan(raw)
    return _parse_stdlib(raw) if text is None else text
