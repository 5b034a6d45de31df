"""HTML -> structured DOM text blocks with layout statistics.

The north rule asks for main-content extraction via "DOM heuristics" in
addition to the corpus-statistical BloomSpan strip.  This kernel is the
structural half: it parses a page into BLOCK-level text blocks (identical
block-boundary semantics to core/htmlparse.html_to_text, so
"\n".join(b.text) == html_to_text(page) — pinned by a property test) and
annotates each block with the facts a Boilerpipe/jusText-style classifier
needs:

  * ``tag``       — the innermost BLOCK-level element enclosing the block
                    ("body" when none is open);
  * ``depth``     — number of open block-level elements at flush time;
  * ``n_chars``   — len(text) after the boundary strip;
  * ``link_chars``— characters contributed from inside <a> elements.

The classifier itself (link density / stopword density / tag class) lives in
operators/domheuristics.py as pure Catalyst expressions — this kernel only
emits structural facts.  The per-row Python cost is one stdlib HTML parse
(a callback per tag); Stage 1's html_to_text runs a regex scanner instead
and is several times cheaper per page.

Reference anchor: the reference's load phase normalizes bytes to text
(/root/reference/corpus-miner/corpus_miner.cpp:417-448); block-level layout
statistics have no reference analog and follow the published Boilerpipe
(Kohlschutter et al., WSDM 2010) / jusText (Pomikalek 2011) heuristics.
"""

from __future__ import annotations

from html.parser import HTMLParser

from boilerplate_buster_spark.core.htmlparse import _BLOCK, _SKIP

# elements that never take children (block boundary but no push)
_VOID = {"br"}


class _DomStatsParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[dict] = []
        self._cur: list[str] = []
        self._cur_link = 0
        self._skip_depth = 0
        self._a_depth = 0
        self._stack: list[str] = []

    def _flush(self, tag: str) -> None:
        if self._cur:
            raw = "".join(self._cur)
            s = raw.strip()
            if s:
                # link chars are counted pre-strip; clamp to the stripped len
                self.blocks.append(
                    {
                        "text": s,
                        "tag": tag,
                        "depth": len(self._stack),
                        "n_chars": len(s),
                        "link_chars": min(self._cur_link, len(s)),
                    }
                )
            self._cur = []
            self._cur_link = 0

    def _enclosing(self) -> str:
        return self._stack[-1] if self._stack else "body"

    def handle_starttag(self, tag, attrs):
        if tag in _SKIP:
            self._skip_depth += 1
            return
        if tag == "a":
            self._a_depth += 1
        if tag in _BLOCK:
            self._flush(self._enclosing())
            if tag not in _VOID:
                self._stack.append(tag)

    def handle_endtag(self, tag):
        if tag in _SKIP:
            self._skip_depth = max(0, self._skip_depth - 1)
            return
        if tag == "a":
            self._a_depth = max(0, self._a_depth - 1)
        if tag in _BLOCK and tag not in _VOID:
            self._flush(self._enclosing())
            # tolerate misnesting the way html.parser reports it: pop to the
            # matching open tag if present, else ignore the stray end tag
            if tag in self._stack:
                while self._stack and self._stack[-1] != tag:
                    self._stack.pop()
                self._stack.pop()

    def handle_data(self, data):
        if self._skip_depth == 0:
            self._cur.append(data)
            if self._a_depth > 0:
                self._cur_link += len(data)


def html_to_blocks(raw: bytes | str | None) -> list[dict]:
    """Decode (BOM-sniffing, same path as html_to_text) + parse to a list of
    block dicts {text, tag, depth, n_chars, link_chars} in document order."""
    if raw is None:
        return []
    if isinstance(raw, (bytes, bytearray, memoryview)):
        from boilerplate_buster_spark.core.tokenize import decode_page_bytes

        raw = decode_page_bytes(bytes(raw))
    p = _DomStatsParser()
    p.feed(raw)
    p.close()
    p._flush(p._enclosing())
    return p.blocks
