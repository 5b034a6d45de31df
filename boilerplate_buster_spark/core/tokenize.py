"""Reference-exact tokenizer.

Semantics replicated from /root/reference/corpus-miner/tokenizer.h:
  - UTF-8 path (tokenizer.h:48-64): a token is a maximal run of bytes where
    byte > 127 or ASCII isalnum; ASCII 'A'-'Z' lowered to 'a'-'z'; bytes >127
    pass through UNMODIFIED (no Unicode lowercasing).
  - UTF-16 path (tokenizer.h:67-88): any non-ASCII BMP codepoint is treated as
    alphanumeric, ASCII handled as above, then transcoded to UTF-8
    (tokenizer.h:11-45). BOM sniffing selects the path at load
    (corpus_miner.cpp:417-448).

Both paths are equivalent to a single codepoint-level rule on decoded text:
a token is a maximal run of codepoints where cp > 127 or cp is ASCII
alphanumeric, with ASCII-only lowercasing.  (For UTF-8 input: every byte of a
non-ASCII character is >127, so byte runs == codepoint runs; ASCII delimiters
are single bytes.  For UTF-16 input: surrogate halves are both >=0xD800 >127,
so astral codepoints stay inside tokens, matching the surrogate-pair handling
at tokenizer.h:19-26.)

This module is the pure-Python kernel; the Spark expression equivalent lives
in boilerplate_buster_spark.functions.tokenizer (translate + split, JVM-side).
`tokenize_batch` tokenizes a whole batch of docs in a few C-level calls (one
lowered join, one regex split) for the vectorized strip kernel
(core/extract_vec.py); the per-doc `tokenize_with_spans` is its oracle in
tests/test_property_kernels.py.
"""

from __future__ import annotations

import re

import numpy as np

# Maximal runs of [ASCII alnum | any codepoint > 0x7F].
_TOKEN_RE = re.compile(r"[0-9A-Za-z\u0080-\U0010FFFF]+")

# The same rule as one capturing group: re.split returns the separator runs
# and the tokens alternately, so the tokens are parts[1::2].
_SPLIT_RE = re.compile(f"({_TOKEN_RE.pattern})")

# Joins a batch's docs; it is not a token character, so no token crosses a
# doc boundary.
_DOC_SEP = "\n"

# ASCII-only lowercase map (reference lowers only 'A'-'Z', tokenizer.h:56).
_ASCII_LOWER = {ord(c): ord(c) + 32 for c in "ABCDEFGHIJKLMNOPQRSTUVWXYZ"}


def ascii_lower(s: str) -> str:
    """Lowercase ASCII 'A'-'Z' only; all other codepoints unchanged."""
    return s.translate(_ASCII_LOWER)


def tokenize(text: str) -> list[str]:
    """text -> tokens, reference-exact (tokenizer.h:48-64 semantics)."""
    return [ascii_lower(m) for m in _TOKEN_RE.findall(text)]


def tokenize_with_spans(text: str) -> list[tuple[str, int, int]]:
    """Like :func:`tokenize` but returns (token, start, end) char offsets.

    Needed by the extraction pass: byte-identical output requires mapping
    mined token spans back to original character ranges.
    """
    return [(ascii_lower(m.group()), m.start(), m.end()) for m in _TOKEN_RE.finditer(text)]


def tokenize_batch(
    texts: list[str],
) -> tuple[list[str], np.ndarray, np.ndarray, np.ndarray]:
    """A batch of docs -> (tokens, starts, ends, doc): the tokens of every doc
    in order, with their doc-relative char offsets and doc index (int64).

    Equals tokenize_with_spans doc by doc.  One lowered string and one regex
    split; offsets are a cumsum of the part lengths.  The lowering is
    ascii_lower through UTF-8: every byte of a non-ASCII codepoint is
    >= 0x80, so bytes.lower() changes exactly 'A'-'Z', the length in
    codepoints is kept (offsets stay valid), and surrogatepass round-trips
    lone surrogates.  str.translate, which looks up every codepoint in a
    dict, is an order of magnitude slower on non-ASCII text.
    """
    joined = _DOC_SEP.join(texts)
    lowered = (
        joined.encode("utf-8", "surrogatepass").lower().decode("utf-8", "surrogatepass")
    )
    parts = _SPLIT_RE.split(lowered)
    part_ends = np.cumsum(np.fromiter(map(len, parts), np.int64, len(parts)))
    starts = part_ends[:-1:2]  # a token starts where the run before it ends
    ends = part_ends[1::2]
    lens = np.fromiter(map(len, texts), np.int64, len(texts))
    doc_starts = np.zeros(len(texts), dtype=np.int64)
    np.cumsum(lens[:-1] + len(_DOC_SEP), out=doc_starts[1:])
    doc = np.searchsorted(doc_starts, starts, side="right") - 1
    offset = doc_starts[doc]
    return parts[1::2], starts - offset, ends - offset, doc


def decode_page_bytes(raw: bytes) -> str:
    """BOM-sniffing decode, replicating corpus_miner.cpp:417-448:
    FF FE -> UTF-16LE, FE FF -> UTF-16BE, otherwise UTF-8 (lossy on bad bytes).
    """
    if raw[:2] == b"\xff\xfe":
        return raw[2:].decode("utf-16-le", errors="replace")
    if raw[:2] == b"\xfe\xff":
        return raw[2:].decode("utf-16-be", errors="replace")
    # utf-8-sig strips an optional UTF-8 BOM like the reference skips it.
    return raw.decode("utf-8-sig", errors="replace")
