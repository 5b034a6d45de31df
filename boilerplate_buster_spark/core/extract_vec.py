"""Vectorized batch strip kernel: numpy token-id rolling-hash phrase matching.

Semantically identical to the pure-Python kernel in core/extract.py (which
stays as the golden oracle - tests/test_extract_vec.py compares them on random
corpora, and the byte-identical extraction goldens run through THIS path).
The per-batch algorithm:

  1. tokenize the whole batch at once (core/tokenize.tokenize_batch): ONE
     ASCII-lowered join of the docs and ONE regex split give the batch's
     token stream, with doc-relative offsets and a doc-index array from
     numpy cumsum/searchsorted - no Python object per token beyond the
     token string itself (windows crossing doc boundaries are masked out,
     so one vectorized pass serves the whole Arrow batch);
  2. factorize tokens to int64 ids (pandas C path), the phrase words in the
     same call, so a phrase word absent from the batch is known without a
     dict over the batch's vocabulary;
  3. per phrase length L: polynomial rolling hash of every L-window
     (L vectorized multiply-adds over the batch, uint64 wraparound),
     `np.isin` against the phrase hashes, then EXACT id-level verification of
     candidates (hash collisions only cost a compare, never a wrong mark);
  4. marks accumulate in a difference array -> cumsum -> maximal runs, split
     at gaps and at doc boundaries; the splice loop visits only the marked
     runs and the docs that hold them.

An empty phrase table returns the inputs before tokenizing.  The only Python
loops on the hot path are per phrase length and per marked run.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from boilerplate_buster_spark.core.tokenize import tokenize_batch

_MULT = np.uint64(0x9E3779B97F4A7C15)  # odd 64-bit multiplier (golden ratio)


def _weights(length: int) -> np.ndarray:
    """Polynomial weights w[k] = MULT^(L-1-k) mod 2^64.

    Computed with Python ints reduced mod 2^64: numpy uint64 SCALAR
    multiplies wrap correctly but emit a RuntimeWarning per overflow, which
    is log noise (and an error under strict warning filters).  Array-side
    wraparound below stays silent by numpy semantics."""
    mult = int(_MULT)
    vals = [0] * length
    acc = 1
    for k in range(length - 1, -1, -1):
        vals[k] = acc
        acc = (acc * mult) & 0xFFFFFFFFFFFFFFFF
    return np.array(vals, dtype=np.uint64)


def _marked_flags(
    ids: np.ndarray,
    doc_idx: np.ndarray,
    by_len: dict[int, set[tuple[str, ...]]],
    vocab: dict[str, int],
) -> np.ndarray:
    """Boolean mark per token in the flattened batch stream (spec step 2)."""
    n = len(ids)
    diff = np.zeros(n + 1, dtype=np.int32)
    u = ids.astype(np.uint64)
    for L, phrase_set in by_len.items():
        if L <= 0 or L > n:
            continue
        rows = []
        for ptoks in phrase_set:
            pid = [vocab.get(t, -1) for t in ptoks]
            if -1 not in pid:  # a phrase word absent from the batch can't match
                rows.append(pid)
        if not rows:
            continue
        pm = np.asarray(rows, dtype=np.int64)  # (P, L)
        w = _weights(L)
        ph = (pm.astype(np.uint64) * w).sum(axis=1, dtype=np.uint64)
        m = n - L + 1
        hwin = np.zeros(m, dtype=np.uint64)
        for k in range(L):
            hwin += u[k : m + k] * w[k]
        valid = doc_idx[:m] == doc_idx[L - 1 : L - 1 + m]
        cand = np.nonzero(valid & np.isin(hwin, ph))[0]
        if cand.size == 0:
            continue
        # exact verification via the hash-sorted phrase matrix
        order = np.argsort(ph, kind="stable")
        ph_s, pm_s = ph[order], pm[order]
        if len(np.unique(ph_s)) != len(ph_s):
            # two distinct phrases hash-collided (~2^-64): per-candidate set check
            pset = {tuple(r) for r in rows}
            ok = np.fromiter(
                (tuple(ids[c : c + L]) in pset for c in cand), bool, cand.size
            )
        else:
            at = np.searchsorted(ph_s, hwin[cand])
            ok = np.ones(cand.size, dtype=bool)
            for k in range(L):
                ok &= ids[cand + k] == pm_s[at, k]
        hit = cand[ok]
        if hit.size:
            np.add.at(diff, hit, 1)
            np.add.at(diff, hit + L, -1)
    return np.cumsum(diff[:n]) > 0


def strip_batch(
    texts: list[str | None], by_len: dict[int, set[tuple[str, ...]]]
) -> tuple[list[str], list[list[tuple[int, int, str]]]]:
    """Batch twin of core.extract.strip_boilerplate: -> (texts, spans) lists;
    a None text reads as ""."""
    texts = [t or "" for t in texts]
    out_spans: list[list[tuple[int, int, str]]] = [[] for _ in texts]
    if not by_len:
        return texts, out_spans
    tokens, starts, ends, doc_idx = tokenize_batch(texts)
    if not tokens:
        return texts, out_spans

    # factorize the phrase words with the batch: codes follow first
    # appearance, so a phrase word coded past every batch code is absent
    words = list({w for phrases in by_len.values() for p in phrases for w in p})
    n = len(tokens)
    codes, _ = pd.factorize(np.array(tokens + words, dtype=object))
    n_seen = int(codes[:n].max()) + 1
    vocab = {w: c for w, c in zip(words, codes[n:].tolist()) if c < n_seen}
    marked = _marked_flags(codes[:n].astype(np.int64), doc_idx, by_len, vocab)

    # maximal marked runs, split at gaps and at doc boundaries
    idx = np.nonzero(marked)[0]
    if idx.size == 0:
        return texts, out_spans
    brk = np.nonzero((np.diff(idx) > 1) | (np.diff(doc_idx[idx]) != 0))[0]
    run_s = np.concatenate([idx[:1], idx[brk + 1]])
    run_e = np.concatenate([idx[brk], idx[-1:]])
    run_d = doc_idx[run_s]
    for d, s, e, rs, re_ in zip(
        run_d.tolist(), starts[run_s].tolist(), ends[run_e].tolist(),
        run_s.tolist(), run_e.tolist(),
    ):
        out_spans[d].append((s, e, " ".join(tokens[rs : re_ + 1])))

    out_texts = texts[:]
    for d in np.unique(run_d).tolist():
        text = texts[d]
        parts = []
        cursor = 0
        for s, e, _ in out_spans[d]:
            parts.append(text[cursor:s])
            cursor = e
        parts.append(text[cursor:])
        out_texts[d] = "".join(parts)
    return out_texts, out_spans
