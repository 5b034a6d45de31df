"""Windowed greedy-expansion kernel (stages E-F of the BloomSpan pipeline,
corpus-miner/_ours/bloom_gram_miner.cpp:595-706): the exact
sequential kernel of the pure-Python oracle (core/pyref.py), and nothing
else.  The Spark miner (operators/bloomspan.py) does not call it: it walks
a path-tree edge aggregate and selects with numpy, and the oracle tests
hold its output to this kernel's.  It shares only the result type
(WCandidate) and the window signal (WindowExhausted) with it.

This is the one inherently ORDER-SEQUENTIAL piece of the reference algorithm
(global occupancy bitmask across score-ordered candidates, SURVEY.md section
2.5 M1-M3), formulated over per-occurrence token WINDOWS:

    occ = (doc_id, pos, prev | None, window)
    window = doc tokens [pos, pos + W)         (W >= longest possible phrase)

pyref builds each window from the doc's whole tail, which is exactly the
whole-corpus semantics of the reference.

Expansion of a candidate never depends on the bitmask (the mask only gates
skip-before / mark-after, bloom_gram_miner.cpp:633-640,697-702), which is what
makes the Spark miner's order (expand all candidates in parallel, then replay
the sequential selection over aggregated stats) output-equivalent.
"""

from __future__ import annotations

from collections import defaultdict
from dataclasses import dataclass, field
from typing import Optional


@dataclass
class WOcc:
    """One occurrence of a candidate, with its forward window."""

    doc_id: int | str
    pos: int
    # the token at pos-1, or any stand-in for it that is equal exactly when
    # the tokens are (backward closure only compares it); None when pos == 0
    prev: Optional[str | int]
    window: list[str]  # doc tokens [pos, pos+W)


@dataclass
class WCandidate:
    tokens: list[str]
    support: int
    occs: list[WOcc] = field(default_factory=list)
    # canonical example doc ids (<= 2, sorted); set by bloomspan.mine,
    # which keeps no occs
    examples: list | None = None

    @property
    def text(self) -> str:
        return " ".join(self.tokens)


class WindowExhausted(RuntimeError):
    """Raised when expansion would read past the window W; the caller must
    retry with a larger W (operators/bloomspan.py doubles W and retries)."""


def expand_windowed(
    candidates: list[WCandidate],
    min_docs: int,
    min_l: int,
    *,
    window: int,
    stats: dict | None = None,
) -> list[WCandidate]:
    """Score-ordered greedy expansion + occupancy bitmask + backward closure.

    Deterministic deviations from the reference's unstable ties are documented
    in core/pyref.py.  ``window`` is W, the gathered slice length; expansion
    reaching W raises :class:`WindowExhausted` (phrase might continue beyond
    the gathered slice).  ``stats`` (optional dict) receives the selection
    counters of the M5 mining-statistics table.
    """
    candidates = sorted(
        candidates,
        key=lambda c: (-c.support * len(c.tokens), -c.support, c.tokens),
    )

    processed: dict[int | str, set[int]] = defaultdict(set)
    final: list[WCandidate] = []
    n_skipped = n_closed = 0

    for cand in candidates:
        # Skip iff ALL occurrence START positions already covered (":633-640").
        if all(o.pos in processed[o.doc_id] for o in cand.occs):
            n_skipped += 1
            continue

        # Greedy right-expansion (":642-673").
        while True:
            plen = len(cand.tokens)
            if plen >= window:
                raise WindowExhausted(
                    f"phrase reached window W={window}; re-gather with larger W"
                )
            next_word_occs: dict[str, list[WOcc]] = defaultdict(list)
            for o in cand.occs:
                if plen < len(o.window):
                    next_word_occs[o.window[plen]].append(o)

            best_word, max_support, best_occs = None, 0, None
            for word in sorted(next_word_occs):  # deterministic tie: min token
                olist = next_word_occs[word]
                uniq = len({o.doc_id for o in olist})
                if uniq >= min_docs and uniq > max_support:
                    max_support, best_word, best_occs = uniq, word, olist
            if best_word is None:
                break
            cand.tokens.append(best_word)
            cand.occs = best_occs
            cand.support = max_support

        # Backward closure (":675-695"): same token precedes every occurrence
        # -> proper suffix of a longer frequent phrase -> drop, don't mark.
        if cand.occs:
            prev0 = cand.occs[0].prev
            if prev0 is not None and all(o.prev == prev0 for o in cand.occs):
                n_closed += 1
                continue

        plen = len(cand.tokens)
        for o in cand.occs:  # mark covered positions (":697-702")
            processed[o.doc_id].update(range(o.pos, o.pos + plen))

        if plen >= min_l:  # ":703-705"
            final.append(cand)

    if stats is not None:
        stats.update(
            selection_skipped_covered=n_skipped, selection_dropped_closure=n_closed
        )
    return final
