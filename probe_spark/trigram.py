"""Byte-trigram codes of the trigram postings lane: the exact-term
(quoted/negated) prefilter.

Probe answers exact/quoted terms by substring containment -- it regex-scans
every file on every query (ripgrep_searcher.rs).  The engine instead serves
a rescue needle from the trigram postings lane (the Zoekt / Code Search
design): at build time every doc's containment haystack ``lower(text) +
"\n" + lower(url)`` (the same haystack the oracle scans, oracle.py
doc_term_freqs) is cut into its distinct byte trigrams, and the lane lists,
per trigram, the docs that hold it (tri_postings, with its dictionary
tri_terms).  At query time the needle's rarest listed trigrams are
intersected and only those candidates pay the real containment check
against the text column.

A code is the trigram's 3 UTF-8 bytes read as a 24-bit big-endian int, so
codes never collide.  The lane is a SUPERSET filter -- no false negatives
by construction: every byte window of a substring is a byte window of the
haystack -- so the verify step keeps semantics exact.  Needles shorter
than 3 bytes have no trigram and are verified by the plain scan.

Cutoff rule (``tri_cutoff``): a trigram whose df exceeds
``max(TRI_DIRECT_FRAC * n_docs, TRI_DIRECT_FLOOR)`` is too common to prune
the verify (its candidates blanket every parquet row group), so the build
writes no posting list for it and the engine never selects it.
"""

from __future__ import annotations

import numpy as np

# Selectivity rule of the trigram postings lane.  A trigram whose df
# exceeds tri_cutoff(n) is too common to prune the containment verify: its
# candidates blanket every parquet row group.  The engine never serves a
# needle from such a list, so the build does not write it (only "useful"
# grams are indexed, as in FREE: Cho & Rajagopalan, ICDE 2002); tri_terms
# still records every trigram's true df.
TRI_DIRECT_FRAC = 0.05
TRI_DIRECT_FLOOR = 1_000


def tri_cutoff(
    n_docs: int, frac: float | None = None, floor: float | None = None
) -> float:
    """The lane's df cutoff ``max(frac * n_docs, floor)`` (module defaults
    when unset): trigrams with df above it are unlisted."""
    frac = TRI_DIRECT_FRAC if frac is None else frac
    floor = TRI_DIRECT_FLOOR if floor is None else floor
    return max(frac * n_docs, floor)


def _tri_codes(data: bytes) -> np.ndarray:
    """All byte-trigram codes of ``data`` (24-bit ints), deduped."""
    b = np.frombuffer(data, dtype=np.uint8)
    if len(b) < 3:
        return np.empty(0, dtype=np.uint64)
    h = (
        (b[:-2].astype(np.uint64) << np.uint64(16))
        | (b[1:-1].astype(np.uint64) << np.uint64(8))
        | b[2:].astype(np.uint64)
    )
    return np.unique(h)


def doc_tri_codes(text: str, url: str) -> np.ndarray:
    """Distinct 24-bit trigram codes (int32) of one doc's containment
    haystack -- the build side of the lane (the indexer's slice writer)."""
    hay = (text or "").lower() + "\n" + (url or "").lower()
    return _tri_codes(hay.encode("utf-8")).astype(np.int32)


def needle_tri_codes(needle: str) -> list[int]:
    """Distinct 24-bit byte-trigram codes of a rescue needle (lowercased,
    UTF-8) -- the query side of the lane; MUST mirror doc_tri_codes'
    haystack encoding."""
    return [int(c) for c in _tri_codes(needle.lower().encode("utf-8"))]
