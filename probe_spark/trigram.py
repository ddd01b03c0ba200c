"""Per-doc trigram bloom filters: the exact-term (quoted/negated) prefilter.

Probe answers exact/quoted terms by substring containment -- it regex-scans
every file on every query (ripgrep_searcher.rs).  Our engine scans only the
doc store for the quoted terms of a query (engine.py rescue path), but that
is still a full pass over the text column.  This module adds the Zoekt-style
fix re-shaped for a columnar doc store: at build time each document gets a
small bloom filter over the byte trigrams of ``lower(text) + "\n" +
lower(url)`` (the same haystack the oracle scans, oracle.py
doc_term_freqs); at query time a needle's trigrams are checked against the
blooms of the slim doc_lens table, and only surviving candidates pay the
real containment verification against the text column.

The bloom is a SUPERSET filter -- no false negatives by construction (every
substring's trigrams are a subset of the haystack's trigrams), so the
verify step keeps semantics exact.  1 KiB / 2 hashes holds ~3k distinct
trigrams at ~52% fill: per-trigram FPR ~0.27, so a 10-trigram needle leaks
~2e-6 of non-matching docs into verification.

Everything is numpy-vectorized: build hashes one rolling-window pass per
doc; the query-side check stacks all blooms of an Arrow batch and tests the
needle's bit positions across rows in one masked compare.
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


BLOOM_BYTES = 1024
BLOOM_BITS = BLOOM_BYTES * 8  # power of two: cheap masking
_MULTS = (np.uint64(0x9E3779B97F4A7C15), np.uint64(0xC2B2AE3D27D4EB4F))
_MASK = np.uint64(BLOOM_BITS - 1)


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


def _bit_positions(codes: np.ndarray) -> list[np.ndarray]:
    """K hash positions per code (multiply-shift into BLOOM_BITS)."""
    return [
        ((codes * m) >> np.uint64(32)) & _MASK for m in _MULTS
    ]


def bloom_build(data: bytes) -> bytes:
    """Bloom filter (BLOOM_BYTES) over the byte trigrams of ``data``.
    Bit i lives at byte i>>3, mask 1<<(i&7) -- packbits little bitorder
    (duplicate positions collapse in the boolean assignment; no slow
    scatter-or needed)."""
    bits = np.zeros(BLOOM_BITS, dtype=bool)
    codes = _tri_codes(data)
    if len(codes):
        for idx in _bit_positions(codes):
            bits[idx.astype(np.int64)] = True
    return np.packbits(bits, bitorder="little").tobytes()


def doc_bloom(text: str, url: str) -> bytes:
    """The build-time per-doc bloom: same haystack as the oracle's
    containment rescue (text.lower() + newline + url.lower())."""
    hay = (text or "").lower() + "\n" + (url or "").lower()
    return bloom_build(hay.encode("utf-8"))


def doc_bloom_and_codes(text: str, url: str) -> tuple[bytes, np.ndarray]:
    """(bloom bytes, distinct 24-bit trigram codes as int32) for one doc's
    haystack -- one pass feeds BOTH the bloom column and the trigram
    postings lane (the indexer's slice writer).  Codes are byte trigrams
    of the UTF-8 haystack: a needle substring's byte windows are a subset
    of the hay's byte windows, so posting-list intersection on codes is a
    superset filter exactly like the bloom, with zero hash collisions (the code IS
    the 3 bytes)."""
    hay = (text or "").lower() + "\n" + (url or "").lower()
    codes = _tri_codes(hay.encode("utf-8"))
    bits = np.zeros(BLOOM_BITS, dtype=bool)
    if len(codes):
        for idx in _bit_positions(codes):
            bits[idx.astype(np.int64)] = True
    bloom = np.packbits(bits, bitorder="little").tobytes()
    return bloom, codes.astype(np.int32)


def doc_tri_codes(text: str, url: str) -> np.ndarray:
    """Distinct 24-bit trigram codes (int32) of one doc's containment
    haystack -- the bloom-free build path (the trigram postings lane fully
    supersedes the per-doc bloom column; at 10^10 docs the 1 KiB/doc bloom
    alone is ~10 TB of build writes that no fresh-layout query reads)."""
    hay = (text or "").lower() + "\n" + (url or "").lower()
    return _tri_codes(hay.encode("utf-8")).astype(np.int32)


def needle_tri_codes(needle: str) -> list[int]:
    """Distinct 24-bit byte-trigram codes of a rescue needle (lowercased,
    UTF-8) -- the query side of the trigram postings lane; MUST mirror
    doc_bloom_and_codes' haystack encoding."""
    return [int(c) for c in _tri_codes(needle.lower().encode("utf-8"))]


def bloom_batch_might_contain(
    blooms, needle: str
) -> np.ndarray:
    """Vectorized membership test: for each bloom in the iterable (bytes,
    one per doc), True iff every trigram of ``needle`` is present.  Needles
    shorter than 3 bytes have no trigrams => all-True (caller falls back to
    a full verify scan).  A null/absent bloom (doc from a bloom-free build
    folded into a legacy layout) cannot refute: treated as all-ones."""
    codes = _tri_codes(needle.lower().encode("utf-8"))
    ones = np.full(BLOOM_BYTES, 0xFF, dtype=np.uint8)
    mat = np.stack(
        [
            np.frombuffer(b, dtype=np.uint8) if b is not None else ones
            for b in blooms
        ]
    )  # (n_docs, BLOOM_BYTES)
    if len(codes) == 0:
        return np.ones(mat.shape[0], dtype=bool)
    ok = np.ones(mat.shape[0], dtype=bool)
    for idx in _bit_positions(codes):
        byte_ix = (idx >> np.uint64(3)).astype(np.int64)
        bit = (np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8))
        ok &= np.all(mat[:, byte_ix] & bit == bit, axis=1)
    return ok
