"""Shared engine/oracle configuration.

BM25 parameters: the north rule mandates k1=1.2, b=0.75 ("as in probe's
ranking module").  Note the discrepancy documented in SURVEY.md SS7.0: the
reference's live final-scoring code uses k1=1.5, b=0.5
(/root/reference/src/ranking.rs:363-364), with 1.2/0.75 surviving in the SIMD
prefilter (src/simd_ranking.rs:232-233) and early ranker
(src/search/early_ranker.rs:35-36).  A single shared config keeps engine and
oracle rank-identical for any setting; default is the mandated 1.2/0.75.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class BM25Params:
    k1: float = 1.2
    b: float = 0.75


DEFAULT_BM25 = BM25Params()

# ranking.rs:164-184 -- probe maps query terms to u8; queries above 256
# unique terms are rejected.  Kept as a validated constraint.
MAX_QUERY_TERMS = 256

# Language alias normalization (normalize_language_alias,
# /root/reference/src/search/search_runner.rs:1904-1921).  Applied to BOTH
# the lang: filter value and the document lang label (the reference
# normalizes the requested language before consulting its language map;
# normalizing both sides is the symmetric web-schema analog), shared by
# engine and oracle so rank identity holds.
LANG_ALIASES = {
    "rs": "rust",
    "js": "javascript",
    "jsx": "javascript",
    "ts": "typescript",
    "tsx": "typescript",
    "py": "python",
    "h": "c",
    "cc": "cpp",
    "cxx": "cpp",
    "hpp": "cpp",
    "hxx": "cpp",
    "rb": "ruby",
    "cs": "csharp",
    "sol": "solidity",
    "cr": "crystal",
    "hs": "haskell",
    "lhs": "haskell",
}


def normalize_lang(value: str) -> str:
    v = (value or "").lower()
    return LANG_ALIASES.get(v, v)
