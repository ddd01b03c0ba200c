"""probe tokenizer pipeline, pure Python, shared by oracle and Spark UDFs.

Faithful re-implementation of the reference tokenizer (SURVEY.md SS2.5,
/root/reference/src/search/tokenization.rs):

  T1  whitespace split                      tokenization.rs:2742
  T2  non-alnum split + negation capture    tokenization.rs:2744-2777
  T3  camelCase split w/ special cases      tokenization.rs:1936-2081
  T4  stop-word filter                      tokenization.rs:2084-2103
  T5  negated-term filter                   tokenization.rs:2800-2840
  T6  compound split (filtering cache path) tokenization.rs:761-830
  T7  exception/special preservation        tokenization.rs:2819-2844
  T8  Snowball English stemming             ranking.rs:37-40
  T9  ordered dedup                         tokenization.rs:2780-2849

Design decision (SURVEY.md SS7.0): probe's dynamic special terms are a
process-global mutated at query-parse time (tokenization.rs:845-879) which
would poison doc tokenization across queries/executors.  Here they are an
explicit ``special_terms`` parameter: document tokenization at index-build
time always uses the static tables (empty set); the query parser threads a
per-query set through.

Known deliberate divergences from the reference (documented, deterministic):
  * exception-term substring split (tokenization.rs:1998-2023) iterates a
    Rust HashSet in nondeterministic order; we iterate in sorted order.
  * the ``decompound`` crate fallback is re-implemented as a recursive
    shortest-prefix-first full decomposition over the same fixed vocabulary
    (tokenization.rs:797-806); it only fires for words absent from every
    static table.
"""

from __future__ import annotations

from functools import lru_cache

from probe_spark._tables import (
    COMMON_NON_COMPOUND_WORDS,
    CRITICAL_PROGRAMMING_TERMS,
    ENGLISH_STOP_WORDS,
    EXCEPTION_TERMS,
    FILTERING_COMPOUND_SPLITS,
    PRECOMPUTED_COMPOUND_SPLITS,
    PROGRAMMING_STOP_WORDS,
    SPECIAL_CASE_WORDS,
    VOCABULARY,
)
from probe_spark.stemmer import stem

_EMPTY: frozenset[str] = frozenset()

# Longest-first, then lexicographic for determinism (Rust sorts a HashSet
# iteration by Reverse(len) only -- ties can never both prefix-match, so the
# tie order is immaterial; lexicographic makes ours reproducible).
_SPECIAL_CASES_BY_LEN = tuple(
    sorted(SPECIAL_CASE_WORDS, key=lambda w: (-len(w), w))
)
_EXCEPTION_TERMS_SORTED = tuple(sorted(EXCEPTION_TERMS))


def is_english_stop_word(word: str) -> bool:
    """tokenization.rs:2084-2093 -- stopword list plus integers 0..10."""
    if word.isascii() and word.isdigit():
        try:
            if int(word) <= 10:
                return True
        except ValueError:  # pragma: no cover
            pass
    return word in ENGLISH_STOP_WORDS


def is_programming_stop_word(word: str) -> bool:
    return word in PROGRAMMING_STOP_WORDS


def is_stop_word(word: str) -> bool:
    """tokenization.rs:2101-2103."""
    return is_english_stop_word(word) or is_programming_stop_word(word)


def is_special_case(word: str, special_terms: frozenset[str] = _EMPTY) -> bool:
    """tokenization.rs:1195-1240 (static list + per-query dynamic terms)."""
    lw = word.lower()
    return lw in SPECIAL_CASE_WORDS or lw in special_terms


def is_exception_term(word: str) -> bool:
    """term_exceptions.rs:64-66."""
    return word.lower() in EXCEPTION_TERMS


def decompound(word: str, vocab: frozenset[str] = VOCABULARY) -> list[str]:
    """Full decomposition of ``word`` into >=2 vocabulary words, or [].

    Re-implementation of the public ``decompound`` crate fallback used at
    tokenization.rs:797-806: recursive split, shortest valid prefix first,
    every constituent must pass the validity predicate (lowercase membership
    in the fixed vocabulary).
    """

    def rec(w: str) -> list[str] | None:
        n = len(w)
        for i in range(1, n):
            left, right = w[:i], w[i:]
            if left.lower() in vocab:
                if right.lower() in vocab:
                    return [left, right]
                sub = rec(right)
                if sub is not None:
                    return [left, *sub]
        return None

    if len(word) < 2:
        return []
    parts = rec(word)
    return parts if parts is not None else []


def should_skip_compound_processing(word: str) -> bool:
    """tokenization.rs:1870-1922 (used by split_compound_word, Q8 path)."""
    lw = word.lower()
    if lw in CRITICAL_PROGRAMMING_TERMS:
        return False
    if len(word) < 6:
        return True
    for c in word:
        if c.isnumeric() or (_is_ascii_punct(c) and c not in "_-"):
            return True
    if lw in COMMON_NON_COMPOUND_WORDS:
        return True
    if len(word) >= 3 and all(c == word[0] for c in word):
        return True
    return False


def _is_ascii_punct(c: str) -> bool:
    return c.isascii() and not c.isalnum() and c.isprintable() and c != " "


@lru_cache(maxsize=65536)
def _split_compound_cached_static(lowercase_word: str) -> tuple[str, ...]:
    """Static-table portion of split_compound_word_cached (tokenization.rs
    :761-830) for an already-lowercased word that is NOT a special case."""
    if lowercase_word in EXCEPTION_TERMS:
        return (lowercase_word,)
    if lowercase_word in VOCABULARY:
        return (lowercase_word,)
    hit = FILTERING_COMPOUND_SPLITS.get(lowercase_word)
    if hit is not None:
        return hit
    hit = PRECOMPUTED_COMPOUND_SPLITS.get(lowercase_word)
    if hit is not None:
        return hit
    parts = decompound(lowercase_word)
    return tuple(parts) if parts else (lowercase_word,)


def split_compound_word_for_filtering(
    word: str, special_terms: frozenset[str] = _EMPTY
) -> list[str]:
    """tokenization.rs:832-834 -> split_compound_word_cached (:761-830)."""
    lw = word.lower()
    if is_special_case(word, special_terms):
        return [lw]
    if lw in EXCEPTION_TERMS or lw in VOCABULARY:
        return [word]
    return list(_split_compound_cached_static(lw))


def split_compound_word(word: str, special_terms: frozenset[str] = _EMPTY) -> list[str]:
    """tokenization.rs:2117-2179 (skip-heuristic variant, kept for parity
    tests; the tokenize() hot path uses split_compound_word_for_filtering)."""
    if should_skip_compound_processing(word):
        return [word]
    if is_special_case(word, special_terms):
        return [word.lower()]
    lw = word.lower()
    if lw in EXCEPTION_TERMS:
        return [word]
    if lw in VOCABULARY:
        return [word]
    hit = PRECOMPUTED_COMPOUND_SPLITS.get(lw)
    if hit is not None:
        return list(hit)
    parts = decompound(word)
    return parts if parts else [word]


def split_camel_case(
    word: str, special_terms: frozenset[str] = _EMPTY
) -> list[str]:
    """tokenization.rs:1936-2081 (split_camel_case_with_config)."""
    return list(_split_camel_case_cached(word, special_terms))


@lru_cache(maxsize=65536)
def _split_camel_case_cached(
    word: str, special_terms: frozenset[str]
) -> tuple[str, ...]:
    """split_camel_case as a tuple, memoized on (word, special_terms): a
    corpus repeats few distinct raw tokens (5,055 among 300,704 calls over
    the 5000-doc perfbench corpus and its urls), and each miss makes one
    startswith probe per special case."""
    if not word:
        return ()
    if is_special_case(word, special_terms):
        return (word.lower(),)

    lowercase = word.lower()

    # oauth2 prefix special case (tokenization.rs:1957-1964)
    if lowercase.startswith("oauth2"):
        remaining = word[6:]
        if remaining:
            return ("oauth2", *_split_camel_case_cached(remaining, special_terms))

    # longest-first special-case prefix peel (tokenization.rs:1966-1985)
    for sc in _SPECIAL_CASES_BY_LEN:
        if lowercase.startswith(sc):
            remaining = word[len(sc):]
            if remaining:
                return (sc, *_split_camel_case_cached(remaining, special_terms))

    # all-lowercase identifiers (tokenization.rs:1988-2025)
    if word == lowercase and "_" not in word and len(word) > 3:
        hit = PRECOMPUTED_COMPOUND_SPLITS.get(lowercase)
        if hit is not None:
            return hit
        for term in _EXCEPTION_TERMS_SORTED:
            if term in word and term != word:
                pieces = word.split(term)
                if len(pieces) > 1:
                    result: list[str] = []
                    for i, piece in enumerate(pieces):
                        if piece:
                            result.append(piece)
                        if i < len(pieces) - 1:
                            result.append(term)
                    if result:
                        return tuple(result)

    # char state machine (tokenization.rs:2028-2076)
    result = []
    current: list[str] = []
    prev_is_lower = prev_is_upper = prev_is_digit = False
    n = len(word)
    for i, c in enumerate(word):
        is_upper = "A" <= c <= "Z"
        is_lower = "a" <= c <= "z"
        is_digit = "0" <= c <= "9"
        if current and (
            (prev_is_lower and is_upper)
            or (prev_is_digit != is_digit)
            or (
                prev_is_upper
                and is_upper
                and i + 1 < n
                and "a" <= word[i + 1] <= "z"
            )
        ):
            result.append("".join(current))
            current = []
        current.append(c)
        prev_is_lower, prev_is_upper, prev_is_digit = is_lower, is_upper, is_digit
    if current:
        result.append("".join(current))
    return tuple(w.lower() for w in result)


def _raw_tokens(text: str) -> tuple[list[str], set[str]]:
    """T1+T2: whitespace split then non-alnum split with negation capture
    (tokenization.rs:2742-2777). Returns (tokens, negated_terms)."""
    tokens: list[str] = []
    negated: set[str] = set()
    for word in text.split():
        is_negated = word.startswith("-")
        body = word[1:] if is_negated else word
        current: list[str] = []
        for c in body:
            if c.isalnum():
                current.append(c)
            elif current:
                tok = "".join(current)
                if is_negated:
                    negated.add(tok.lower())
                tokens.append(tok)
                current = []
        if current:
            tok = "".join(current)
            if is_negated:
                negated.add(tok.lower())
            tokens.append(tok)
    return tokens, negated


def tokenize(text: str, special_terms: frozenset[str] = _EMPTY) -> list[str]:
    """The content tokenizer (tokenization.rs:2728-2850)."""
    tokens, negated = _raw_tokens(text)
    processed: set[str] = set()
    result: list[str] = []
    for token in tokens:
        for part in _split_camel_case_cached(token, special_terms):
            lp = part.lower()
            if is_stop_word(lp):
                continue
            if lp in negated:
                continue
            for cp in split_compound_word_for_filtering(lp, special_terms):
                if is_stop_word(cp):
                    continue
                if cp in negated:
                    continue
                if is_special_case(cp, special_terms):
                    if cp not in processed:
                        processed.add(cp)
                        result.append(cp)
                    continue
                if is_exception_term(cp) and cp not in processed:
                    processed.add(cp)
                    result.append(cp)
                stemmed = stem(cp)
                if stemmed in negated:
                    continue
                if stemmed not in processed:
                    processed.add(stemmed)
                    result.append(stemmed)
    return result


def tokenize_and_stem(
    keyword: str, special_terms: frozenset[str] = _EMPTY
) -> list[str]:
    """tokenization.rs:2682-2713 (query-side term expansion)."""
    camel_parts = split_camel_case(keyword, special_terms)
    if len(camel_parts) > 1:
        return [stem(p) for p in camel_parts if not is_stop_word(p)]
    compound_parts = split_compound_word_for_filtering(keyword, special_terms)
    if len(compound_parts) > 1:
        return [stem(p) for p in compound_parts if not is_stop_word(p)]
    return [stem(keyword)]


def preprocess_text_with_url(text: str, url: str) -> list[str]:
    """Web analog of preprocess_text_with_filename (ranking.rs:56-61):
    content tokens followed by url tokens."""
    out = tokenize(text)
    out.extend(tokenize(url))
    return out
