"""Single-node oracle: tokenizer + parser + BM25 scorer over a small corpus.

This is the rank-identity reference for the Spark engine (FIXTURES.md SS5):
both share the tokenizer (textkit), parser (elastic), BM25 formulas and
tie-breaks; the oracle simply runs them in plain Python over in-memory docs.

Scoring model (SURVEY.md SS2.7, /root/reference/src/ranking.rs):
  * IDF = ln(1 + (N - df + 0.5)/(df + 0.5)), terms with df == 0 contribute 0
    (ranking.rs:117-146)
  * per-term BM25 tf_part = f*(k1+1) / (f + k1*(1 - b + b*dl/avgdl))
    (ranking.rs:186-210)
  * boolean expression score: excluded drops doc if its score > 0; required
    drops doc if score == 0; AND sums both or drops; OR sums matching sides
    (ranking.rs:228-276)
  * sort score desc, tie-break doc_id asc (ranking.rs:408-420)

Design decisions vs the scan-on-demand reference (SURVEY.md SS7.0):
  * corpus statistics (N, df, avgdl, doc_len) are GLOBAL index-time values,
    not per-query candidate-set values;
  * doc tokens = tokenize(text) ++ tokenize(url) (web analog of
    preprocess_text_with_filename, ranking.rs:56-61); doc_len = len(tokens)
    at index time;
  * exact (quoted) terms match by case-insensitive substring containment in
    text or url -- mirroring the exact-term rescue at
    file_processing.rs:1350-1358 -- with tf = 1 when rescued; the reference
    applies that rescue to every query term, which requires a full scan per
    query; we restrict it to exact terms (regular terms resolve via the
    index), documented divergence.
"""

from __future__ import annotations

import math
import re
import sys
from dataclasses import dataclass

from probe_spark import elastic, textkit
from probe_spark.config import DEFAULT_BM25, BM25Params
from probe_spark.elastic import And, Or, QueryPlan, Term


@dataclass
class Doc:
    doc_id: int
    url: str
    text: str
    lang: str


@dataclass
class CorpusIndex:
    docs: list[Doc]
    tokens: list[list[str]]  # per doc, positional (with duplicates)
    doc_lens: list[int]
    n_docs: int
    avgdl: float
    df: dict[str, int]  # term -> number of docs containing it
    # text-only token sets per doc: the -n/--exclude-filenames match view
    # (url-token credit dropped from MATCHING; tf for scoring stays full,
    # mirroring the reference whose ranking tokenization is unconditionally
    # filename-inclusive -- see engine.SearchEngine.search docstring)
    text_token_sets: list[frozenset[str]] = None  # type: ignore[assignment]
    # (term, exclude_filenames) -> rescue containment df; lazily filled by
    # global_df (the index is immutable after build, so the memo is safe)
    rescue_df_cache: dict | None = None

    @classmethod
    def build(cls, docs: list[Doc], workers: int = 1) -> "CorpusIndex":
        """``workers > 1`` tokenizes doc chunks in a fork Pool -- the SAME
        shared textkit kernel, just more hosts of it (a numpy re-tokenizer
        would risk oracle/engine divergence; process parallelism cannot).
        Large identity runs (scripts/rank_identity_scale.py) pass
        workers=cpu_count; tests keep the default in-process path."""
        docs = sorted(docs, key=lambda d: d.doc_id)
        n = len(docs)
        if workers > 1 and n >= 10_000:
            from multiprocessing import get_context

            step = (n + workers * 4 - 1) // (workers * 4)
            chunks = [docs[i : i + step] for i in range(0, n, step)]
            with get_context("fork").Pool(workers) as pool:
                parts = pool.map(_build_chunk, chunks)
        else:
            parts = [_build_chunk(docs)]
        tokens: list[list[str]] = []
        text_sets: list[frozenset[str]] = []
        df: dict[str, int] = {}
        for toks_c, sets_c, df_c in parts:
            tokens.extend(toks_c)
            text_sets.extend(sets_c)
            for t, c in df_c.items():
                df[t] = df.get(t, 0) + c
        doc_lens = [len(t) for t in tokens]
        avgdl = (sum(doc_lens) / n) if n else 0.0
        return cls(docs, tokens, doc_lens, n, avgdl, df, text_sets)


def _build_chunk(
    docs_chunk: list[Doc],
) -> tuple[list[list[str]], list[frozenset[str]], dict[str, int]]:
    """Tokenize one chunk of docs (module-level for Pool picklability):
    per-doc full tokens (text ++ url, T11), text-only token sets (the -n
    match view), and a partial df counter."""
    tokens: list[list[str]] = []
    text_sets: list[frozenset[str]] = []
    df: dict[str, int] = {}
    for d in docs_chunk:
        # intern every token: corpora have small vocabularies, so per-doc
        # storage collapses to pointer arrays (one string object per
        # unique term instead of per occurrence).  At 1M+ docs this is
        # the difference between ~15 GB and ~5 GB of oracle RSS -- and
        # pickle's identity memo then dedups each chunk's return payload
        # for free on the Pool path.  Value-identical, so no divergence.
        tt = [sys.intern(t) for t in textkit.tokenize(d.text)]
        toks = tt + [sys.intern(t) for t in textkit.tokenize(d.url)]
        tokens.append(toks)
        text_sets.append(frozenset(tt))
        for t in set(toks):
            df[t] = df.get(t, 0) + 1
    return tokens, text_sets, df


def idf(n_docs: int, df: int) -> float:
    """ranking.rs:136-138."""
    if df <= 0:
        return 0.0
    return math.log(1.0 + (n_docs - df + 0.5) / (df + 0.5))


def bm25_tf_part(freq: float, doc_len: int, avgdl: float, p: BM25Params) -> float:
    """ranking.rs:203-208.  avgdl == 0 (all-empty corpus) follows Rust f64
    IEEE semantics: dl/0.0 = inf => tf_part = 0.0, no crash."""
    if avgdl <= 0.0:
        return 0.0
    return (freq * (p.k1 + 1.0)) / (
        freq + p.k1 * (1.0 - p.b + p.b * (doc_len / avgdl))
    )


def score_expr(
    expr: elastic.Expr,
    tf: dict[str, int],
    doc_len: int,
    avgdl: float,
    idfs: dict[str, float],
    p: BM25Params,
) -> float | None:
    """ranking.rs:228-276 (score_expr_bm25_optimized)."""
    if isinstance(expr, Term):
        total = 0.0
        for kw in expr.lowercase_keywords:
            f = tf.get(kw, 0)
            if f > 0:
                total += idfs.get(kw, 0.0) * bm25_tf_part(
                    float(f), doc_len, avgdl, p
                )
        if expr.excluded:
            return None if total > 0.0 else 0.0
        if expr.required:
            return total if total > 0.0 else None
        return total
    if isinstance(expr, And):
        l = score_expr(expr.left, tf, doc_len, avgdl, idfs, p)
        if l is None:
            return None
        r = score_expr(expr.right, tf, doc_len, avgdl, idfs, p)
        if r is None:
            return None
        return l + r
    l = score_expr(expr.left, tf, doc_len, avgdl, idfs, p)
    r = score_expr(expr.right, tf, doc_len, avgdl, idfs, p)
    if l is None and r is None:
        return None
    return (l or 0.0) + (r or 0.0)


def rescue_terms(plan: QueryPlan) -> frozenset[str]:
    """Terms matched by case-insensitive substring containment rather than
    via index tokens: exactly the keywords probe registers as dynamic special
    terms (exact or excluded terms, elastic_query.rs:791-814), restricted to
    the query's own term set."""
    return frozenset(t for t in plan.special_terms if t in plan.term_indices)


def doc_term_freqs(
    index: CorpusIndex, i: int, plan: QueryPlan, exclude_filenames: bool = False
) -> dict[str, int]:
    """Per-doc term frequencies for the query's terms, incl. the exact-term
    substring rescue (file_processing.rs:1350-1358, tf=1 when rescued).
    exclude_filenames (-n): a term only MATCHES when present in the text
    tokens / text haystack; the tf VALUE stays the full (url-inclusive)
    count, mirroring the reference (see CorpusIndex.text_token_sets)."""
    toks = index.tokens[i]
    tf: dict[str, int] = {}
    for term in plan.term_indices:
        c = toks.count(term)
        if c > 0 and (
            not exclude_filenames or term in index.text_token_sets[i]
        ):
            tf[term] = c
    rescues = rescue_terms(plan)
    if rescues:
        d = index.docs[i]
        hay = (
            d.text.lower()
            if exclude_filenames
            else d.text.lower() + "\n" + d.url.lower()
        )
        for term in rescues:
            if term not in tf and term in hay:
                tf[term] = 1
    return tf


def global_df(
    index: CorpusIndex, plan: QueryPlan, exclude_filenames: bool = False
) -> dict[str, int]:
    """Global document frequencies for query terms; rescue terms (exact /
    excluded) use a corpus containment-or-token count.  Regular-term df
    stays the index-time dictionary value under -n (global stats are an
    index-time design decision, SURVEY.md SS7.0); only the rescue count
    follows the -n match view for consistency with matching."""
    rescues = rescue_terms(plan)
    out: dict[str, int] = {}
    for term in plan.term_indices:
        base = index.df.get(term, 0)
        if term in rescues:
            # the rescue count is an O(corpus) containment scan; memoize
            # it on the (immutable-after-build) index so repeated queries
            # -- and fork-pool shard workers that inherit a parent-warmed
            # cache copy-on-write (scripts/rank_identity_scale.py) --
            # never rescan
            if index.rescue_df_cache is None:
                index.rescue_df_cache = {}
            ck = (term, exclude_filenames)
            if ck in index.rescue_df_cache:
                out[term] = index.rescue_df_cache[ck]
                continue
            cnt = 0
            for i, d in enumerate(index.docs):
                tok_hit = (
                    term in index.text_token_sets[i]
                    if exclude_filenames
                    else term in index.tokens[i]
                )
                hay = (
                    d.text.lower()
                    if exclude_filenames
                    else d.text.lower() + "\n" + d.url.lower()
                )
                if tok_hit or term in hay:
                    cnt += 1
            index.rescue_df_cache[ck] = cnt
            out[term] = cnt
        else:
            out[term] = base
    return out


_EXT_RE = re.compile(r"\.([A-Za-z0-9]+)([?#].*)?$")


def url_extension(url: str) -> str:
    """The web analog of a file extension: trailing .alnum run of the url
    (before any ?query/#fragment), lowercased; '' when absent.  Shared by
    oracle and engine (filters.rs:98-202 ext class, re-keyed on url)."""
    m = _EXT_RE.search(url or "")
    return m.group(1).lower() if m else ""


def apply_filters(
    index: CorpusIndex,
    plan: QueryPlan,
    doc_range: tuple[int, int] | None = None,
) -> list[int]:
    """F1/F3 for the web schema: lang filter on the lang column; url filters
    (file/path/filename/dir) as case-insensitive substring on url; ext/
    extension as the url's trailing extension.  type: has no web meaning
    (tree-sitter language map) and is ignored -- documented in COVERAGE.
    ``doc_range`` bounds the scan to positions [lo, hi) (see search)."""
    from probe_spark.config import normalize_lang

    keep = []
    lang_vals = {
        normalize_lang(v)
        for f in ("lang", "language")
        for v in plan.filters.get(f, [])
    }
    url_subs = [
        v.lower()
        for f in ("file", "path", "filename", "dir", "directory")
        for v in plan.filters.get(f, [])
    ]
    ext_vals = {
        v.lower().lstrip(".")
        for f in ("ext", "extension")
        for v in plan.filters.get(f, [])
    }
    lo, hi = doc_range if doc_range is not None else (0, len(index.docs))
    for i in range(lo, hi):
        d = index.docs[i]
        if lang_vals and normalize_lang(d.lang) not in lang_vals:
            continue
        if url_subs and not all(s in d.url.lower() for s in url_subs):
            continue
        if ext_vals and url_extension(d.url) not in ext_vals:
            continue
        keep.append(i)
    return keep


# result_ranking.rs:12 constants (boost = 1 + cov^EXP * MULT).  Only
# coverage_boost below computes the formula: every other host looks its
# values up in lanes.boost_table by matched count, because pow differs
# across numpy, the JVM and Python in the last ulp
COVERAGE_BOOST_EXP = 1.5
COVERAGE_BOOST_MULT = 2.0


def coverage_boost(unique_matched: int, denominator: int) -> float:
    """result_ranking.rs:8-18 (calculate_coverage_boost).  NOTE: the
    reference divides by queries.len() -- the number of query STRINGS --
    which is 1 for a single query and makes the boost a rank-neutral
    constant 3x; passing the query term count gives the useful variant."""
    if denominator <= 0:
        cov = 0.0
    else:
        cov = min(unique_matched / denominator, 1.0)
    return 1.0 + cov**COVERAGE_BOOST_EXP * COVERAGE_BOOST_MULT


def search(
    index: CorpusIndex,
    query: str,
    k: int = 10,
    params: BM25Params = DEFAULT_BM25,
    exact: bool = False,
    boost_coverage: bool = False,
    exclude_filenames: bool = False,
    doc_range: tuple[int, int] | None = None,
) -> list[tuple[int, float]]:
    """Top-k (doc_id, score), rank order (score desc, doc_id asc).
    boost_coverage multiplies BM25 by the R7 coverage boost with the query
    term count as denominator (node-type boost is identically 1.0 for web
    pages, SURVEY.md R7).  exclude_filenames drops url-token-only credit
    from matching (-n, see doc_term_freqs).

    ``doc_range=(lo, hi)`` restricts the SCAN to index positions
    [lo, hi) while keeping every global statistic (n_docs, avgdl, df)
    corpus-wide, so per-doc scores are identical to a full scan's --
    shard workers in scripts/rank_identity_scale.py evaluate disjoint
    ranges and the parent merges per-shard top-k exactly (scores are
    doc-local given the global stats; merge order (score desc, doc_id
    asc) is the same tie-break the full scan sorts by)."""
    plan = elastic.create_query_plan(query, exact)
    candidates = apply_filters(index, plan, doc_range=doc_range)

    if plan.is_universal_query:
        # filters-only query matches everything that passed filters, score 0
        return [(index.docs[i].doc_id, 0.0) for i in candidates[:k]]

    dfs = global_df(index, plan, exclude_filenames)
    idfs = {t: idf(index.n_docs, dfs.get(t, 0)) for t in plan.term_indices}

    scored: list[tuple[int, float]] = []
    for i in candidates:
        tf = doc_term_freqs(index, i, plan, exclude_filenames)
        matched = frozenset(
            plan.term_indices[t] for t in tf if t in plan.term_indices
        )
        if not elastic.evaluate(plan.ast, matched, plan.term_indices):
            continue
        s = score_expr(
            plan.ast, tf, index.doc_lens[i], index.avgdl, idfs, params
        )
        if s is None:
            continue
        if boost_coverage:
            s = s * coverage_boost(len(matched), len(plan.term_indices))
        scored.append((index.docs[i].doc_id, s))

    scored.sort(key=lambda x: (-x[1], x[0]))
    return scored[:k]


def search_files_only(
    index: CorpusIndex,
    query: str,
    exact: bool = False,
    exclude_filenames: bool = False,
) -> list[int]:
    """ALL matching doc_ids in doc_id order, no ranking -- the reference's
    --files-only mode (search_runner.rs:699-735 emits every candidate file
    with no scores).  The match test is the same boolean evaluation the
    ranked path uses."""
    plan = elastic.create_query_plan(query, exact)
    candidates = apply_filters(index, plan)
    if plan.is_universal_query:
        return [index.docs[i].doc_id for i in candidates]
    if not plan.term_indices:
        return []
    dfs = global_df(index, plan, exclude_filenames)
    idfs = {t: idf(index.n_docs, dfs.get(t, 0)) for t in plan.term_indices}
    out: list[int] = []
    for i in candidates:
        tf = doc_term_freqs(index, i, plan, exclude_filenames)
        matched = frozenset(
            plan.term_indices[t] for t in tf if t in plan.term_indices
        )
        if not elastic.evaluate(plan.ast, matched, plan.term_indices):
            continue
        s = score_expr(
            plan.ast, tf, index.doc_lens[i], index.avgdl, idfs, DEFAULT_BM25
        )
        if s is None:
            continue
        out.append(index.docs[i].doc_id)
    return sorted(out)


def rank_documents(
    docs: list[str], query: str, params: BM25Params | None = None
) -> list[tuple[int, float]]:
    """Strict parity port of ranking.rs:281-430 (rank_documents): candidate-
    set statistics (N = len(docs), df over docs), per-query special terms
    active during doc tokenization (probe's process-global leak, mirrored
    deliberately here and ONLY here), score all docs, drop None, sort by
    (score desc, doc index asc).  Used by the ported reference unit tests;
    the index pipeline lives in :func:`search`.

    NOTE: probe's live code scores with k1=1.5, b=0.5 here
    (ranking.rs:363-364); pass params explicitly when comparing scores.
    """
    p = params or DEFAULT_BM25
    ast, special = elastic.parse_query(query, False)
    terms = sorted({kw for t in elastic.walk_terms(ast) for kw in t.lowercase_keywords})
    if len(terms) > 256:
        return []
    tokenized = [textkit.tokenize(d, special) for d in docs]
    doc_lens = [len(t) for t in tokenized]
    dfs: dict[str, int] = {}
    for toks in tokenized:
        uniq = set(toks)
        for term in terms:
            if term in uniq:
                dfs[term] = dfs.get(term, 0) + 1
    n = len(docs)
    avgdl = (sum(doc_lens) / n) if n else 0.0
    idfs = {t: idf(n, dfs.get(t, 0)) for t in terms}
    out: list[tuple[int, float]] = []
    for i, toks in enumerate(tokenized):
        tf = {t: toks.count(t) for t in terms if toks.count(t) > 0}
        s = score_expr(ast, tf, doc_lens[i], avgdl, idfs, p)
        if s is not None:
            out.append((i, s))
    out.sort(key=lambda x: (-x[1], x[0]))
    return out
