"""Vectorized (numpy-lane) boolean evaluation + BM25 expression scoring.

Compiles the elastic AST into numpy array operations over per-keyword tf
lanes -- the Arrow-side replacement for calling ``elastic.evaluate`` +
``oracle.score_expr`` doc-by-doc inside executor Python (the scalar
reference-parity implementations remain the oracle; the differential suite
in tests/test_lanes.py pins bit-for-bit equality).

Semantics mirrored exactly:
  * evaluate (/root/reference/src/search/elastic_query.rs:363-446):
    required-first rule, optional any-keyword rule, excluded none-present
    rule;
  * score_expr_bm25_optimized (/root/reference/src/ranking.rs:228-276):
    Term = sum of keyword scores in keyword order; excluded drops the doc
    when its total > 0 (else contributes 0); required drops when total == 0;
    And sums both sides or drops; Or sums the matching sides.

f64-identity argument (vs the scalar oracle): the scalar Term loop adds
``idf * tf_part`` only when f > 0; the lane adds ``where(f > 0, idf *
tf_part, 0.0)``.  Adding +0.0 leaves any non-negative IEEE double unchanged,
accumulation order (keyword order within a Term, AST order across nodes) is
identical, and every individual multiply/divide is the same IEEE-754 double
operation -- so both hosts produce the same bits.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from probe_spark.config import BM25Params
from probe_spark.elastic import And, Expr, Term, has_required_term


def eval_and_score(
    ast: Expr,
    term_indices: dict[str, int],
    tf_lanes: dict[str, np.ndarray],
    dl: np.ndarray,
    avgdl: float,
    idfs: dict[str, float],
    params: BM25Params,
) -> tuple[np.ndarray, np.ndarray]:
    """Evaluate + score ``n`` candidate docs at once.

    ``tf_lanes``: keyword -> int lane of per-doc tf (0 = absent; keywords
    with no postings may be missing entirely).  ``dl``: per-doc lengths.
    Returns ``(keep: bool[n], score: float64[n])`` -- ``keep`` is True where
    the scalar pipeline would emit the doc, ``score`` is its score there
    (undefined where keep is False).
    """
    n = len(dl)
    zeros_f = np.zeros(n, dtype=np.float64)
    zeros_b = np.zeros(n, dtype=bool)
    ones_b = np.ones(n, dtype=bool)

    def present(kw: str) -> np.ndarray:
        lane = tf_lanes.get(kw)
        return zeros_b if lane is None else lane > 0

    # --- evaluate (elastic_query.rs:363-446) -------------------------------
    # matched-set nonempty gate: a doc with no query term at all never
    # matches -- UNLESS the query is only-excluded terms, where an empty
    # match is exactly what qualifies (callers normally route only-excluded
    # queries through their fast path, but stay faithful regardless)
    from probe_spark.elastic import is_only_excluded_terms

    if is_only_excluded_terms(ast):
        nonempty = ones_b
    else:
        nonempty = zeros_b
        for t in term_indices:
            nonempty = nonempty | present(t)

    has_req = has_required_term(ast)

    req_ok = ones_b
    if has_req:
        # required-first rule (elastic_query.rs:109-146): every keyword of
        # every required (non-excluded) term must be present
        for t in _walk(ast):
            if t.required and not t.excluded:
                for kw in t.lowercase_keywords:
                    req_ok = req_ok & present(kw)

    def eval_inner(expr: Expr) -> np.ndarray:
        if isinstance(expr, Term):
            kws = expr.lowercase_keywords
            if not kws:
                return ones_b if expr.excluded else zeros_b
            if expr.excluded:
                any_p = zeros_b
                for kw in kws:
                    any_p = any_p | present(kw)
                return ~any_p
            if expr.required:
                all_p = ones_b
                for kw in kws:
                    all_p = all_p & present(kw)
                return all_p
            if has_req:
                # optional terms are vacuously true once required terms
                # exist anywhere (elastic_query.rs:221-234)
                return ones_b
            any_p = zeros_b
            for kw in kws:
                any_p = any_p | present(kw)
            return any_p
        if isinstance(expr, And):
            return eval_inner(expr.left) & eval_inner(expr.right)
        return eval_inner(expr.left) | eval_inner(expr.right)

    eval_mask = nonempty & req_ok & eval_inner(ast)

    # --- score_expr (ranking.rs:228-276) -----------------------------------
    dlf = np.asarray(dl, dtype=np.float64)
    if avgdl > 0.0:
        # denominator tail of tf_part, shared by every keyword of the doc
        dl_norm = params.k1 * (1.0 - params.b + params.b * (dlf / avgdl))
    else:
        dl_norm = None  # all-empty corpus: tf_part is 0 (oracle.bm25_tf_part)

    def term_total(expr: Term) -> np.ndarray:
        total = zeros_f
        for kw in expr.lowercase_keywords:
            lane = tf_lanes.get(kw)
            if lane is None:
                continue  # f == 0 everywhere: scalar adds nothing
            f = lane.astype(np.float64)
            if dl_norm is None:
                tfp = zeros_f
            else:
                tfp = (f * (params.k1 + 1.0)) / (f + dl_norm)
            total = total + np.where(
                lane > 0, idfs.get(kw, 0.0) * tfp, 0.0
            )
        return total

    def score(expr: Expr) -> tuple[np.ndarray, np.ndarray]:
        if isinstance(expr, Term):
            total = term_total(expr)
            if expr.excluded:
                return ~(total > 0.0), zeros_f
            if expr.required:
                return total > 0.0, total
            return ones_b, total
        lv, ls = score(expr.left)
        rv, rs = score(expr.right)
        if isinstance(expr, And):
            return lv & rv, ls + rs
        # Or: (l or 0.0) + (r or 0.0); invalid sides contribute 0
        return lv | rv, np.where(lv, ls, 0.0) + np.where(rv, rs, 0.0)

    score_valid, scores = score(ast)
    return eval_mask & score_valid, scores


def coverage_boosted(
    scores: np.ndarray, tf_lanes, n_terms: int
) -> np.ndarray:
    """``scores`` times the R7 coverage boost (oracle.coverage_boost):
    matched = how many of ``tf_lanes`` are present per doc, over the
    query's ``n_terms`` terms."""
    from probe_spark.oracle import COVERAGE_BOOST_EXP, COVERAGE_BOOST_MULT

    matched = np.zeros(len(scores), dtype=np.int64)
    for lane in tf_lanes:
        matched += lane > 0
    cov = np.minimum(matched / float(n_terms), 1.0) if n_terms else 0.0
    return scores * (1.0 + cov**COVERAGE_BOOST_EXP * COVERAGE_BOOST_MULT)


def score_wide(
    pdf: pd.DataFrame,
    ast: Expr,
    term_indices: dict[str, int],
    term_list: list[str],
    avgdl: float,
    idfs: dict[str, float],
    params: BM25Params,
    boost_coverage: bool,
) -> pd.DataFrame:
    """(doc_id, score) of the docs of one pivoted batch that the query
    keeps.  ``pdf`` holds doc_id, doc_len and one nullable tf column
    ``_tf{i}`` per term of ``term_list`` (null = absent): the rows of
    engine._score_general's conditional aggregation, or of wide_frame on
    the driver.  The one batch scorer of both hosts: lanes, eval_and_score,
    the coverage boost and the keep mask."""
    if not len(pdf):
        return pd.DataFrame({"doc_id": [], "score": []}).astype(
            {"doc_id": "int64", "score": "float64"}
        )
    tf_lanes: dict[str, np.ndarray] = {}
    for i, t in enumerate(term_list):
        col = pdf[f"_tf{i}"]
        if col.notna().any():
            tf_lanes[t] = col.fillna(0).to_numpy(np.int64)
    keep, scores = eval_and_score(
        ast,
        term_indices,
        tf_lanes,
        pdf["doc_len"].to_numpy(np.int64),
        avgdl,
        idfs,
        params,
    )
    if boost_coverage:
        scores = coverage_boosted(scores, tf_lanes.values(), len(term_indices))
    return pd.DataFrame(
        {"doc_id": pdf["doc_id"].to_numpy(np.int64)[keep], "score": scores[keep]}
    )


def wide_frame(rows: pa.Table, term_list: list[str]) -> pd.DataFrame:
    """Pivot (term, doc_id, tf, doc_len) rows into score_wide's input: one
    row per doc, doc_len, and per term the max tf of its rows (null when
    the doc has none) -- the driver-side form of _score_general's
    groupBy(doc_id) conditional aggregation."""
    ids, inv = np.unique(
        rows["doc_id"].to_numpy().astype(np.int64), return_inverse=True
    )
    dl = np.zeros(len(ids), dtype=np.int64)
    dl[inv] = rows["doc_len"].to_numpy()
    tf = rows["tf"].to_numpy().astype(np.float64)
    out = {"doc_id": ids, "doc_len": dl}
    for i, t in enumerate(term_list):
        m = pc.equal(rows["term"], t).to_numpy(zero_copy_only=False)
        lane = np.full(len(ids), np.nan)
        np.fmax.at(lane, inv[m], tf[m])
        out[f"_tf{i}"] = lane
    return pd.DataFrame(out)


def _walk(expr: Expr):
    if isinstance(expr, Term):
        yield expr
    else:
        yield from _walk(expr.left)
        yield from _walk(expr.right)
