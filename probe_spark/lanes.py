"""Boolean evaluation + BM25 expression scoring over per-keyword tf lanes,
with two backends.

``eval_and_score`` compiles the elastic AST into one sequence of lane ops
-- masks (``&``, ``|``, ``~``, ``>``), IEEE adds/multiplies/divides,
``where``, a constant and a cast to f64 -- and emits it over either
backend:
  * ``NumpyOps``: lanes are numpy arrays, one slot per candidate doc.  The
    driver lane (``score_rows``) runs it;
  * ``COLUMNS``: lanes are Spark Columns of a one-row-per-doc frame.  The
    Spark plans' scorer (engine._score_lanes) runs it as one Catalyst
    expression, so no Python node enters a serving plan.
The scalar reference-parity implementations (``elastic.evaluate`` +
``oracle.score_expr``) remain the oracle; the differential suite in
tests/test_lanes.py pins bit-for-bit equality of both backends with it.

Semantics mirrored exactly:
  * evaluate (elastic_query.rs:363-446):
    required-first rule, optional any-keyword rule, excluded none-present
    rule;
  * score_expr_bm25_optimized (ranking.rs:228-276):
    Term = sum of keyword scores in keyword order; excluded drops the doc
    when its total > 0 (else contributes 0); required drops when total == 0;
    And sums both sides or drops; Or sums the matching sides.

f64-identity argument (vs the scalar oracle): the scalar Term loop adds
``idf * tf_part`` only when f > 0; the lane adds ``where(f > 0, idf *
tf_part, 0.0)``.  Adding +0.0 leaves any non-negative IEEE double unchanged,
accumulation order (keyword order within a Term, AST order across nodes) is
identical, and every individual multiply/divide is the same IEEE-754 double
operation -- so every host produces the same bits.  Catalyst does not
reassociate floating-point arithmetic, so the Column backend keeps the
order too.  The coverage boost is looked up, never recomputed: every host
indexes ``boost_table`` (the scalar ``oracle.coverage_boost`` values) by a
doc's matched-term count, because pow differs across numpy, the JVM and
Python in the last ulp.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import functions as F

from probe_spark import oracle
from probe_spark.config import BM25Params
from probe_spark.elastic import (
    And,
    Expr,
    Term,
    has_required_term,
    is_only_excluded_terms,
)


class NumpyOps:
    """numpy backend: lanes are arrays over ``n`` docs."""

    def __init__(self, n: int) -> None:
        self.n = n

    def const(self, v):
        return np.full(self.n, v)

    where = staticmethod(np.where)

    @staticmethod
    def f64(x):
        return np.asarray(x, dtype=np.float64)

    @staticmethod
    def lookup(table: list[float], i):
        return np.asarray(table)[i]


class ColumnOps:
    """Spark Column backend: lanes are Columns of a one-row-per-doc frame."""

    const = staticmethod(F.lit)

    @staticmethod
    def where(cond, a, b):
        return F.when(cond, a).otherwise(b)

    @staticmethod
    def f64(x):
        return x.cast("double")

    @staticmethod
    def lookup(table: list[float], i):
        return F.element_at(F.array(*[F.lit(v) for v in table]), i + 1)


COLUMNS = ColumnOps()


def tf_part(f, dl, avgdl: float, params: BM25Params):
    """BM25 tf part (ranking.rs:203-208) of f64 ``f`` at f64 doc length
    ``dl``: numpy arrays or Columns alike.  The one association every host
    uses; the caller decides ``avgdl > 0`` (oracle.bm25_tf_part's guard)."""
    return (f * (params.k1 + 1.0)) / (
        f + params.k1 * ((1.0 - params.b) + params.b * (dl / avgdl))
    )


def boost_table(n_terms: int) -> list[float]:
    """oracle.coverage_boost(m, n_terms) for m = 0..n_terms: the R7 boost
    every host indexes by a doc's matched-term count."""
    return [oracle.coverage_boost(m, n_terms) for m in range(n_terms + 1)]


def eval_and_score(
    ast: Expr,
    term_indices: dict[str, int],
    tf_lanes: dict,
    dl,
    avgdl: float,
    idfs: dict[str, float],
    params: BM25Params,
    *,
    boost_terms: int = 0,
    ops=None,
):
    """Evaluate + score every doc of the lanes at once.

    ``tf_lanes``: keyword -> integer lane of per-doc tf (0 = absent;
    keywords with no postings may be missing entirely).  ``dl``: per-doc
    lengths.  ``boost_terms`` > 0 multiplies the score by the coverage
    boost over that many query terms (matched = present lanes).  ``ops``
    is the backend, NumpyOps(len(dl)) by default.  Returns ``(keep,
    score)`` -- ``keep`` is True where the scalar pipeline would emit the
    doc, ``score`` is its score there (undefined where keep is False)."""
    if ops is None:
        ops = NumpyOps(len(dl))
    zeros_f = ops.const(0.0)
    zeros_b = ops.const(False)
    ones_b = ops.const(True)

    def present(kw: str):
        lane = tf_lanes.get(kw)
        return zeros_b if lane is None else lane > 0

    # --- evaluate (elastic_query.rs:363-446) -------------------------------
    # matched-set nonempty gate: a doc with no query term at all never
    # matches -- UNLESS the query is only-excluded terms, where an empty
    # match is exactly what qualifies (callers normally route only-excluded
    # queries through their fast path, but stay faithful regardless)
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

    def eval_inner(expr: Expr):
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
    dlf = ops.f64(dl)

    def term_total(expr: Term):
        total = zeros_f
        for kw in expr.lowercase_keywords:
            lane = tf_lanes.get(kw)
            if lane is None:
                continue  # f == 0 everywhere: scalar adds nothing
            # all-empty corpus (avgdl 0): tf_part is 0 (oracle.bm25_tf_part),
            # decided here so no zero divisor reaches a backend
            tfp = (
                tf_part(ops.f64(lane), dlf, avgdl, params)
                if avgdl > 0.0
                else zeros_f
            )
            total = total + ops.where(lane > 0, idfs.get(kw, 0.0) * tfp, 0.0)
        return total

    def score(expr: Expr):
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
        return lv | rv, ops.where(lv, ls, 0.0) + ops.where(rv, rs, 0.0)

    score_valid, scores = score(ast)
    if boost_terms:
        matched = ops.const(0)
        for lane in tf_lanes.values():
            matched = matched + ops.where(lane > 0, 1, 0)
        scores = scores * ops.lookup(boost_table(boost_terms), matched)
    return eval_mask & score_valid, scores


def score_rows(
    rows: pa.Table,
    ast: Expr,
    term_indices: dict[str, int],
    avgdl: float,
    idfs: dict[str, float],
    params: BM25Params,
    boost_coverage: bool,
) -> tuple[np.ndarray, np.ndarray]:
    """(doc_id, score) arrays of the docs the query keeps, from (term,
    doc_id, tf, doc_len) rows: one lane slot per distinct doc, each term's
    lane the max tf of its rows (0 where the doc has none; a term with no
    row has no lane).  The driver lane's scorer."""
    ids, inv = np.unique(
        rows["doc_id"].to_numpy().astype(np.int64), return_inverse=True
    )
    dl = np.zeros(len(ids), dtype=np.int64)
    dl[inv] = rows["doc_len"].to_numpy()
    tf = rows["tf"].to_numpy().astype(np.int64)
    tf_lanes: dict[str, np.ndarray] = {}
    for t in term_indices:
        m = pc.equal(rows["term"], t).to_numpy(zero_copy_only=False)
        if m.any():
            lane = np.zeros(len(ids), dtype=np.int64)
            np.maximum.at(lane, inv[m], tf[m])
            tf_lanes[t] = lane
    keep, scores = eval_and_score(
        ast,
        term_indices,
        tf_lanes,
        dl,
        avgdl,
        idfs,
        params,
        boost_terms=len(term_indices) if boost_coverage else 0,
    )
    return ids[keep], scores[keep]


def _walk(expr: Expr):
    if isinstance(expr, Term):
        yield expr
    else:
        yield from _walk(expr.left)
        yield from _walk(expr.right)
