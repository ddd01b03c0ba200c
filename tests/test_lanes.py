"""Differential suite: lanes.eval_and_score must be BIT-IDENTICAL to the
scalar oracle (elastic.evaluate + oracle.score_expr, times
oracle.coverage_boost when boosted) -- exact f64 ==, not approx -- on
random tf lanes for every reference query shape (q01-q25) plus edge
cases, on both backends: numpy arrays, and Spark Columns over one small
frame per shape."""

import random

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from probe_spark import elastic
from probe_spark.config import DEFAULT_BM25
from probe_spark.lanes import COLUMNS, eval_and_score
from probe_spark.oracle import coverage_boost, idf, score_expr
from tests.test_spark_engine import QUERIES


def _scalar(ast, term_indices, tf, dl, avgdl, idfs, params):
    """The exact scalar pipeline the engine used to run per doc."""
    matched = frozenset(term_indices[t] for t in tf if t in term_indices)
    if not elastic.evaluate(ast, matched, term_indices):
        return None
    return score_expr(ast, tf, dl, avgdl, idfs, params)


def _on_columns(spark, plan, lanes, dl, avgdl, idfs):
    """(keep, score, boosted score) per doc from the Column backend, run
    through Spark over one frame holding the lanes."""
    names = {t: f"_tf{i}" for i, t in enumerate(lanes)}
    pdf = pd.DataFrame({"i": np.arange(len(dl)), "doc_len": dl})
    for t, c in names.items():
        pdf[c] = lanes[t]
    cols = {t: F.col(c) for t, c in names.items()}
    args = (plan.ast, dict(plan.term_indices), cols, F.col("doc_len"), avgdl)
    keep, score = eval_and_score(*args, idfs, DEFAULT_BM25, ops=COLUMNS)
    _, boosted = eval_and_score(
        *args,
        idfs,
        DEFAULT_BM25,
        boost_terms=len(plan.term_indices),
        ops=COLUMNS,
    )
    rows = (
        spark.createDataFrame(pdf)
        .select("i", keep.alias("k"), score.alias("s"), boosted.alias("b"))
        .orderBy("i")
        .collect()
    )
    return [r["k"] for r in rows], [r["s"] for r in rows], [r["b"] for r in rows]


def _compare(spark, plan, lanes, dl, avgdl, idfs):
    term_indices = dict(plan.term_indices)
    args = (plan.ast, term_indices, lanes, dl, avgdl, idfs, DEFAULT_BM25)
    keep, scores = eval_and_score(*args)
    _, boosted = eval_and_score(*args, boost_terms=len(term_indices))
    c_keep, c_scores, c_boosted = _on_columns(spark, plan, lanes, dl, avgdl, idfs)
    for i in range(len(dl)):
        tf = {t: int(lanes[t][i]) for t in lanes if lanes[t][i] > 0}
        s = _scalar(plan.ast, term_indices, tf, int(dl[i]), avgdl, idfs, DEFAULT_BM25)
        if s is None:
            assert not keep[i] and not c_keep[i], (i, tf)
        else:
            assert keep[i] and c_keep[i], (i, tf)
            assert scores[i] == c_scores[i] == s, (i, tf, scores[i], c_scores[i], s)
            b = s * coverage_boost(
                sum(t in term_indices for t in tf), len(term_indices)
            )
            assert boosted[i] == c_boosted[i] == b, (i, tf, boosted[i], b)


def test_lanes_match_scalar_on_reference_queries(spark):
    rng = random.Random(42)
    n = 200
    checked = 0
    for name, q in QUERIES.items():
        plan = elastic.create_query_plan(q)
        if plan.is_universal_query or not plan.term_indices:
            continue
        terms = list(plan.term_indices)
        avgdl = 37.5
        idfs = {t: idf(1000, rng.randint(0, 900)) for t in terms}
        lanes = {}
        for t in terms:
            lane = np.array(
                [rng.choice((0, 0, 0, 1, 2, 5)) for _ in range(n)],
                dtype=np.int64,
            )
            if lane.any():
                lanes[t] = lane
        dl = np.array([rng.randint(1, 80) for _ in range(n)], dtype=np.int64)
        _compare(spark, plan, lanes, dl, avgdl, idfs)
        checked += 1
    assert checked >= 20


def test_lanes_missing_lanes_and_zero_idf(spark):
    """Keywords with no postings at all (missing lane) and df=0 terms
    (idf 0) must behave like the scalar path."""
    plan = elastic.create_query_plan("+alpha beta AND gamma")
    terms = dict(plan.term_indices)
    n = 50
    rng = random.Random(7)
    lanes = {
        "alpha": np.array([rng.choice((0, 1, 3)) for _ in range(n)], np.int64),
        # "beta" lane missing entirely; gamma present but idf 0
        "gamma": np.array([rng.choice((0, 2)) for _ in range(n)], np.int64),
    }
    dl = np.full(n, 20, dtype=np.int64)
    idfs = {"alpha": idf(100, 5), "beta": idf(100, 10), "gamma": 0.0}
    _compare(spark, plan, lanes, dl, 22.5, idfs)


def test_lanes_avgdl_zero_corpus(spark):
    plan = elastic.create_query_plan("alpha")
    lanes = {"alpha": np.array([1, 0, 2], np.int64)}
    dl = np.zeros(3, dtype=np.int64)
    _compare(spark, plan, lanes, dl, 0.0, {"alpha": 1.0})
