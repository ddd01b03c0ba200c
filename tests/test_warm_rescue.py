"""The one rescue resolver (warm_rescue_needles, read through
_rescue_frames) must return exactly the docs whose lowercased text --
plus url, unless -n -- contains each needle, in every needle class:
IN-pushdown candidates, declined/full-scan, lazy semi-join with a
too-large verified set, sub-trigram, corpus-refuted and no trigram lane;
for one needle and for four in one call.  Caps are forced per class via
instance attributes, and every class runs at the default driver budget
(both resolver steps on the driver) and at budget 0 (both on Spark).  At
budget 0 the job-count tests pin that one resolver serves a single cold
needle no heavier than the per-needle pipeline it replaced, and a batch of
needles lighter than one query per needle, and the resolver runs the jobs
its docstring counts; at the default budget a query whose needles memoize
as id lists runs no Spark job at all.  The df rule
(_query_dfs) must give every needle class the oracle's global df."""

from __future__ import annotations

from contextlib import contextmanager
from itertools import product

import pytest

from probe_spark.engine import SearchEngine

NEEDLES = ["firewall", "network", "zzzzqqqxxx", "kubernetes"]

CLASSES = {
    "in-pushdown": {},  # default caps
    "declined-fullscan": {"_TRI_DIRECT_FLOOR": 0, "_TRI_DIRECT_FRAC": 0.0},
    "lazy-toolarge": {"_ISIN_CAP": 1},  # lazy semi-join + too-large sets
}


BUDGETS = ("default", "zero")


@contextmanager
def at_budget(budget: str):
    """Run the block at the default driver budget or at 0 (every read on
    Spark)."""
    from probe_spark import indexer

    with pytest.MonkeyPatch.context() as mp:
        if budget == "zero":
            mp.setattr(indexer, "DRIVER_READ_BYTES", 0)
        yield


def _frames_rows(eng, needles, ex_fn=False):
    frame = eng._rescue_frames(needles, ex_fn)
    if frame is None:
        return []
    return sorted((r["term"], r["doc_id"]) for r in frame.collect())


@pytest.fixture(scope="module")
def docs(spark, tiny_index):
    """(doc_id, text, url) of every doc in the store."""
    eng = SearchEngine(spark, tiny_index[0])
    return [
        (r["doc_id"], r["text"] or "", r["url"] or "")
        for r in eng._docs_text().select("doc_id", "text", "url").collect()
    ]


def _contains(docs, needles, ex_fn=False):
    return sorted(
        (t, d)
        for t in set(needles)
        for d, text, url in docs
        if t in text.lower() or (not ex_fn and t in url.lower())
    )


def _engine(spark, tiny_index, patch):
    eng = SearchEngine(spark, tiny_index[0])
    for k, v in patch.items():
        setattr(eng, k, v)
    return eng


@pytest.mark.parametrize("cls", sorted(CLASSES))
def test_warm_equals_per_needle(spark, tiny_index, docs, cls):
    """One needle per call (B = 1) and four in one call (B = 4) resolve to
    the containment rows, memoized as id lists or too-large markers, at
    both budgets."""
    for budget, needles in product(BUDGETS, (["firewall"], NEEDLES)):
        with at_budget(budget):
            eng = _engine(spark, tiny_index, CLASSES[cls])
            expected = _contains(docs, needles)
            assert expected
            assert _frames_rows(eng, needles) == expected
            for t in needles:
                want = [d for x, d in expected if x == t]
                assert eng._verified_ids[(t, False)] == (
                    want if len(want) <= eng._ISIN_CAP else None
                )
            # a second read is served from the memo and the lazy scans alone
            assert _frames_rows(eng, needles) == expected


def test_resolver_text_only(spark, tiny_index, docs):
    """-n: the haystack is the text alone, memoized under its own key."""
    needles = NEEDLES + ["example"]
    for budget in BUDGETS:
        with at_budget(budget):
            eng = _engine(spark, tiny_index, {})
            assert _frames_rows(eng, needles, True) == _contains(docs, needles, True)
            assert _frames_rows(eng, ["example"]) == _contains(docs, ["example"])


def test_resolver_sub_trigram(spark, tiny_index, docs):
    for budget in BUDGETS:
        with at_budget(budget):
            eng = _engine(spark, tiny_index, {})
            assert _frames_rows(eng, ["st", "ab"]) == _contains(docs, ["st", "ab"])


def test_warm_refuted_needle_caches_empty(spark, tiny_index):
    eng = _engine(spark, tiny_index, {})
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = sched.nextJobId()
    assert eng._rescue_frames(["zzzzqqqxxx", "wwwvvvuuu"], False) is None
    assert sched.nextJobId() == j0
    assert eng._verified_ids[("zzzzqqqxxx", False)] == []


def test_resolver_without_lane(spark, tiny_index, docs):
    for budget in BUDGETS:
        with at_budget(budget):
            eng = _engine(spark, tiny_index, {"_tri_post_df": None})
            assert eng._tri_candidate_ids("firewall") is None
            assert _frames_rows(eng, NEEDLES) == _contains(docs, NEEDLES)


# Spark jobs of the first (cold) and second (memoized) search_local of a
# query on a fresh engine at driver budget 0, with the test session.  The
# cold bounds are measured with rescue dfs taken from the resolver memo
# (_query_dfs runs no job); the warm bounds are the ones measured at the
# commit before the one resolver (per-needle pipeline plus a batch
# warmer).
PARENT_JOBS = {
    "in-pushdown": ('"error handling"', {}, 6, 3),
    "excluded": ('network -"firewall rules"', {}, 5, 3),
    "sub-trigram": ('"st"', {}, 5, 3),
    "refuted": ('"zzqqxxnowhere"', {}, 1, 1),
    "declined": ('"error handling"', CLASSES["declined-fullscan"], 5, 3),
    "lazy-toolarge": ('"error handling"', CLASSES["lazy-toolarge"], 8, 3),
    "no-lane": ('"error handling"', {"_tri_post_df": None}, 5, 3),
}


def _jobs(spark, fn):
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = sched.nextJobId()
    fn()
    return sched.nextJobId() - j0


@pytest.mark.parametrize("cls", sorted(PARENT_JOBS))
def test_cold_needle_jobs_within_parent(spark, tiny_index, monkeypatch, cls):
    from probe_spark import indexer

    monkeypatch.setattr(indexer, "DRIVER_READ_BYTES", 0)
    q, patch, cold, warm = PARENT_JOBS[cls]
    eng = _engine(spark, tiny_index, patch)
    got = (
        _jobs(spark, lambda: eng.search_local(q, 10)),
        _jobs(spark, lambda: eng.search_local(q, 10)),
    )
    assert got[0] <= cold and got[1] <= warm, got


@pytest.mark.parametrize("cls", sorted(PARENT_JOBS))
def test_cold_needle_driver_lane(spark, tiny_index, tiny_oracle, cls):
    """The default-budget twin: a query whose needles resolve on the
    driver and memoize as id lists runs no Spark job, cold or warm, and
    returns the oracle's rows; a needle whose candidates exceed the IN cap
    (lazy-toolarge) keeps the Spark resolver within its budget-0 bounds."""
    from probe_spark.oracle import search as oracle_search

    q, patch, cold, warm = PARENT_JOBS[cls]
    eng = _engine(spark, tiny_index, patch)
    got = []
    jobs = [_jobs(spark, lambda: got.append(eng.search_local(q, 10)))]
    jobs.append(_jobs(spark, lambda: got.append(eng.search_local(q, 10))))
    if cls == "lazy-toolarge":  # a lazy candidate frame: Spark
        assert jobs[0] <= cold and jobs[1] <= warm, jobs
    else:
        assert jobs == [0, 0]
    expected = oracle_search(tiny_oracle, q, k=10)
    assert got[0] == got[1]
    assert [d for d, _ in got[0]] == [d for d, _ in expected]
    for (_, gs), (_, es) in zip(got[0], expected):
        assert gs == pytest.approx(es, rel=1e-12, abs=1e-12)


# (needles, instance patch) -> Spark jobs of one cold resolver call at
# budget 0, as warm_rescue_needles' docstring counts them: a grouped
# candidate collect or a capped verify collect shuffles, which adds a job
RESOLVER_JOBS = [
    (["error handling"], {}, 3),  # grouped candidates (2) + verify (1)
    (["error handling"], {"_TRI_INTERSECT": 1}, 2),  # one trigram: no group
    (["st"], {}, 2),  # sub-trigram: capped plain-scan verify only
    (["error handling", "firewall rules", "stale data", "st"], {}, 4),
]


@pytest.mark.parametrize("needles,patch,want", RESOLVER_JOBS)
def test_resolver_jobs_as_documented(
    spark, tiny_index, monkeypatch, needles, patch, want
):
    from probe_spark import indexer

    monkeypatch.setattr(indexer, "DRIVER_READ_BYTES", 0)
    eng = _engine(spark, tiny_index, patch)
    assert _jobs(spark, lambda: eng.warm_rescue_needles(needles, False)) == want
    assert _jobs(spark, lambda: eng.warm_rescue_needles(needles, False)) == 0


BATCH = {
    "a": '"error handling" retry',
    "b": 'network -"firewall rules"',
    "c": '"connection pool"',
    "d": 'cache -"stale data"',
}


def test_batch_of_needles_beats_one_query_each(spark, tiny_index, monkeypatch):
    from probe_spark import indexer

    monkeypatch.setattr(indexer, "DRIVER_READ_BYTES", 0)
    queries = BATCH
    eng = _engine(spark, tiny_index, {})
    batch = _jobs(spark, lambda: eng.search_batch(queries, 10).collect())
    eng = _engine(spark, tiny_index, {})
    single = sum(
        _jobs(spark, lambda: eng.search_local(q, 10)) for q in queries.values()
    )
    assert batch < single, (batch, single)


def test_batch_of_needles_on_the_driver(spark, tiny_index):
    """The default-budget twin: the batch's needles resolve and its
    queries serve on the driver, so the batch runs no Spark job and
    returns each query's search_local rows."""
    eng = _engine(spark, tiny_index, {})
    got = []
    assert _jobs(spark, lambda: got.extend(eng.search_batch(BATCH, 10).collect())) == 0
    for qid, q in BATCH.items():
        rows = [(r["doc_id"], r["score"]) for r in got if r["query_id"] == qid]
        assert rows == eng.search_local(q, 10), q


# one query holding a needle of every class: multi-word (lane-served),
# single-token and also a dictionary term, sub-trigram, refuted, and an
# excluded-only needle, beside a regular term
DF_QUERY = '"error handling" "firewall" "st" "zzqqxxnowhere" retry -"firewall rules"'
DF_PATCHES = {
    "default": {},
    "declined": CLASSES["declined-fullscan"],
    "lazy-toolarge": CLASSES["lazy-toolarge"],
    "no-lane": {"_tri_post_df": None},
}


@pytest.mark.parametrize("budget", ["default", "zero"])
@pytest.mark.parametrize("cls", sorted(DF_PATCHES))
def test_query_dfs_equal_oracle(
    spark, tiny_index, tiny_oracle, monkeypatch, cls, budget
):
    """_query_dfs, the one df rule, gives every scored rescue needle and
    regular term the oracle's global df, with and without -n; excluded-
    only needles get df 1.  With every memo entry an id list and the
    reads within the budget it runs no Spark job."""
    from probe_spark import elastic, indexer, oracle

    if budget == "zero":
        monkeypatch.setattr(indexer, "DRIVER_READ_BYTES", 0)
    eng = _engine(spark, tiny_index, DF_PATCHES[cls])
    plan = elastic.create_query_plan(DF_QUERY, False)
    excl_only = eng._excl_only_rescues(plan)
    assert excl_only == {"firewall rules"}
    assert eng.term_dfs(["firewall"])["firewall"] > 0  # postings are read
    for ex_fn in (False, True):
        got = eng._query_dfs(plan, exclude_filenames=ex_fn)
        want = oracle.global_df(tiny_oracle, plan, ex_fn)
        assert {t: got[t] for t in want if t not in excl_only} == {
            t: d for t, d in want.items() if t not in excl_only
        }
        assert all(got[t] == 1 for t in excl_only)
        lists = all(
            eng._verified_ids[(t, ex_fn)] is not None
            for t in oracle.rescue_terms(plan) - excl_only
        )
        if lists and budget == "default":
            assert _jobs(
                spark, lambda: eng._query_dfs(plan, exclude_filenames=ex_fn)
            ) == 0


# a needle whose df _query_dfs must count (memo entry None at _ISIN_CAP =
# 1; postings read over the budget at budget 0), and the warm search_local
# jobs of '"firewall" cache' measured before the counted df was kept
COUNTED = {
    "lazy-toolarge": ("default", CLASSES["lazy-toolarge"], 6),
    "over-budget": ("zero", {}, 4),
}


@pytest.mark.parametrize("case", sorted(COUNTED))
def test_counted_df_kept_with_memo(spark, tiny_index, monkeypatch, case):
    """A needle's counted df is kept beside its memo entry: the second
    query counts nothing, gets the same dfs, and the entry goes when the
    memo is cleared."""
    from probe_spark import elastic, indexer

    budget, patch, warm = COUNTED[case]
    if budget == "zero":
        monkeypatch.setattr(indexer, "DRIVER_READ_BYTES", 0)
    q = '"firewall" cache'
    plan = elastic.create_query_plan(q, False)
    eng = _engine(spark, tiny_index, patch)
    eng.search_local(q, 10)
    assert _jobs(spark, lambda: eng.search_local(q, 10)) <= warm
    dfs = eng._query_dfs(plan, exclude_filenames=False)
    assert _jobs(
        spark, lambda: eng._query_dfs(plan, exclude_filenames=False)
    ) == 0
    assert ("firewall", False) in eng._counted_dfs
    eng._counted_dfs.clear()
    assert eng._query_dfs(plan, exclude_filenames=False) == dfs
    # a memo clear at the needle cap drops the counted dfs with it
    eng._VERIFIED_NEEDLE_CAP = len(eng._verified_ids)
    eng.warm_rescue_needles(["zzqqxxnowhere"], False)
    assert not eng._counted_dfs
