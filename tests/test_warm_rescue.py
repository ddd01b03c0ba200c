"""The one rescue resolver (warm_rescue_needles, read through
_rescue_frames) must return exactly the docs whose lowercased text --
plus url, unless -n -- contains each needle, in every needle class:
IN-pushdown candidates, declined/full-scan, lazy semi-join with a
too-large verified set, sub-trigram, corpus-refuted and no trigram lane;
for one needle and for four in one call.  Caps are forced per class via
instance attributes.  The job-count tests pin that one resolver serves a
single cold needle no heavier than the per-needle pipeline it replaced,
and a batch of needles lighter than one query per needle."""

from __future__ import annotations

import pytest

from probe_spark.engine import SearchEngine

NEEDLES = ["firewall", "network", "zzzzqqqxxx", "kubernetes"]

CLASSES = {
    "in-pushdown": {},  # default caps
    "declined-fullscan": {"_TRI_DIRECT_FLOOR": 0, "_TRI_DIRECT_FRAC": 0.0},
    "lazy-toolarge": {"_ISIN_CAP": 1},  # lazy semi-join + too-large sets
}


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
    the containment rows, memoized as id lists or too-large markers."""
    for needles in (["firewall"], NEEDLES):
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
    eng = _engine(spark, tiny_index, {})
    needles = NEEDLES + ["example"]
    assert _frames_rows(eng, needles, True) == _contains(docs, needles, True)
    assert _frames_rows(eng, ["example"]) == _contains(docs, ["example"])


def test_resolver_sub_trigram(spark, tiny_index, docs):
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
    eng = _engine(spark, tiny_index, {"_tri_post_df": None})
    assert eng._tri_candidate_ids("firewall") is None
    assert _frames_rows(eng, NEEDLES) == _contains(docs, NEEDLES)


# Spark jobs of the first (cold) and second (memoized) search_local of a
# query on a fresh engine, measured at the commit before the one resolver
# (per-needle pipeline plus a batch warmer) with the test session.
PARENT_JOBS = {
    "in-pushdown": ('"error handling"', {}, 10, 3),
    "excluded": ('network -"firewall rules"', {}, 5, 3),
    "sub-trigram": ('"st"', {}, 9, 3),
    "refuted": ('"zzqqxxnowhere"', {}, 2, 1),
    "declined": ('"error handling"', CLASSES["declined-fullscan"], 9, 3),
    "lazy-toolarge": ('"error handling"', CLASSES["lazy-toolarge"], 12, 3),
    "no-lane": ('"error handling"', {"_tri_post_df": None}, 9, 3),
}


def _jobs(spark, fn):
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = sched.nextJobId()
    fn()
    return sched.nextJobId() - j0


@pytest.mark.parametrize("cls", sorted(PARENT_JOBS))
def test_cold_needle_jobs_within_parent(spark, tiny_index, cls):
    q, patch, cold, warm = PARENT_JOBS[cls]
    eng = _engine(spark, tiny_index, patch)
    got = (
        _jobs(spark, lambda: eng.search_local(q, 10)),
        _jobs(spark, lambda: eng.search_local(q, 10)),
    )
    assert got[0] <= cold and got[1] <= warm, got


def test_batch_of_needles_beats_one_query_each(spark, tiny_index):
    queries = {
        "a": '"error handling" retry',
        "b": 'network -"firewall rules"',
        "c": '"connection pool"',
        "d": 'cache -"stale data"',
    }
    eng = _engine(spark, tiny_index, {})
    batch = _jobs(spark, lambda: eng.search_batch(queries, 10).collect())
    eng = _engine(spark, tiny_index, {})
    single = sum(
        _jobs(spark, lambda: eng.search_local(q, 10)) for q in queries.values()
    )
    assert batch < single, (batch, single)
