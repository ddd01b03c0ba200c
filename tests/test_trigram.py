"""Trigram postings lane (trigram.py, tri_postings / tri_terms): the
superset property of the codes (no false negatives -- the correctness
invariant), and engine integration for quoted/negated terms."""

import pytest
from pyspark.sql import functions as F
from hypothesis import given, settings
from hypothesis import strategies as st

from probe_spark.trigram import doc_tri_codes, needle_tri_codes


@given(
    st.text(min_size=0, max_size=400),
    st.text(min_size=0, max_size=100),
    st.integers(min_value=0, max_value=520),
    st.integers(min_value=0, max_value=40),
)
@settings(max_examples=200, deadline=None)
def test_no_false_negatives_on_substrings(text, url, start, length):
    """Every substring of the containment haystack (text and url) has its
    trigram codes among the doc's: intersecting posting lists can never
    drop a doc that contains the needle."""
    hay = text.lower() + "\n" + url.lower()
    sub = hay[start : start + length]
    assert set(needle_tri_codes(sub)) <= set(doc_tri_codes(text, url).tolist())


def test_doc_tri_codes_cover_url():
    """The url is part of the haystack: needles drawn from it (and from
    the body) keep all their trigram codes among the doc's."""
    codes = set(
        doc_tri_codes("some body text", "https://Example.com/Path-Segment")
        .tolist()
    )
    for needle in ("example.com", "path-segment", "body text"):
        assert set(needle_tri_codes(needle)) <= codes, needle
    assert not set(needle_tri_codes("zzqqxxnowhere")) <= codes


def test_short_needles_pass():
    """<3-byte needles have no trigrams: the lane cannot prune them (the
    engine falls back to the verify scan)."""
    assert needle_tri_codes("xy") == []
    assert needle_tri_codes("") == []


def test_engine_quoted_term_uses_tri_lane_and_matches_oracle(
    spark, tiny_index, tiny_oracle
):
    """Quoted terms must return identical results through the lane-pruned
    rescue path, including a corpus-wide-refuted term (zero candidates)."""
    from probe_spark.engine import SearchEngine
    from probe_spark.oracle import search as oracle_search

    path, _ = tiny_index
    eng = SearchEngine(spark, path)
    assert isinstance(eng._tri_candidate_ids("parsejsontohtml5"), list)
    for q in ('"error handling"', '"parseJSONToHTML5"', '"zzqqxxnowhere"'):
        got = eng.search_local(q, k=10)
        expected = oracle_search(tiny_oracle, q, k=10)
        assert [d for d, _ in got] == [d for d, _ in expected], q
        for (gd, gs), (_, es) in zip(got, expected):
            assert gs == pytest.approx(es, rel=1e-12, abs=1e-12), (q, gd)


def test_tri_semijoin_path_above_isin_cap(spark, tiny_index, tiny_oracle):
    """When candidates exceed the IN cap, the verify scan semi-joins the
    lazy candidate frame -- results stay identical."""
    from pyspark.sql import DataFrame

    from probe_spark.engine import SearchEngine
    from probe_spark.oracle import search as oracle_search

    path, _ = tiny_index
    eng = SearchEngine(spark, path)
    eng._ISIN_CAP = 1  # force the semi-join branch
    assert isinstance(eng._tri_candidate_ids("error handling"), DataFrame)
    q = '"error handling" retry'
    got = eng.search_local(q, k=10)
    expected = oracle_search(tiny_oracle, q, k=10)
    assert [d for d, _ in got] == [d for d, _ in expected]
    for (gd, gs), (_, es) in zip(got, expected):
        assert gs == pytest.approx(es, rel=1e-12, abs=1e-12), gd


# ---------------------------------------------------------------------------
# Trigram postings lane (tri_postings / tri_terms, indexer._slice_tables)
# ---------------------------------------------------------------------------


def _py_tri_codes(text, url):
    hay = ((text or "").lower() + "\n" + (url or "").lower()).encode("utf-8")
    return {
        int.from_bytes(hay[i : i + 3], "big")
        for i in range(max(0, len(hay) - 2))
    }


def test_tokenize_emits_haystack_tri_codes():
    """The doc rows of the tokenize pass carry the distinct 24-bit
    byte-trigram codes of the containment haystack (the tri_postings lane
    source) -- checked against an independent big-endian reference,
    incl. multi-byte UTF-8 and sub-trigram texts."""
    import pandas as pd

    from probe_spark.indexer import _make_tokenize_partition

    rows = [
        (0, "https://A.example/x", "Hello Wörld"),
        (1, "https://b.example/y", ""),
        (2, "https://c.example/z", "ab"),  # text shorter than a trigram
    ]
    pdf = pd.DataFrame(
        {
            "doc_id": [r[0] for r in rows],
            "url": [r[1] for r in rows],
            "lang": ["en"] * len(rows),
            "text": [r[2] for r in rows],
        }
    )
    out = pd.concat(list(_make_tokenize_partition("probe")(iter([pdf]))))
    docs = out[out["term"].isnull()]
    got = {
        int(r["doc_id"]): {int(c) for c in r["tris"]}
        for _, r in docs.iterrows()
    }
    for doc_id, url, text in rows:
        assert got[doc_id] == _py_tri_codes(text, url), doc_id


def test_tri_lane_enabled_and_candidates_superset(spark, tiny_index):
    from probe_spark.engine import SearchEngine

    ix, _ = tiny_index
    eng = SearchEngine(spark, ix)
    assert eng._tri_post_df is not None  # built indexes carry the lane
    needle = "firewall whitel"
    ids = eng._tri_candidate_ids(needle)
    assert isinstance(ids, list) and ids
    # every TRUE containment match must be in the candidate set
    truth = {
        int(r["doc_id"])
        for r in eng._docs_df
        .filter(
            F.lower(F.col("text")).contains(needle)
            | F.lower(F.col("url")).contains(needle)
        )
        .select("doc_id")
        .collect()
    }
    assert truth and truth <= set(ids)


def test_tri_candidate_ids_refutes_absent_term(spark, tiny_index):
    from probe_spark.engine import SearchEngine

    path, _ = tiny_index
    eng = SearchEngine(spark, path)
    assert eng._tri_candidate_ids("zzqqxxnowhere") == []
    assert eng._tri_candidate_ids("ab") is None  # too short
    # without the lane the prefilter stays out of the way
    eng._tri_post_df = None
    assert eng._tri_candidate_ids("zzqqxxnowhere") is None


def test_tri_lane_refutes_absent_needles(spark, tiny_index):
    from probe_spark.engine import SearchEngine

    ix, _ = tiny_index
    eng = SearchEngine(spark, ix)
    assert eng._tri_candidate_ids("zqxjkvvqzz") == []
    assert eng._tri_candidate_ids("ab") is None  # shorter than a trigram
    # and the refutation feeds the rescue path: excluded impossible term
    # behaves like a plain query
    a = eng.search("firewall", k=5).collect()
    b = eng.search('firewall -"zqxjkvvqzz"', k=5).collect()
    assert [(r["doc_id"], r["score"]) for r in a] == [
        (r["doc_id"], r["score"]) for r in b
    ]


def test_tri_lane_coverage_guard(spark, tiny_index, tmp_path):
    """A tri_postings lane that does not cover every postings bucket must
    disable itself (fallback keeps answers exact)."""
    import shutil as sh

    from probe_spark.engine import SearchEngine

    ix, _ = tiny_index
    clone = tmp_path / "partial_tri"
    sh.copytree(ix, clone)
    buckets = sorted((clone / "tri_postings").glob("bucket=*"))
    sh.rmtree(buckets[0])
    eng = SearchEngine(spark, str(clone))
    assert eng._tri_post_df is None
    full = SearchEngine(spark, ix)
    q = '"firewall whitelist"'
    assert [
        (r["doc_id"], r["score"]) for r in eng.search(q, k=5).collect()
    ] == [(r["doc_id"], r["score"]) for r in full.search(q, k=5).collect()]


def test_tri_lane_declines_unselective_needles(spark, tiny_index):
    """A needle whose rarest trigram blankets the corpus (df above the
    selectivity cutoff) must NOT be served from the lane -- the candidate
    set would defeat row-group pruning, so the engine verifies with the
    plain scan instead.  Results stay identical either way."""
    from probe_spark.engine import SearchEngine

    ix, _ = tiny_index
    eng = SearchEngine(spark, ix)
    assert eng._tri_post_df is not None
    # force the cutoff below this corpus so a common needle trips it
    eng._TRI_DIRECT_FLOOR = 0
    eng._TRI_DIRECT_FRAC = 0.0001
    needle = "firewall whitel"  # present in many tiny-index docs
    assert eng._tri_candidate_ids(needle) is eng._TRI_DECLINED
    # and the full query still matches the lane-served engine exactly
    served = SearchEngine(spark, ix)
    q = '"firewall whitel"'
    assert [
        (r["doc_id"], r["score"]) for r in eng.search(q, k=5).collect()
    ] == [(r["doc_id"], r["score"]) for r in served.search(q, k=5).collect()]
