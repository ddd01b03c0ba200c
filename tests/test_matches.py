"""Rich-result columns (reference SearchResult, models.rs:34-88):
matched_keywords + per-keyword score_breakdown, opt-in via
search(with_matches=True)."""

from __future__ import annotations

import math

import pytest


@pytest.fixture(scope="module")
def eng(spark, tiny_index):
    from probe_spark.engine import SearchEngine

    ix, _ = tiny_index
    return SearchEngine(spark, ix)


def test_rank_identity_unchanged(eng):
    base = eng.search("firewall whitelist", k=8).collect()
    rich = eng.search("firewall whitelist", k=8, with_matches=True).collect()
    assert [(r["rank"], r["doc_id"], r["score"]) for r in base] == [
        (r["rank"], r["doc_id"], r["score"]) for r in rich
    ]
    assert rich[0].asDict().keys() == {
        "rank", "doc_id", "url", "score", "matched_keywords", "score_breakdown"
    }


def test_matched_keywords_against_oracle_tokens(eng, tiny_oracle):
    from probe_spark import elastic

    # the engine's term set includes parse-time expansions (e.g. the
    # stemmed 'firewal'); matched_keywords reports those too -- exactly
    # the terms the scorer saw
    plan = elastic.create_query_plan("firewall whitelist")
    rows = eng.search("firewall whitelist", k=8, with_matches=True).collect()
    assert rows
    for r in rows:
        toks = set(tiny_oracle.tokens[r["doc_id"]])
        expected = sorted(t for t in plan.term_indices if t in toks)
        assert r["matched_keywords"] == expected
        # sorted, no duplicates
        assert r["matched_keywords"] == sorted(set(r["matched_keywords"]))


def test_breakdown_sums_to_score_for_disjunctive(eng):
    rows = eng.search("firewall whitelist", k=8, with_matches=True).collect()
    for r in rows:
        assert r["score_breakdown"].keys() == set(r["matched_keywords"])
        assert math.isclose(
            sum(r["score_breakdown"].values()), r["score"], abs_tol=5e-6
        )


def test_boolean_query_matches(eng, tiny_oracle):
    rows = eng.search("+firewall -whitelist", k=5, with_matches=True).collect()
    for r in rows:
        toks = set(tiny_oracle.tokens[r["doc_id"]])
        assert "firewall" in toks and "whitelist" not in toks
        assert "firewall" in r["matched_keywords"]


def test_only_excluded_and_universal_have_empty_matches(eng):
    for q in ("-firewall",):
        rows = eng.search(q, k=3, with_matches=True).collect()
        assert rows
        for r in rows:
            assert r["matched_keywords"] == []
            assert r["score_breakdown"] == {}


def test_breakdown_sums_to_score_with_coverage_boost(spark, tiny_index):
    """With boost_coverage the reported score is scaled; the breakdown
    entries must carry their share so the map still sums to `score`."""
    from probe_spark.engine import SearchEngine

    ix, _ = tiny_index
    beng = SearchEngine(spark, ix)
    rows = beng.search(
        "firewall whitelist", k=8, boost_coverage=True, with_matches=True
    ).collect()
    assert rows
    for r in rows:
        assert math.isclose(
            sum(r["score_breakdown"].values()), r["score"], abs_tol=5e-6
        )
