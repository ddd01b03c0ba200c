"""The R7 coverage boost is one value in every host: the driver lane and
the Spark plan (budget 0) each look it up in lanes.boost_table, so a
boosted score equals the scalar oracle's in f64.
The (matched, n_terms) pairs are ones where recomputing cov**1.5 differs
from oracle.coverage_boost in the last ulp: numpy's pow at (3, 8), the
JVM's at (5, 7)."""

import shutil

import pytest

from probe_spark import elastic, indexer
from probe_spark.oracle import search as oracle_search
from tests.test_driver_lane import _build, _oracle

_WORDS = "merge stream window queue vector token header shard".split()


def _pages(matched: int, n_terms: int) -> list[tuple[str, str, str]]:
    """The top. doc holds the first ``matched`` query words and ranks
    first; each query word also sits alone in a few filler docs."""
    words = _WORDS[:n_terms]
    pages = [("https://top.example.org/a", " ".join(words[:matched] * 3), "en")]
    for i, w in enumerate(words * 3):
        pages.append((f"https://w{i}.example.org/p", f"{w} lorem ipsum dolor", "en"))
    for i in range(20):
        pages.append((f"https://f{i}.example.org/p", "lorem ipsum dolor sit", "en"))
    return pages


@pytest.fixture(scope="module", params=[(3, 8), (5, 7)], ids=["3of8", "5of7"])
def boost_index(spark, tmp_path_factory, request):
    matched, n_terms = request.param
    path = tmp_path_factory.mktemp("boost") / "ix"
    _build(spark, path, _pages(matched, n_terms))
    query = " ".join(_WORDS[:n_terms])
    assert len(elastic.create_query_plan(query).term_indices) == n_terms
    yield path, query, _oracle(path)
    shutil.rmtree(path, ignore_errors=True)


def _want(boost_index):
    path, query, oracle = boost_index
    want = oracle_search(oracle, query, k=10, boost_coverage=True)
    top = next(d.doc_id for d in oracle.docs if d.url.startswith("https://top."))
    assert want[0][0] == top and len(want) > 1
    return want


def test_driver_lane_boost_is_the_oracle(spark, boost_index):
    from probe_spark.engine import SearchEngine

    path, query, _ = boost_index
    got = SearchEngine(spark, str(path)).search_local(query, 10, boost_coverage=True)
    assert got == _want(boost_index)


def test_spark_plan_boost_is_the_oracle(spark, boost_index, monkeypatch):
    from probe_spark.engine import SearchEngine

    monkeypatch.setattr(indexer, "DRIVER_READ_BYTES", 0)
    path, query, _ = boost_index
    got = SearchEngine(spark, str(path)).search_local(query, 10, boost_coverage=True)
    assert got == _want(boost_index)

