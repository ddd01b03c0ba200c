"""Budget-0 rank identity for boolean and excluded query shapes beyond the
q01-q25 set: with the driver lane reading nothing, SearchEngine's Spark
plan must return the oracle's rows and f64 scores.  The module and test
names are kept from the retired segment-pruned (WAND) engine these shapes
were first checked on, as the probe_wand_* entries keep theirs."""

import pytest

from probe_spark.oracle import search as oracle_search

BOOLEAN_QUERIES = [
    "+firewall whitelist",
    "lock AND token",  # 448/1000 docs co-occur; AND must drop ~400 one-sided
    "(timeout OR deadline) AND process",
    "+error +handling retry",
    "error AND (validation OR token)",
]

EXCLUDED_QUERIES = [
    "process -deprecated",          # token + containment exclusion
    '+retry -"error handling"',     # excluded exact phrase (containment)
    "data AND (base OR store) -leak",
    "firewall -whitelist",
]


@pytest.fixture(scope="module")
def engine(spark, tiny_index):
    from probe_spark.engine import SearchEngine

    path, _ = tiny_index
    return SearchEngine(spark, path)


@pytest.fixture
def spark_plan(monkeypatch):
    """Driver budget 0: every query runs its Spark plan."""
    from probe_spark import indexer

    monkeypatch.setattr(indexer, "DRIVER_READ_BYTES", 0)


def _check(engine, tiny_oracle, query):
    got = engine.search_local(query, k=10)
    expected = oracle_search(tiny_oracle, query, k=10)
    assert got, query
    assert [d for d, _ in got] == [d for d, _ in expected], query
    for (gd, gs), (_, es) in zip(got, expected):
        assert gs == pytest.approx(es, rel=1e-12, abs=1e-12), (query, gd)


@pytest.mark.usefixtures("spark_plan")
@pytest.mark.parametrize("query", BOOLEAN_QUERIES)
def test_wand_boolean_matches_oracle(engine, tiny_oracle, query):
    """Required/And/Or shapes: the must-keyword gate and the lane scorer
    stay rank- and score-identical to the oracle."""
    _check(engine, tiny_oracle, query)


@pytest.mark.usefixtures("spark_plan")
@pytest.mark.parametrize("query", EXCLUDED_QUERIES)
def test_wand_excluded_matches_oracle(engine, tiny_oracle, query):
    """Excluded tokens and phrases drop their docs by containment; the
    remaining rows stay rank- and score-identical to the oracle."""
    _check(engine, tiny_oracle, query)
