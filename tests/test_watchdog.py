"""Query timeout watchdog (reference src/search/timeout.rs semantics: abort
the search at the deadline; Spark-native translation cancels the job group
and keeps the session alive)."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from probe_spark.watchdog import QueryTimeoutError, query_deadline


def _slow_df(spark, seconds_per_task: float = 30.0):
    from pyspark.sql.types import LongType

    @F.udf(returnType=LongType())
    def crawl(x):
        time.sleep(seconds_per_task)
        return x

    return spark.range(64).repartition(8).select(crawl("id").alias("v"))


def test_deadline_cancels_and_session_survives(spark):
    t0 = time.time()
    with pytest.raises(QueryTimeoutError, match="timed out after"):
        with query_deadline(spark, 1.5):
            _slow_df(spark).collect()
    elapsed = time.time() - t0
    # deadline 1.5s, tasks sleep 30s each: cancellation must beat the tasks
    assert elapsed < 25.0
    # the session stays fully usable for the next query
    assert spark.range(5).count() == 5


def test_deadline_noop_when_disabled_or_fast(spark):
    with query_deadline(spark, None):
        assert spark.range(3).count() == 3
    with query_deadline(spark, 60.0):
        assert spark.range(3).count() == 3


def test_engine_search_local_timeout_plumbing(spark, tiny_index):
    """A generous deadline must not perturb results; rank identity between
    the timed and untimed paths pins the wiring."""
    from probe_spark.engine import SearchEngine

    ix, _ = tiny_index
    eng = SearchEngine(spark, ix)
    assert eng.search_local("firewall", k=5, timeout=120.0) == eng.search_local(
        "firewall", k=5
    )

