"""End-to-end Spark engine tests: index build, rank-identity vs the oracle
over the reference query set (FIXTURES.md SS3), determinism, resumability.
"""

import itertools
import math

import pytest

from probe_spark.oracle import search as oracle_search

# Reference query set q01-q25 (FIXTURES.md SS3)
from probe_spark.fixtures import REFERENCE_QUERIES as QUERIES


@pytest.fixture(scope="module")
def engine(spark, tiny_index):
    from probe_spark.engine import SearchEngine

    path, _metrics = tiny_index
    return SearchEngine(spark, path)


def test_index_build_metrics(tiny_index):
    from pathlib import Path

    from probe_spark.indexer import _dir_bytes

    path, metrics = tiny_index
    assert metrics["n_docs"] == 1000
    assert metrics["n_postings"] > 10000
    assert metrics["docs_per_sec"] > 0
    assert metrics["bytes_in"] > 0 and metrics["bytes_out"] > 0
    # lineage bytes_out covers every per-bucket output table, the trigram
    # lane (the largest) included
    assert metrics["bytes_out"] == sum(
        _dir_bytes(b)
        for t in ("postings", "doc_lens", "tri_postings")
        for b in Path(path, t).glob("bucket=*")
    )


def test_index_global_stats(spark, tiny_index, tiny_oracle):
    path, _ = tiny_index
    stats = spark.read.parquet(f"{path}/stats").collect()[0]
    assert stats["n_docs"] == tiny_oracle.n_docs
    assert math.isclose(stats["avgdl"], tiny_oracle.avgdl, rel_tol=1e-12)


def test_doc_ids_match_url_rank(spark, tiny_index, tiny_oracle):
    path, _ = tiny_index
    rows = (
        spark.read.parquet(f"{path}/pages_indexed")
        .join(spark.read.parquet(f"{path}/doc_lens"), "doc_id")
        .select("doc_id", "url", "doc_len")
        .orderBy("doc_id")
        .collect()
    )
    assert len(rows) == tiny_oracle.n_docs
    for r in rows:
        d = tiny_oracle.docs[r["doc_id"]]
        assert d.url == r["url"], f"doc_id {r['doc_id']} url mismatch"
        assert tiny_oracle.doc_lens[r["doc_id"]] == r["doc_len"]


def test_df_matches_oracle(spark, tiny_index, tiny_oracle):
    path, _ = tiny_index
    rows = spark.read.parquet(f"{path}/terms").collect()
    spark_df = {r["term"]: r["df"] for r in rows}
    assert spark_df == tiny_oracle.df


@pytest.mark.parametrize("qid", sorted(QUERIES))
def test_rank_identity(engine, tiny_oracle, qid):
    """Engine top-10 must equal the oracle top-10: same doc_ids, same order,
    f64-identical scores (FIXTURES.md SS5 invariant 3).  At the default
    driver budget: rescue-free queries are served by the driver lane."""
    _check_rank_identity(engine, tiny_oracle, qid)


@pytest.mark.parametrize("qid", sorted(QUERIES))
def test_rank_identity_spark_plan(engine, tiny_oracle, qid, monkeypatch):
    """The same identity at driver budget 0: every query runs its Spark
    plan."""
    from probe_spark import indexer

    monkeypatch.setattr(indexer, "DRIVER_READ_BYTES", 0)
    _check_rank_identity(engine, tiny_oracle, qid)


def _check_rank_identity(engine, tiny_oracle, qid):
    query = QUERIES[qid]
    expected = oracle_search(tiny_oracle, query, k=10)
    got = engine.search_local(query, k=10)
    assert [d for d, _ in got] == [d for d, _ in expected], (
        f"{qid}: docIDs/order mismatch\n got={got}\n exp={expected}"
    )
    for (gd, gs), (ed, es) in zip(got, expected):
        assert gs == pytest.approx(es, rel=1e-12, abs=1e-12), (
            f"{qid}: score mismatch doc {gd}: {gs} vs {es}"
        )


def test_determinism(engine):
    a = engine.search_local("error handling retry", k=10)
    b = engine.search_local("error handling retry", k=10)
    assert a == b


BATCH_SHAPES = {
    "bag": "error handling retry",
    "bool": "+error +handler",
    "excl": "process -deprecated",
    "phrase": '"error handling" retry',
    "field": "lang:de firewall",
}


@pytest.mark.parametrize("budget", ["default", "zero"])
@pytest.mark.parametrize(
    "opts", ["plain", "exclude_filenames", "boost_coverage", "exact"]
)
def test_search_batch_identity(engine, monkeypatch, opts, budget):
    """search_batch must be row-identical to per-query search() over the
    25 reference queries plus plan shapes that exercise different engine
    state (plain bag, required/boolean, excluded rescue, quoted phrase,
    field filter) -- f64-exact, for the fused queries-as-data lane and
    the single-query lane alike, pinning that no per-query planning
    state leaks between the queries of a batch.  At driver budget 0
    every query of both lanes runs its Spark plan."""
    from probe_spark import indexer

    if budget == "zero":
        monkeypatch.setattr(indexer, "DRIVER_READ_BYTES", 0)
    kw = {} if opts == "plain" else {opts: True}
    batch = {**QUERIES, **BATCH_SHAPES}
    got = engine.search_batch(batch, k=10, **kw).collect()
    by_q: dict[str, list] = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["url"], r["score"])
        )
    assert [r["query_id"] for r in got] == sorted(
        r["query_id"] for r in got
    )
    for qid, q in batch.items():
        solo = [
            (r["rank"], r["doc_id"], r["url"], r["score"])
            for r in engine.search(q, k=10, **kw).collect()
        ]
        assert by_q.get(qid, []) == solo, (
            f"{qid}: batch != solo\n{by_q.get(qid)}\n{solo}"
        )


def test_search_batch_is_search_batch_fused():
    from probe_spark.engine import SearchEngine

    assert SearchEngine.search_batch_fused is SearchEngine.search_batch


def test_fused_chain_gates_classifier():
    """_fused_chain_gates must fuse exactly the count-expressible
    left-deep chains and bail on every shape whose boolean structure or
    f64 association the fused plan cannot reproduce."""
    from probe_spark import elastic
    from probe_spark.engine import SearchEngine, _fused_chain_gates

    def gates(q):
        p = elastic.create_query_plan(q, False)
        return _fused_chain_gates(p, SearchEngine._excl_only_rescues(p))

    assert gates("error handling retry") == []            # bag
    assert gates("process -deprecated") == ["process"]    # single pos + excl
    assert gates("error AND handling") == ["error", "handl"]   # conjunctive
    assert gates("+error +handler") == ["error", "handler"]    # all required
    assert gates("+error handling") == ["error"]          # required-first
    assert gates("+error handling -noise") == ["error"]
    # bails: parenthesized right subtree, mixed connectors, disjunctive
    # exclusion ("+r -b OR c" matches b-docs when c present), Or-excluded,
    # only-excluded, field filter, stopword-only, multi-keyword positives
    assert gates("(timeout OR deadline) AND retry") is None
    assert gates("error AND handling retry") is None
    assert gates("+retry -deprecated OR process") is None
    assert gates("retry OR -deprecated") is None
    assert gates("-deprecated") is None
    assert gates("lang:de error") is None
    assert gates("the and for") is None
    assert gates("firewall retry") is None  # firewall dual-emits


def test_search_batch_fused_exclusions(engine, monkeypatch):
    """Fused exclusions (queries-as-data drop-pair anti-join): bagexcl
    queries ride the fused plan -- including a shared excluded term
    across queries, multiple exclusions in one query, an exclusion that
    hits nothing, and one that wipes a term's whole match set -- and stay
    row-identical to per-query search(), with and without
    exclude_filenames, at the default driver budget and at 0."""
    from probe_spark import elastic, indexer
    from probe_spark.engine import SearchEngine, _fused_chain_gates

    batch = {
        "x1": "process -deprecated",
        "x2": "error retry -deprecated",
        "x3": "retry -nonexistentneedle",
        "x4": "error handling -process -deprecated",
        "bag": "error handling retry",
        "req": "+error handling",
        "req2": "+error +handler",
        "reqx": "+process retry -deprecated",
        "conj": "error AND handling",
        "reqq": '+retry -"error handling"',
    }
    for qid, q in batch.items():
        p = elastic.create_query_plan(q, False)
        assert _fused_chain_gates(
            p, SearchEngine._excl_only_rescues(p)
        ) is not None, qid
    budgets = (indexer.DRIVER_READ_BYTES, 0)
    for budget, ex_fn in itertools.product(budgets, (False, True)):
        monkeypatch.setattr(indexer, "DRIVER_READ_BYTES", budget)
        fused = engine.search_batch_fused(
            batch, k=10, exclude_filenames=ex_fn
        ).collect()
        by_q: dict[str, list] = {}
        for r in fused:
            by_q.setdefault(r["query_id"], []).append(
                (r["rank"], r["doc_id"], r["url"], r["score"])
            )
        for qid, q in batch.items():
            solo = [
                (r["rank"], r["doc_id"], r["url"], r["score"])
                for r in engine.search(
                    q, k=10, exclude_filenames=ex_fn
                ).collect()
            ]
            assert by_q.get(qid, []) == solo, (
                f"{qid} budget={budget} ex_fn={ex_fn}: fused != solo"
            )


def test_exact_flag(engine, tiny_oracle):
    expected = oracle_search(tiny_oracle, "error handling", k=10, exact=True)
    got = engine.search_local("error handling", k=10, exact=True)
    assert [d for d, _ in got] == [d for d, _ in expected]


def test_resumability(spark, tmp_path):
    """Kill after 1 bucket, resume, index equals a clean build
    (FIXTURES.md SS5 invariant 6)."""
    from probe_spark.fixtures import pages_df
    from probe_spark.indexer import build_index

    pages = pages_df(spark, 200)
    clean_dir = tmp_path / "clean"
    build_index(spark, pages, str(clean_dir), n_buckets=3)

    crash_dir = tmp_path / "crash"
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(
            spark, pages, str(crash_dir), n_buckets=3, fail_buckets=frozenset([0])
        )
    # resume completes only the missing buckets
    build_index(spark, pages, str(crash_dir), n_buckets=3, resume=True)

    for table in ("pages_indexed", "doc_lens", "postings", "terms", "stats"):
        a = (
            spark.read.parquet(f"{clean_dir}/{table}")
            .toPandas()
            .sort_values(by=lambda_cols(spark, f"{clean_dir}/{table}"))
            .reset_index(drop=True)
        )
        b = (
            spark.read.parquet(f"{crash_dir}/{table}")
            .toPandas()
            .sort_values(by=lambda_cols(spark, f"{crash_dir}/{table}"))
            .reset_index(drop=True)
        )
        assert a.equals(b), f"{table} differs between clean and resumed build"

    # bucket 0 came from the killed build, 1-2 from the resume: both
    # write one sorted file per bucket per table
    from tests.test_index_layout import BUCKET_TABLES, assert_sorted_files

    for table, order in BUCKET_TABLES.items():
        assert_sorted_files(crash_dir / table, order)

    # lineage shows one completed checkpoint per bucket
    from probe_spark.indexer import _read_lineage

    lin = _read_lineage(str(crash_dir))
    assert sorted(lin) == [0, 1, 2]
    assert all(r["n_docs"] > 0 and r["wall_ms"] >= 0 for r in lin.values())


def lambda_cols(spark, path):
    return [
        c for c in spark.read.parquet(path).columns if c not in ("text",)
    ]


def test_extraction_invariant(spark):
    """FIXTURES.md SS5 invariant 1: text == extract_text(html) per row,
    enforced by the build when validate_extraction=True."""
    from probe_spark.fixtures import pages_df
    from probe_spark.indexer import build_index
    import tempfile

    pages = pages_df(spark, 50)
    with tempfile.TemporaryDirectory() as d:
        build_index(spark, pages, d, n_buckets=2, validate_extraction=True)


def test_tokenize_udf_matches_oracle(spark, tiny_index, tiny_oracle):
    """FIXTURES.md SS5 invariant 2: Spark-side tokenization == oracle
    tokenizer, checked via per-doc (doc_len, tf multiset) equality."""
    path, _ = tiny_index
    rows = (
        spark.read.parquet(f"{path}/postings")
        .groupBy("doc_id")
        .agg(
            {"tf": "sum", "term": "count"},
        )
        .collect()
    )
    got = {r["doc_id"]: (r["sum(tf)"], r["count(term)"]) for r in rows}
    for i in range(tiny_oracle.n_docs):
        toks = tiny_oracle.tokens[i]
        exp = (len(toks), len(set(toks)))
        assert got.get(i, (0, 0)) == exp, f"doc {i} token stats mismatch"


def test_wide_query_rank_identity(spark, tiny_index, tiny_oracle, engine):
    """A 40-term mixed query (OR bag + AND + required + excluded) stays
    oracle-identical -- exercises the pivot agg with many tf columns and
    the validated path well below the 256-term limit."""
    from probe_spark.oracle import search as oracle_search

    words = [
        "firewall", "whitelist", "deadlock", "timeout", "deadline", "retry",
        "error", "handler", "process", "migration", "endpoint", "token",
        "header", "download", "upload", "cache", "index", "shard", "replica",
        "batch", "stream", "window", "merge", "sort", "join", "scan",
        "vector", "matrix", "tensor", "graph", "queue", "stack", "heap",
        "tree", "hash", "map", "set", "list",
    ]
    q_or = " ".join(words)  # implicit OR bag
    q_mixed = (
        "(" + " OR ".join(words[:6]) + ") AND (" + " OR ".join(words[6:12])
        + ") +" + words[12] + " -" + words[13]
    )
    for q in (q_or, q_mixed):
        got = engine.search_local(q, 10)
        want = oracle_search(tiny_oracle, q, k=10)
        assert got == want, q


def test_pin_hot_identity_and_refresh(spark, tiny_index):
    """pin_hot (executor-cached postings/doc store for interactive
    serving) must not change any result row, and the pin must survive a
    check_refresh reopen (re-applied to the fresh readers)."""
    from probe_spark.engine import SearchEngine

    path, _ = tiny_index
    cold = SearchEngine(spark, path)
    hot = SearchEngine(spark, path)
    hot.pin_hot()
    assert hot._postings_df.storageLevel.useMemory
    for q in ("firewall", "+error +handler", "process -deprecated",
              '"error handling" retry'):
        assert hot.search_local(q, 10) == cold.search_local(q, 10), q
    # force a reopen and confirm the pin re-applies
    hot._index_fp = None
    assert hot.check_refresh()
    assert hot._pin and hot._postings_df.storageLevel.useMemory
    assert hot.search_local("firewall", 10) == cold.search_local(
        "firewall", 10
    )
    for f in hot._pinned_frames:
        f.unpersist()


def test_concurrent_queries_keep_their_options(spark, tiny_index, monkeypatch):
    """Query options are per call: a boosted search on another thread, run
    while this -n query is held inside _match_frames on the same engine,
    must not change its rows.  Budget 0: both run their Spark plans."""
    from probe_spark import indexer

    monkeypatch.setattr(indexer, "DRIVER_READ_BYTES", 0)
    _check_concurrent_options(spark, tiny_index, monkeypatch, "_filtered_docs")


def test_concurrent_driver_queries_keep_their_options(
    spark, tiny_index, monkeypatch
):
    """The driver-lane twin: thread A's -n query is held inside its pruned
    postings read while the boosted search runs on the driver lane too."""
    j0 = int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())
    _check_concurrent_options(spark, tiny_index, monkeypatch, "_pruned")
    assert int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId()) == j0


def _check_concurrent_options(spark, tiny_index, monkeypatch, hold_in):
    import threading

    from probe_spark.engine import SearchEngine

    path, _ = tiny_index
    eng = SearchEngine(spark, path)
    q = "error handling retry"
    serial = eng.search_local(q, k=10, exclude_filenames=True)
    entered, release = threading.Event(), threading.Event()
    out: dict = {}
    inner = getattr(eng, hold_in)

    def held(*args):  # holds thread A only
        if threading.current_thread() is a:
            entered.set()
            release.wait(timeout=120)
        return inner(*args)

    def run_a():
        try:
            out["rows"] = eng.search_local(q, k=10, exclude_filenames=True)
        except Exception as e:  # surfaced by the assert below
            out["error"] = e

    monkeypatch.setattr(eng, hold_in, held)
    a = threading.Thread(target=run_a)
    a.start()
    try:
        assert entered.wait(timeout=120)
        eng.search(q, k=10, boost_coverage=True).collect()
    finally:
        release.set()
        a.join(timeout=300)
    assert not a.is_alive()
    assert "error" not in out, out.get("error")
    assert out["rows"] == serial
