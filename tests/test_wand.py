"""Compaction + WAND-style pruned top-k: equivalence with the flat engine
and the oracle, compression wins."""

import pytest

from probe_spark.oracle import search as oracle_search

DISJUNCTIVE_QUERIES = [
    "firewall",
    "error handling",
    "timeout OR deadline",
    "migrate endpoint meta",
    "processing",
    "codeblock",
]


@pytest.fixture
def segment_plan(monkeypatch):
    """Driver budget 0: the flat engine's driver lane reads nothing, so
    every query the segment plan owns is segment-scored."""
    from probe_spark import indexer

    monkeypatch.setattr(indexer, "DRIVER_READ_BYTES", 0)


@pytest.fixture(scope="module")
def compacted(spark, tiny_index):
    from probe_spark.compaction import compact_index

    path, _ = tiny_index
    metrics = compact_index(spark, path)
    return path, metrics


def test_compression_ratio(spark, compacted):
    """Blocks must beat the raw posting representation (20B/posting).

    Note: at 1000 docs most terms have df 1-2, so per-block metadata
    dominates and compressed flat parquet can be smaller than the block
    table; the varbyte win on long posting lists is asserted in
    test_codec.test_compression_wins.  Here we sanity-check against the
    uncompressed representation and that block payloads are ~1 byte/doc
    for dense lists."""
    path, m = compacted
    n_postings = spark.read.parquet(f"{path}/postings").count()
    assert m["blocks_bytes"] > 0
    assert m["blocks_bytes"] < n_postings * 20


def test_blocks_roundtrip_postings(spark, compacted):
    """Decoding every block reproduces the flat postings exactly."""
    import numpy as np

    from probe_spark.codec import decode_doc_block, varbyte_decode

    path, _ = compacted
    flat = {
        (r["term"], r["doc_id"]): (r["tf"], r["doc_len"])
        for r in spark.read.parquet(f"{path}/postings").collect()
    }
    n = 0
    for r in spark.read.parquet(f"{path}/blocks").collect():
        docs = decode_doc_block(r["docs"])
        tfs = varbyte_decode(r["tfs"])
        dls = varbyte_decode(r["dls"])
        assert len(docs) == r["n"] == len(tfs) == len(dls)
        assert int(docs[0]) == r["first_doc"]
        assert int(docs[-1]) == r["max_doc"]
        assert int(tfs.max()) == r["max_tf"]
        assert np.all(np.diff(docs.astype(np.int64)) > 0)
        for d, t, l in zip(docs, tfs, dls):
            assert flat[(r["term"], int(d))] == (int(t), int(l)), (
                r["term"],
                int(d),
            )
            n += 1
    assert n == len(flat)


@pytest.mark.usefixtures("segment_plan")
@pytest.mark.parametrize("query", DISJUNCTIVE_QUERIES)
def test_wand_matches_oracle(spark, compacted, tiny_oracle, query):
    from probe_spark.wand import WandEngine

    path, _ = compacted
    eng = WandEngine(spark, path, phase1_segs=1)
    got = eng.search_local(query, k=10)
    expected = oracle_search(tiny_oracle, query, k=10)
    assert [d for d, _ in got] == [d for d, _ in expected], query
    for (gd, gs), (_, es) in zip(got, expected):
        assert gs == pytest.approx(es, rel=1e-12, abs=1e-12), (query, gd)


BOOLEAN_QUERIES = [
    "+firewall whitelist",
    "lock AND token",  # 448/1000 docs co-occur; AND must drop ~400 one-sided
    "(timeout OR deadline) AND process",
    "+error +handling retry",
    "error AND (validation OR token)",
]


@pytest.mark.usefixtures("segment_plan")
@pytest.mark.parametrize("query", BOOLEAN_QUERIES)
def test_wand_boolean_matches_oracle(spark, compacted, tiny_oracle, query):
    """Required/And/Or queries run on the segment engine (must-keyword
    intersection + oracle scorer in-segment) and stay rank-identical."""
    from probe_spark.wand import WandEngine

    path, _ = compacted
    eng = WandEngine(spark, path, phase1_segs=1)
    got = eng.search_local(query, k=10)
    expected = oracle_search(tiny_oracle, query, k=10)
    assert [d for d, _ in got] == [d for d, _ in expected], query
    for (gd, gs), (_, es) in zip(got, expected):
        assert gs == pytest.approx(es, rel=1e-12, abs=1e-12), (query, gd)


def test_wand_driver_lane_zero_jobs(spark, compacted):
    """At the default budget the bags, booleans and quoted or excluded-
    phrase queries are the flat engine's driver lane: no Spark job (the
    rescue needles resolve on the driver too), the flat engine's rows."""
    from probe_spark.engine import SearchEngine
    from probe_spark.wand import WandEngine

    path, _ = compacted
    eng = WandEngine(spark, path)
    flat = SearchEngine(spark, path)
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    rescue = ['"parseJSONToHTML5"', '"error handling" retry'] + EXCLUDED_QUERIES[:2]
    for q in DISJUNCTIVE_QUERIES + BOOLEAN_QUERIES + rescue:
        j0 = sched.nextJobId()
        got = eng.search_local(q, k=10)
        assert sched.nextJobId() == j0, q
        assert got and got == flat.search_local(q, k=10), q


def test_wand_search_dataframe_api(spark, compacted):
    """WandEngine.search returns the flat engine's search() rows, urls
    hydrated, as a local relation that collects with no Spark job."""
    from probe_spark.engine import SearchEngine
    from probe_spark.wand import WandEngine

    path, _ = compacted
    q = "firewall whitelist"
    frame = WandEngine(spark, path).search(q, k=5)
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    j0 = sched.nextJobId()
    rows = frame.collect()
    assert sched.nextJobId() == j0  # a local relation: no Spark job
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    assert all(r["url"] and r["score"] > 0 for r in rows)
    assert rows == SearchEngine(spark, path).search(q, k=5).collect()


def test_wand_engine_differential_random_queries(spark, compacted, tiny_oracle):
    """Seeded random query shapes: WandEngine and SearchEngine must agree
    with the oracle regardless of which internal path serves the query."""
    import random

    from probe_spark.engine import SearchEngine
    from probe_spark.wand import WandEngine

    path, _ = compacted
    wand = WandEngine(spark, path, phase1_segs=1)
    eng = SearchEngine(spark, path)
    rng = random.Random(42)
    vocab = ["firewall", "whitelist", "error", "handling", "retry",
             "process", "timeout", "deadline", "token", "lock"]
    ops = ["{} {}", "{} AND {}", "{} OR {}", "+{} {}", "({} OR {}) AND {}"]
    for _ in range(6):
        shape = rng.choice(ops)
        words = rng.sample(vocab, shape.count("{}"))
        q = shape.format(*words)
        exp = oracle_search(tiny_oracle, q, k=10)
        for label, got in (("wand", wand.search_local(q, 10)),
                           ("engine", eng.search_local(q, 10))):
            assert [d for d, _ in got] == [d for d, _ in exp], (label, q)
            for (gd, gs), (_, es) in zip(got, exp):
                assert gs == pytest.approx(es, rel=1e-12, abs=1e-12), (label, q, gd)


RESCUE_FILTER_QUERIES = [
    '"parseJSONToHTML5"',        # positive quoted exact term (q10)
    '"error handling" retry',    # quoted phrase + token term (q11)
    "lang:de firewall",          # field filter (q20)
    "lang:de +firewall whitelist",  # filter + required boolean
]


@pytest.mark.usefixtures("segment_plan")
@pytest.mark.parametrize("query", RESCUE_FILTER_QUERIES)
def test_wand_rescue_and_filters_served_in_segment(
    spark, compacted, tiny_oracle, monkeypatch, query
):
    """Quoted exact terms (synthetic rescue blocks with containment df) and
    field filters (scored-doc semi-join, bounds unchanged) are served IN
    the segment engine -- the flat-engine fallback must NOT be taken, and
    results stay rank- and score-identical to the oracle."""
    from probe_spark.wand import WandEngine

    path, _ = compacted
    eng = WandEngine(spark, path, phase1_segs=1)

    def _no_fallback(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("query fell back to the flat engine")

    monkeypatch.setattr(eng._fallback, "_local_hits", _no_fallback)
    got = eng.search_local(query, k=10)
    expected = oracle_search(tiny_oracle, query, k=10)
    assert [d for d, _ in got] == [d for d, _ in expected], query
    for (gd, gs), (_, es) in zip(got, expected):
        assert gs == pytest.approx(es, rel=1e-12, abs=1e-12), (query, gd)


@pytest.mark.usefixtures("segment_plan")
def test_wand_whole_query_exact_served_in_segment(
    spark, compacted, tiny_oracle, monkeypatch
):
    from probe_spark.wand import WandEngine

    path, _ = compacted
    eng = WandEngine(spark, path, phase1_segs=1)
    monkeypatch.setattr(
        eng._fallback,
        "_local_hits",
        lambda *a, **k: (_ for _ in ()).throw(AssertionError("fell back")),
    )
    got = eng.search_local("error handling", k=10, exact=True)
    expected = oracle_search(tiny_oracle, "error handling", k=10, exact=True)
    assert [d for d, _ in got] == [d for d, _ in expected]
    for (gd, gs), (_, es) in zip(got, expected):
        assert gs == pytest.approx(es, rel=1e-12, abs=1e-12)


@pytest.mark.usefixtures("segment_plan")
def test_wand_boost_coverage_identity(spark, compacted, tiny_oracle):
    """--boost-coverage in the segment engine: upper bounds scale by the
    max boost factor so pruning stays sound; scores match the oracle."""
    from probe_spark.wand import WandEngine

    path, _ = compacted
    eng = WandEngine(spark, path, phase1_segs=1)
    for q in ("firewall whitelist token", "error handling retry"):
        got = eng.search_local(q, k=10, boost_coverage=True)
        expected = oracle_search(tiny_oracle, q, k=10, boost_coverage=True)
        assert [d for d, _ in got] == [d for d, _ in expected], q
        for (gd, gs), (_, es) in zip(got, expected):
            assert gs == pytest.approx(es, rel=1e-12, abs=1e-12), (q, gd)


def test_wand_only_excluded_still_falls_back_correctly(
    spark, compacted, tiny_oracle
):
    """Only-excluded queries are score-0 doc-store scans -- no blocks
    involved; the flat path serves them identically."""
    from probe_spark.wand import WandEngine

    path, _ = compacted
    eng = WandEngine(spark, path)
    got = eng.search_local("-deprecated", k=10)
    expected = oracle_search(tiny_oracle, "-deprecated", k=10)
    assert [d for d, _ in got] == [d for d, _ in expected]


def test_wand_full_reference_query_set(spark, compacted, tiny_oracle):
    """All 25 reference queries (FIXTURES.md §3) through the segment
    engine: rank identity with the oracle regardless of serving path."""
    from tests.test_spark_engine import QUERIES
    from probe_spark.wand import WandEngine

    path, _ = compacted
    eng = WandEngine(spark, path, phase1_segs=1)
    for qid in sorted(QUERIES):
        q = QUERIES[qid]
        got = eng.search_local(q, k=10)
        expected = oracle_search(tiny_oracle, q, k=10)
        assert [d for d, _ in got] == [d for d, _ in expected], (qid, q)
        for (gd, gs), (_, es) in zip(got, expected):
            assert gs == pytest.approx(es, rel=1e-12, abs=1e-12), (qid, gd)


EXCLUDED_QUERIES = [
    "process -deprecated",          # token + containment exclusion
    '+retry -"error handling"',     # excluded exact phrase (containment)
    "data AND (base OR store) -leak",
    "firewall -whitelist",
]


@pytest.mark.usefixtures("segment_plan")
@pytest.mark.parametrize("query", EXCLUDED_QUERIES)
def test_wand_excluded_matches_oracle(
    spark, compacted, tiny_oracle, monkeypatch, query
):
    """Excluded terms are served IN the segment engine (synthetic exclusion
    blocks + lane drop semantics), rank- and score-identical to the oracle;
    the flat-engine fallback must NOT be taken."""
    from probe_spark.wand import WandEngine

    path, _ = compacted
    eng = WandEngine(spark, path, phase1_segs=1)

    def _no_fallback(*a, **k):  # pragma: no cover - failure path
        raise AssertionError("excluded query fell back to the flat engine")

    monkeypatch.setattr(eng._fallback, "_local_hits", _no_fallback)
    got = eng.search_local(query, k=10)
    expected = oracle_search(tiny_oracle, query, k=10)
    assert [d for d, _ in got] == [d for d, _ in expected], query
    for (gd, gs), (_, es) in zip(got, expected):
        assert gs == pytest.approx(es, rel=1e-12, abs=1e-12), (query, gd)


@pytest.mark.usefixtures("segment_plan")
def test_wand_multiseg_pruning_identity(spark, tmp_path_factory):
    """Corpus spanning >1 segment (8192-doc aligned): must-segment pruning
    and theta pruning must not change results vs the oracle."""
    from probe_spark.compaction import compact_index
    from probe_spark.fixtures import oracle_corpus, pages_df
    from probe_spark.indexer import build_index
    from probe_spark.wand import WandEngine

    n = 9000
    d = tmp_path_factory.mktemp("ix") / "small"
    build_index(spark, pages_df(spark, n), str(d), n_buckets=4)
    compact_index(spark, str(d))
    blocks = spark.read.parquet(f"{d}/blocks")
    segs = {r["seg"] for r in blocks.select("seg").distinct().collect()}
    assert len(segs) >= 2, "corpus must span multiple segments"
    # hot-term skew bound: (term, seg) is the salt -- even a term present
    # in EVERY doc (e.g. every url contributes 'http') may not put more
    # than one segment's worth of postings in a single compaction group
    from pyspark.sql import functions as F

    worst = (
        blocks.groupBy("term", "seg")
        .agg(F.sum("n").alias("n"))
        .agg(F.max("n"))
        .collect()[0][0]
    )
    assert worst <= 8192, f"compaction group exceeds segment bound: {worst}"
    oracle_ix = oracle_corpus(n)
    eng = WandEngine(spark, str(d), phase1_segs=1)
    for q in (
        "firewall whitelist",
        "+error +handling retry",
        "lock AND token",
        "(timeout OR deadline) AND process",
        # dual-emit duplicate keyword across Or branches: the segment upper
        # bound must scale by AST multiplicity or theta over-prunes
        "repository OR repositori",
    ):
        got = eng.search_local(q, k=10)
        expected = oracle_search(oracle_ix, q, k=10)
        assert [x for x, _ in got] == [x for x, _ in expected], q
        for (gd, gs), (_, es) in zip(got, expected):
            assert gs == pytest.approx(es, rel=1e-12, abs=1e-12), (q, gd)


@pytest.mark.usefixtures("segment_plan")
def test_wand_block_skip_prunes_and_stays_exact(spark, compacted, tiny_oracle):
    """Intra-segment block skipping (theta in _score_segs, phase-2 path):
    a theta above every block's bound prunes the whole segment; a real
    phase-1 theta leaves every emitted score >= theta exactly equal to the
    unskipped run; end-to-end results stay oracle-identical."""
    from pyspark.sql import functions as F

    from probe_spark import oracle
    from probe_spark.elastic import create_query_plan
    from probe_spark.wand import WandEngine

    path, _ = compacted
    eng = WandEngine(spark, path, phase1_segs=1)
    q = "error handling"  # two hot fixture terms -> multi-block (term, seg)
    terms = ["error", "handl"]
    blocks = spark.read.parquet(f"{path}/blocks").filter(
        F.col("term").isin(terms)
    )
    # precondition: skipping has blocks to work with
    multi = (
        blocks.groupBy("term", "seg").count().filter("count > 1").count()
    )
    assert multi > 0, "fixture terms must span multiple blocks per segment"
    plan = create_query_plan(q, False)
    dfs = eng._fallback._query_dfs(plan, exclude_filenames=False)
    assert sorted(dfs) == terms
    idfs = {t: oracle.idf(eng.n_docs, d) for t, d in dfs.items()}

    full = eng._score_segs(blocks, idfs, None, plan, ()).collect()
    assert full, "unskipped run must score docs"
    best = max(r["score"] for r in full)

    # theta above any reachable score: every block's combined bound is <
    # theta, so the scorer must emit nothing
    pruned = eng._score_segs(
        blocks, idfs, None, plan, (), theta=best * 4.0
    ).collect()
    assert pruned == []

    # a realistic theta (the 10th best score): every emitted score >= theta
    # must be bit-identical to the unskipped run (partial scores below
    # theta are allowed to differ/vanish -- they are merge-discarded)
    exact = {r["doc_id"]: r["score"] for r in full}
    theta = sorted((r["score"] for r in full), reverse=True)[9]
    skipped = eng._score_segs(
        blocks, idfs, None, plan, (), theta=theta
    ).collect()
    kept = {r["doc_id"]: r["score"] for r in skipped if r["score"] >= theta}
    want = {d: s for d, s in exact.items() if s >= theta}
    assert kept == want

    # end-to-end: phase-2 skipping engaged, results oracle-identical
    got = eng.search_local(q, k=10)
    expected = oracle_search(tiny_oracle, q, k=10)
    assert [d for d, _ in got] == [d for d, _ in expected]
    for (gd, gs), (_, es) in zip(got, expected):
        assert gs == pytest.approx(es, rel=1e-12, abs=1e-12), gd


@pytest.mark.usefixtures("segment_plan")
def test_phase2_batched_walk_identity(spark, compacted, tiny_oracle):
    """phase2_batch=1 forces the maximum number of theta-re-tightening
    batches (every remaining segment its own batch); results must stay
    rank- and score-identical to the oracle across disjunctive, boolean,
    excluded, and quoted shapes -- the batched walk can bound work but
    never change answers."""
    from probe_spark.oracle import search as oracle_search
    from probe_spark.wand import WandEngine

    ix, _ = compacted
    eng = WandEngine(spark, ix, phase1_segs=1, phase2_batch=1)
    for query in [
        "error handling retry",
        "+error +handler",
        "process -deprecated",
        '"error handling" retry',
        "firewall whitelist gateway",
    ]:
        got = eng.search_local(query, k=10)
        expected = oracle_search(tiny_oracle, query, k=10)
        assert [d for d, _ in got] == [d for d, _ in expected], query
        for (gd, gs), (_, es) in zip(got, expected):
            assert gs == es, (query, gd)


@pytest.mark.usefixtures("segment_plan")
def test_seg_stats_cache_invalidation(spark, compacted):
    """The cross-query seg-stats cache must be keyed to the compaction
    fingerprint + global stats: same key -> same persisted frame object,
    changed stats -> recompute."""
    from probe_spark.wand import WandEngine

    ix, _ = compacted
    eng = WandEngine(spark, ix)
    eng.search_local("firewall", 5)
    first = eng._seg_stats_df
    assert first is not None
    eng.search_local("gateway", 5)
    assert eng._seg_stats_df is first  # reused, not rebuilt
    eng.avgdl *= 1.0000001  # simulate a stats change from ingest
    eng._seg_stats()
    assert eng._seg_stats_df is not first


def test_pin_hot_survives_blocks_refresh(spark, compacted):
    """pin_hot must survive a blocks refresh (incremental ingest /
    recompaction): _refresh_blocks replaces _blocks_df on a fingerprint
    change and must (a) unpersist the stale pinned frame so it doesn't
    leak in the cache manager, and (b) re-apply the persist to the fresh
    reader -- mirroring SearchEngine's _pin bookkeeping."""
    from pyspark import StorageLevel

    from probe_spark.wand import WandEngine

    ix, _ = compacted
    eng = WandEngine(spark, ix)
    eng.pin_hot()
    old = eng._blocks_df
    assert eng._pin and old.storageLevel.useMemory
    # simulate a compaction fingerprint change
    eng._blocks_fp = ("stale",)
    eng._refresh_blocks()
    new = eng._blocks_df
    assert new is not old
    # (the stale frame's unpersist is not observable via storageLevel --
    # the cache manager keys by logical plan, which old and new share --
    # so assert the re-applied pin and that no duplicate entry piles up)
    assert new.storageLevel.useMemory  # pin re-applied to fresh reader
    eng._refresh_blocks()  # unchanged fp: must not re-persist/replace
    assert eng._blocks_df is new
    # queries still work and the fresh pin materializes lazily
    assert eng.search_local("firewall", 5)
    new.unpersist()
    eng._fallback.unpin()


def test_wand_exclude_filenames_leaves_no_state(spark, compacted):
    """A -n search routes to the flat engine; later queries on the same
    WAND engine must not inherit it (their rescue rows would be built from
    the text alone)."""
    from probe_spark.wand import WandEngine

    path, _ = compacted
    queries = ('"site12"', 'error "example.com/"')
    want = [WandEngine(spark, path).search_local(q, k=10) for q in queries]
    assert want[0]  # the needle is a url substring
    eng = WandEngine(spark, path)
    eng.search("error handling", k=10, exclude_filenames=True).collect()
    assert [eng.search_local(q, k=10) for q in queries] == want


def test_wand_fallback_keeps_boost_coverage(
    spark, tiny_index, tiny_oracle, tmp_path
):
    """Without a blocks table every query takes the flat fallback, which
    must still apply the coverage boost."""
    import shutil

    from probe_spark.wand import WandEngine

    path, _ = tiny_index
    flat = tmp_path / "flat"
    shutil.copytree(
        path, flat, ignore=shutil.ignore_patterns("blocks", "compaction.json")
    )
    eng = WandEngine(spark, str(flat))
    assert eng._blocks_df is None
    q = "error handling retry"
    got = eng.search_local(q, k=10, boost_coverage=True)
    expected = oracle_search(tiny_oracle, q, k=10, boost_coverage=True)
    assert [d for d, _ in got] == [d for d, _ in expected]
    for (gd, gs), (_, es) in zip(got, expected):
        assert gs == pytest.approx(es, rel=1e-12, abs=1e-12), gd
