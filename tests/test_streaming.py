"""Structured Streaming incremental index: drain a directory of page files,
fold into an existing index, verify the engine matches an oracle built from
the resulting doc store (exact ids + scores)."""

import pytest

from probe_spark.oracle import CorpusIndex, Doc
from probe_spark.oracle import search as oracle_search


@pytest.mark.parametrize("query", ["firewall", "error AND handling", "+retry process"])
def test_incremental_ingest_then_query(spark, tmp_path, query):
    from pyspark.sql import functions as F

    from probe_spark.engine import SearchEngine
    from probe_spark.fixtures import pages_df
    from probe_spark.indexer import build_index
    from probe_spark.streaming.incremental import start_incremental_index

    ix = str(tmp_path / "ix")
    stream_dir = tmp_path / "incoming"
    stream_dir.mkdir()

    # initial batch build over docs 0..149
    base = pages_df(spark, 150).drop("html", "warc_ts")
    build_index(spark, base, ix, n_buckets=2)

    # a wave of 50 new pages arrives as files (docs 150..199)
    wave1 = (
        pages_df(spark, 200)
        .drop("html", "warc_ts")
        .join(base.select("url"), "url", "leftanti")
    )
    wave1.coalesce(1).write.mode("overwrite").parquet(str(stream_dir / "w1"))
    q = start_incremental_index(
        spark, f"{stream_dir}/w1", ix, str(tmp_path / "ckpt1")
    )
    q.awaitTermination(120)

    # engine must now rank over the union corpus; the oracle is built from
    # the engine's own doc store (ids are arrival-order for streamed docs)
    docs_rows = spark.read.parquet(f"{ix}/pages_indexed").collect()
    oracle_ix = CorpusIndex.build(
        [Doc(r["doc_id"], r["url"], r["text"], r["lang"]) for r in docs_rows]
    )
    assert oracle_ix.n_docs == 200

    eng = SearchEngine(spark, ix)
    got = eng.search_local(query, k=10)
    expected = oracle_search(oracle_ix, query, k=10)
    assert [d for d, _ in got] == [d for d, _ in expected], query
    for (gd, gs), (_, es) in zip(got, expected):
        assert gs == pytest.approx(es, rel=1e-12, abs=1e-12), (query, gd)


def test_incremental_checkpoint_no_reprocess(spark, tmp_path):
    """Restarting the stream over the same directory must not double-index
    (exactly-once from the checkpoint)."""
    from probe_spark.fixtures import pages_df
    from probe_spark.indexer import build_index
    from probe_spark.streaming.incremental import start_incremental_index

    ix = str(tmp_path / "ix")
    stream_dir = tmp_path / "incoming"
    stream_dir.mkdir()
    build_index(spark, pages_df(spark, 50).drop("html", "warc_ts"), ix, n_buckets=2)

    pages_df(spark, 80).drop("html", "warc_ts").where("url like '%-7%'").coalesce(
        1
    ).write.mode("overwrite").parquet(str(stream_dir / "w"))

    for _ in range(2):  # second run: checkpoint says nothing new
        q = start_incremental_index(
            spark, f"{stream_dir}/w", ix, str(tmp_path / "ckpt")
        )
        q.awaitTermination(120)

    docs = spark.read.parquet(f"{ix}/pages_indexed")
    assert docs.count() == docs.select("url").distinct().count()


def test_stream_crash_rollback_and_resume(spark, tmp_path):
    """A batch that died after the lineage PREPARE marker but before the
    pages_indexed COMMIT marker is rolled back by _reconcile, and the
    retry re-ingests the pages cleanly (no orphan postings, no doc-id
    collisions)."""
    import json
    import shutil
    from pathlib import Path

    from probe_spark.fixtures import pages_df
    from probe_spark.indexer import build_index
    from probe_spark.streaming.incremental import ingest_batch

    ix = str(tmp_path / "ix")
    build_index(spark, pages_df(spark, 50).drop("html", "warc_ts"), ix, n_buckets=2)
    wave = (
        pages_df(spark, 80)
        .drop("html", "warc_ts")
        .join(pages_df(spark, 50).select("url"), "url", "leftanti")
    )
    # full ingest, then simulate the crash window by removing the COMMIT
    # marker and the fold bookkeeping (state), leaving the PREPARE marker
    assert ingest_batch(spark, wave, ix, epoch_id=0) == 30
    out = Path(ix)
    stream_buckets = [
        d.name for d in (out / "pages_indexed").iterdir()
        if "stream_" in d.name
    ]
    assert len(stream_buckets) == 1
    shutil.rmtree(out / "pages_indexed" / stream_buckets[0])
    (out / "stream_state.json").unlink()

    # retry of the same batch: rollback erases the orphan bucket, then the
    # batch re-ingests all 30 pages with ids starting at 50 again
    assert ingest_batch(spark, wave, ix, epoch_id=1) == 30
    docs = spark.read.parquet(f"{ix}/pages_indexed")
    assert docs.count() == 80
    assert docs.select("doc_id").distinct().count() == 80
    post = spark.read.parquet(f"{ix}/postings")
    assert post.select("doc_id").distinct().count() <= 80
    # every posting doc_id has a doc-store row (no orphans)
    orphans = (
        post.select("doc_id").distinct()
        .join(docs.select("doc_id"), "doc_id", "leftanti")
        .count()
    )
    assert orphans == 0
    # stats reflect exactly the union corpus
    stats = spark.read.parquet(f"{ix}/stats").collect()[0]
    assert stats["n_docs"] == 80


def test_stream_crash_rollforward_heals_fold(
    spark, tmp_path, assert_index_layout
):
    """A batch that committed its pages but died before the dictionary /
    stats fold is rolled FORWARD: terms and stats are rebuilt, the next
    ingest proceeds with correct totals, and df values match a scratch
    recount."""
    import json
    from pathlib import Path

    from pyspark.sql import functions as F

    from probe_spark.fixtures import pages_df
    from probe_spark.indexer import _dir_bytes, build_index
    from probe_spark.streaming.incremental import _read_state, ingest_batch

    ix = str(tmp_path / "ix")
    m = build_index(
        spark, pages_df(spark, 50).drop("html", "warc_ts"), ix, n_buckets=2
    )
    # the build's per-table footprint accounts for the whole index dir
    assert sum(m["bytes_by_table"].values()) == _dir_bytes(Path(ix))
    wave = (
        pages_df(spark, 80)
        .drop("html", "warc_ts")
        .join(pages_df(spark, 50).select("url"), "url", "leftanti")
    )
    assert ingest_batch(spark, wave, ix, epoch_id=0) == 30
    out = Path(ix)
    # the ingest delta shares the base layout (zstd, delta doc_id)
    for table in ("postings", "tri_postings", "doc_lens", "pages_indexed"):
        (delta,) = (out / table).glob("bucket=stream_*")
        assert_index_layout(delta)
    # simulate: fold/state never ran (also covers a LEGACY state file
    # missing the running totals -- it must not be trusted)
    (out / "stream_state.json").write_text(json.dumps({"next_doc_id": 80}))

    wave2 = (
        pages_df(spark, 100)
        .drop("html", "warc_ts")
        .join(pages_df(spark, 80).select("url"), "url", "leftanti")
    )
    assert ingest_batch(spark, wave2, ix, epoch_id=1) == 20
    stats = spark.read.parquet(f"{ix}/stats").collect()[0]
    assert stats["n_docs"] == 100
    # avgdl must equal the true mean over ALL docs (the legacy-state bug
    # collapsed it by restarting sum_dl at 0)
    lens = spark.read.parquet(f"{ix}/doc_lens")
    true_avg = lens.agg(F.avg("doc_len")).collect()[0][0]
    assert abs(stats["avgdl"] - true_avg) < 1e-9
    # dictionary df equals a recount from postings for a sample term
    post = spark.read.parquet(f"{ix}/postings")
    sample = post.groupBy("term").count().orderBy(F.desc("count")).first()
    dict_df = (
        spark.read.parquet(f"{ix}/terms")
        .filter(F.col("term") == sample["term"])
        .collect()[0]["df"]
    )
    assert dict_df == sample["count"]
    st = _read_state(ix)
    assert st["next_doc_id"] == 100 and st["n_docs"] == 100


def test_cached_engines_see_incremental_delta(spark, tmp_path):
    """Freshness without reconstruction (index fingerprint refresh): a
    SearchEngine CONSTRUCTED BEFORE an incremental delta must serve
    post-delta queries with results identical to a freshly built engine
    -- stats, dictionary caches, file listings and tri lane all refresh
    from the on-disk change marker at the next query."""
    import pytest as _pytest

    from probe_spark.engine import SearchEngine
    from probe_spark.fixtures import pages_df
    from probe_spark.indexer import build_index
    from probe_spark.streaming.incremental import start_incremental_index

    ix = str(tmp_path / "ix")
    stream_dir = tmp_path / "incoming"
    stream_dir.mkdir()
    base = pages_df(spark, 120).drop("html", "warc_ts")
    build_index(spark, base, ix, n_buckets=2)

    # engine cached BEFORE the delta lands
    flat = SearchEngine(spark, ix)
    flat.search("firewall", k=5).collect()  # warm its caches

    wave = (
        pages_df(spark, 170)
        .drop("html", "warc_ts")
        .join(base.select("url"), "url", "leftanti")
    )
    wave.coalesce(1).write.mode("overwrite").parquet(str(stream_dir / "w"))
    q = start_incremental_index(spark, f"{stream_dir}/w", ix, str(tmp_path / "ck"))
    q.awaitTermination(120)

    docs_rows = spark.read.parquet(f"{ix}/pages_indexed").collect()
    oracle_ix = CorpusIndex.build(
        [Doc(r["doc_id"], r["url"], r["text"], r["lang"]) for r in docs_rows]
    )
    assert oracle_ix.n_docs == 170
    for query in ("firewall", "+retry process", '"firewall whitelist"'):
        expected = oracle_search(oracle_ix, query, k=10)
        got_flat = [
            (r["doc_id"], r["score"])
            for r in flat.search(query, k=10).collect()
        ]
        assert [d for d, _ in got_flat] == [d for d, _ in expected], query
        for (gd, gs), (_, es) in zip(got_flat, expected):
            assert gs == _pytest.approx(es, rel=1e-12, abs=1e-12), (query, gd)


def test_incremental_honors_manifest_tokenizer(spark, tmp_path):
    """Streaming into a tokenizer='simple' index must tokenize new batches
    with the SAME tokenizer the manifest records (ingest_batch reads it):
    the folded index's scores must equal a fresh full simple build's,
    which would be impossible if the stream stemmed/split its half with
    the probe pipeline."""
    from pyspark.sql import functions as F

    from probe_spark.engine import SearchEngine
    from probe_spark.fixtures import pages_df
    from probe_spark.indexer import build_index
    from probe_spark.streaming.incremental import start_incremental_index

    all_pages = pages_df(spark, 120).drop("html", "warc_ts")
    half = all_pages.limit(60)
    rest = all_pages.join(half.select("url"), "url", "leftanti")

    ix = str(tmp_path / "ix_incr")
    build_index(spark, half, ix, n_buckets=2, tokenizer="simple")
    stream_dir = tmp_path / "incoming"
    rest.coalesce(1).write.mode("overwrite").parquet(str(stream_dir))
    q = start_incremental_index(spark, str(stream_dir), ix, str(tmp_path / "ckpt"))
    q.awaitTermination(120)

    full_ix = str(tmp_path / "ix_full")
    build_index(spark, all_pages, full_ix, n_buckets=2, tokenizer="simple")

    incr = SearchEngine(spark, ix)
    full = SearchEngine(spark, full_ix)
    for query in ("firewall", "error AND handling", "process -deprecated"):
        # doc ids differ (arrival order vs global url rank); compare by url
        got = {
            r["url"]: r["score"] for r in incr.search(query, k=10).collect()
        }
        want = {
            r["url"]: r["score"] for r in full.search(query, k=10).collect()
        }
        # tie-break ids differ between the builds, so a boundary tie may
        # swap WHICH url holds rank 10 -- the score multiset may not differ
        assert sorted(got.values()) == pytest.approx(
            sorted(want.values()), rel=1e-12, abs=1e-12
        ), query
        for u in set(got) & set(want):
            assert got[u] == pytest.approx(want[u], rel=1e-12, abs=1e-12), (
                query, u,
            )
