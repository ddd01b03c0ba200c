"""Reference-mode doc store (build_index doc_store="reference"): the
index never copies the text -- pages_indexed is a slim (doc_id, url,
lang) map and text-consuming paths hydrate from the durable source table
via indexer.doc_text_df.  At web scale this halves build write volume
(text dominates bytes); these tests pin that the slim layout stays
rank-identical to the oracle on every query shape that TOUCHES text
(quoted exact, excluded, grep) and that resume/streaming contracts hold.
"""

import shutil

import pytest

from probe_spark.oracle import search as oracle_search

# query shapes chosen to exercise the text-hydration path: q10/q11/q21
# force containment verification, q08 an excluded-term scan
TEXT_TOUCHING_QUERIES = [
    '"parseJSONToHTML5"',
    '"error handling" retry',
    '+retry -"error handling"',
    "process -deprecated",
    "+firewall whitelist",
    "lang:de firewall",
]


@pytest.fixture(scope="module")
def ref_index(spark, tmp_path_factory):
    """Source parquet + reference-mode index built over it."""
    from probe_spark.fixtures import pages_df
    from probe_spark.indexer import build_index

    root = tmp_path_factory.mktemp("refmode")
    src = root / "source"
    pages_df(spark, 1000).write.mode("overwrite").parquet(str(src))
    ix = root / "ix"
    metrics = build_index(
        spark,
        None,  # pages read from source_path
        str(ix),
        n_buckets=4,
        doc_store="reference",
        source_path=str(src),
    )
    yield str(ix), str(src), metrics
    shutil.rmtree(root, ignore_errors=True)


def test_reference_store_is_slim(spark, ref_index):
    """pages_indexed carries no text column and is far smaller than the
    source (the whole point: zero text copies at build time)."""
    from pathlib import Path

    ix, src, _ = ref_index
    docs = spark.read.parquet(f"{ix}/pages_indexed")
    assert "text" not in docs.columns
    assert {"doc_id", "url", "lang"} <= set(docs.columns)

    def _bytes(p):
        return sum(f.stat().st_size for f in Path(p).rglob("*") if f.is_file())

    assert _bytes(f"{ix}/pages_indexed") < _bytes(src) / 2


def test_reference_mode_requires_source_path(spark, tmp_path):
    from probe_spark.indexer import build_index

    with pytest.raises(ValueError, match="source_path"):
        build_index(spark, None, str(tmp_path / "x"), doc_store="reference")
    with pytest.raises(ValueError, match="doc_store"):
        build_index(spark, None, str(tmp_path / "x"), doc_store="slim")


@pytest.mark.parametrize("query", TEXT_TOUCHING_QUERIES)
def test_reference_engine_rank_identity(spark, ref_index, tiny_oracle, query):
    """Flat engine over the slim store: text-touching query shapes must
    match the oracle exactly (containment verify reads through the
    source join)."""
    from probe_spark.engine import SearchEngine

    ix, _, _ = ref_index
    eng = SearchEngine(spark, ix)
    got = eng.search_local(query, k=10)
    expected = oracle_search(tiny_oracle, query, k=10)
    assert [d for d, _ in got] == [d for d, _ in expected], query
    for (gd, gs), (_, es) in zip(got, expected):
        assert gs == pytest.approx(es, rel=1e-12, abs=1e-12), (query, gd)


def test_reference_rescue_verifies_on_spark(spark, ref_index, tiny_oracle):
    """The slim store has no text column for the driver to read, so a
    fresh engine verifies a cold needle on Spark (through the source
    join) and still returns the oracle's rows; once the needle is
    memoized, the query is driver-served."""
    from probe_spark.engine import SearchEngine

    ix, _, _ = ref_index
    eng = SearchEngine(spark, ix)
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    q = '"error handling" retry'
    j0 = sched.nextJobId()
    got = eng.search_local(q, k=10)
    j1 = sched.nextJobId()
    assert j1 > j0
    assert eng.search_local(q, k=10) == got and sched.nextJobId() == j1
    expected = oracle_search(tiny_oracle, q, k=10)
    assert [d for d, _ in got] == [d for d, _ in expected]
    for (gd, gs), (_, es) in zip(got, expected):
        assert gs == pytest.approx(es, rel=1e-12, abs=1e-12), gd


def test_reference_kill_resume(spark, tmp_path_factory, tiny_oracle):
    """A build killed mid-phase-B resumes from lineage and serves
    identical results -- the resumable-batch north rule holds in
    reference mode (resume re-reads the immutable source)."""
    from probe_spark.engine import SearchEngine
    from probe_spark.fixtures import pages_df
    from probe_spark.indexer import build_index

    root = tmp_path_factory.mktemp("refkill")
    src = root / "source"
    pages_df(spark, 1000).write.mode("overwrite").parquet(str(src))
    ix = root / "ix"
    with pytest.raises(RuntimeError):
        build_index(
            spark,
            None,
            str(ix),
            n_buckets=4,
            doc_store="reference",
            source_path=str(src),
            fail_buckets=frozenset({1}),
        )
    build_index(spark, None, str(ix), n_buckets=4, resume=True)
    eng = SearchEngine(spark, str(ix))
    for query in ("firewall whitelist", '"error handling" retry'):
        got = eng.search_local(query, k=10)
        expected = oracle_search(tiny_oracle, query, k=10)
        assert [d for d, _ in got] == [d for d, _ in expected], query
    shutil.rmtree(root, ignore_errors=True)


def test_reference_rejects_streaming_ingest(spark, ref_index):
    """Incremental ingest needs the copy-mode doc store (the stream's
    pages_indexed delta IS the text copy) -- reference layouts refuse."""
    from probe_spark.fixtures import pages_df
    from probe_spark.streaming.incremental import ingest_batch

    ix, _, _ = ref_index
    batch = pages_df(spark, 10)
    with pytest.raises(ValueError, match="copy-mode"):
        ingest_batch(spark, batch, ix, epoch_id=0)


def test_reference_grep_and_extract_cli(spark, ref_index, capsys):
    """CLI grep/extract hydrate text through doc_text_df on a slim store."""
    from probe_spark.cli import main as cli_main

    ix, _, _ = ref_index
    rc = cli_main(["grep", "--index", ix, "--pattern", "firewall", "--count"])
    assert rc == 0
    out = capsys.readouterr().out.strip()
    assert int(out) > 0

    rc = cli_main(["extract", "--index", ix, "--doc", "0"])
    assert rc == 0
    out = capsys.readouterr().out
    assert "== 0 " in out
