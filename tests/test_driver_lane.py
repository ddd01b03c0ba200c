"""The driver lane: rescue-free queries whose footer-pruned reads fit
indexer.DRIVER_READ_BYTES are served with pyarrow on the driver, with no
Spark job -- and return the rows of the Spark plan and of the oracle.  The
same pruned read bounds entry_queries._vec_by_id."""

import random
import shutil
from pathlib import Path

import pytest

from probe_spark import indexer
from probe_spark.oracle import CorpusIndex, Doc
from probe_spark.oracle import search as oracle_search


def _jobs(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


_WORDS = (
    "error handling retry timeout deadline firewall cache index shard "
    "merge stream window queue vector token header"
).split()
_LANGS = ("en", "en", "de", "rust", "rs", "Python")
_EXTS = (".html", ".pdf", ".txt?x=1", "", "/", ".HTML#top")


def _pages(n: int, seed: int, prefix: str) -> list[tuple[str, str, str]]:
    rng = random.Random(seed)
    out = []
    for i in range(n):
        # url words (retry, cache) also index as url tokens: the -n rows
        url = (
            f"https://{prefix}{i % 7}.example.org/"
            f"{rng.choice(('retry', 'cache', 'docs'))}/p{i}{_EXTS[i % len(_EXTS)]}"
        )
        text = " ".join(rng.choice(_WORDS) for _ in range(rng.randint(5, 40)))
        out.append((url, text, _LANGS[i % len(_LANGS)]))
    return out


def _build(spark, path, pages) -> None:
    df = spark.createDataFrame(pages, "url string, text string, lang string")
    indexer.build_index(spark, df, str(path), n_buckets=2)


def _oracle(path) -> CorpusIndex:
    """Oracle over the index's own doc store (ids as the index has them)."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{path}/pages_indexed", columns=["doc_id", "url", "text", "lang"])
    rows = sorted(zip(*(t[c].to_pylist() for c in ("doc_id", "url", "text", "lang"))))
    return CorpusIndex.build([Doc(*r) for r in rows])


@pytest.fixture(scope="module")
def small_index(spark, tmp_path_factory):
    path = tmp_path_factory.mktemp("driver") / "ix"
    _build(spark, path, _pages(120, 7, "site"))
    yield path
    shutil.rmtree(path, ignore_errors=True)


def test_open_and_serve_run_no_spark_jobs(spark, tiny_index):
    """Opening an engine and serving an under-budget query through both
    entry points runs zero Spark jobs."""
    from probe_spark.engine import SearchEngine

    path, _ = tiny_index
    q = "error handling retry"
    j0 = _jobs(spark)
    eng = SearchEngine(spark, path)
    local = eng.search_local(q, k=10)
    rows = eng.search(q, k=10).collect()
    assert _jobs(spark) == j0
    assert local and [(r["doc_id"], r["score"]) for r in rows] == local
    assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
    assert all(r["url"] for r in rows)


def test_open_with_fresh_suggest_lane_runs_no_spark_jobs(
    spark, small_index, tmp_path
):
    """A fresh SymSpell table is detected at open from its manifest; its
    Spark reader is created on first use."""
    from probe_spark.engine import SearchEngine
    from probe_spark.symspell import build_suggest_buckets

    ix = tmp_path / "ix"
    shutil.copytree(small_index, ix)
    build_suggest_buckets(spark, str(ix), max_dist=1)
    j0 = _jobs(spark)
    eng = SearchEngine(spark, str(ix))
    assert _jobs(spark) == j0
    assert eng._suggest_max_dist == 1 and eng._suggest_buckets_df is not None


def test_tiny_budget_runs_the_spark_plan(spark, tiny_index, monkeypatch):
    """With the budget at 1 byte the Spark plan serves the same query
    (jobs run) and returns the same rows."""
    from probe_spark.engine import SearchEngine

    path, _ = tiny_index
    eng = SearchEngine(spark, path)
    q = "error handling retry"
    local, rows = eng.search_local(q, k=10), eng.search(q, k=10).collect()
    monkeypatch.setattr(indexer, "DRIVER_READ_BYTES", 1)
    j0 = _jobs(spark)
    assert eng.search_local(q, k=10) == local
    assert eng.search(q, k=10).collect() == rows
    assert _jobs(spark) > j0


def test_dictionary_miss_reads_nothing(spark, tiny_index, monkeypatch):
    """A bag none of whose terms is in the terms dictionary (df 0 for
    every term) returns no hits without reading a table."""
    from probe_spark import engine

    calls = []
    read = engine.pruned_read
    monkeypatch.setattr(
        engine, "pruned_read", lambda *a: calls.append(a[1:3]) or read(*a)
    )
    eng = engine.SearchEngine(spark, tiny_index[0])
    j0 = _jobs(spark)
    assert eng.search_local("orderzq zzzabsentterm", k=10) == []
    assert calls == [] and _jobs(spark) == j0


def test_url_read_over_budget_keeps_driver_hits(spark, tiny_index, monkeypatch):
    """When only the doc store's url read exceeds the budget, search()
    keeps the driver lane's hits and reads their urls with one Spark job,
    returning the same rows."""
    from probe_spark.engine import SearchEngine

    path, _ = tiny_index
    eng = SearchEngine(spark, path)
    q = "error handling retry"
    rows = eng.search(q, k=10).collect()
    pruned = eng._pruned
    monkeypatch.setattr(
        eng,
        "_pruned",
        lambda table, *a: None if table == eng._docs_path else pruned(table, *a),
    )
    j0 = _jobs(spark)
    assert eng.search(q, k=10).collect() == rows
    assert _jobs(spark) - j0 <= 1


@pytest.mark.parametrize(
    "query, opts",
    [
        ("lang:de retry", {}),
        ("lang:rust error OR cache", {}),
        ("ext:html retry timeout", {}),
        ("ext:pdf OR ext:txt firewall", {}),
        ("path:retry error", {}),
        ("file:site3 window", {}),
        ("error handling retry", {"boost_coverage": True}),
        ("+error timeout OR cache", {"boost_coverage": True}),
        ("retry cache", {"exclude_filenames": True}),
        ("(retry OR cache) AND token", {"exclude_filenames": True}),
        ("the and for", {}),
        ("zzzabsentterm", {}),
        ("zzzabsentterm retry", {}),
    ],
)
def test_driver_lane_matches_oracle(spark, small_index, query, opts):
    """Filters, coverage boost, -n, a stopword-only query and a zero-hit
    term: the driver lane serves each with no job and agrees with the
    oracle in doc ids, order and f64 scores."""
    from probe_spark.engine import SearchEngine

    eng = SearchEngine(spark, str(small_index))
    j0 = _jobs(spark)
    got = eng.search_local(query, k=10, **opts)
    assert _jobs(spark) == j0, query
    want = oracle_search(_oracle(small_index), query, k=10, **opts)
    assert got == want, (query, got, want)


def test_ingest_then_driver_query(spark, small_index, tmp_path):
    """An ingest_batch delta bucket is seen by the next driver-lane query:
    the refresh drops the footer cache, and the rows match the oracle over
    the grown doc store and the Spark plan."""
    from probe_spark.engine import SearchEngine
    from probe_spark.streaming.incremental import ingest_batch

    ix = tmp_path / "ix"
    shutil.copytree(small_index, ix)
    eng = SearchEngine(spark, str(ix))
    q = "retry firewall"
    before = eng.search_local(q, k=50)
    new = _pages(40, 11, "fresh")
    df = spark.createDataFrame(new, "url string, text string, lang string")
    assert ingest_batch(spark, df, str(ix), epoch_id=0) == 40
    assert any(d.name.startswith("bucket=stream") for d in (ix / "postings").iterdir())
    j0 = _jobs(spark)
    got = eng.search_local(q, k=50)
    assert _jobs(spark) == j0
    assert got != before and max(d for d, _ in got) >= 120
    assert got == oracle_search(_oracle(ix), q, k=50)
    assert got == SearchEngine(spark, str(ix)).search_local(q, k=50)


_READERS = (
    "_postings_df",
    "_docs_df",
    "_terms_df",
    "_doc_lens_df",
    "_tri_post_df",
    "_tri_terms_df",
)


def _check_readers(spark, path) -> None:
    """Every Spark reader of a fresh engine is created with no job and has
    the schema Spark infers for its table."""
    from probe_spark.engine import SearchEngine

    eng = SearchEngine(spark, str(path))
    j0 = _jobs(spark)
    readers = {name: getattr(eng, name) for name in _READERS}
    assert _jobs(spark) == j0
    for name, reader in readers.items():
        assert reader is not None, name
        inferred = spark.read.parquet(eng._reader_paths[name]).schema
        assert reader.schema == inferred, (name, reader.schema, inferred)


def test_spark_readers_take_footer_schemas(spark, tiny_index, small_index, tmp_path):
    """Readers get their schema from the cached footers: a batch index has
    an int ``bucket`` partition column, and a ``bucket=stream_*`` delta
    makes it a string, as Spark's own inference types it."""
    from probe_spark.streaming.incremental import ingest_batch

    def bucket_type(path) -> str:
        schema = spark.read.parquet(str(path / "postings")).schema
        return schema["bucket"].dataType.typeName()

    _check_readers(spark, tiny_index[0])
    assert bucket_type(Path(tiny_index[0])) == "integer"
    ix = tmp_path / "ix"
    shutil.copytree(small_index, ix)
    df = spark.createDataFrame(
        _pages(10, 3, "delta"), "url string, text string, lang string"
    )
    assert ingest_batch(spark, df, str(ix), epoch_id=0) == 10
    _check_readers(spark, ix)
    assert bucket_type(ix) == "string"


# -- _vec_by_id: one embedding row through the pruned read ------------------


class _Spy:
    """Wraps pyarrow.parquet.ParquetFile to record the row groups decoded."""

    def __init__(self, monkeypatch):
        import pyarrow.parquet as pq

        self.read: list[int] = []
        spy, base = self, pq.ParquetFile

        class File(base):
            def read_row_groups(self, row_groups, *a, **kw):
                spy.read += list(row_groups)
                return super().read_row_groups(row_groups, *a, **kw)

            def read_row_group(self, i, *a, **kw):
                spy.read.append(i)
                return super().read_row_group(i, *a, **kw)

            def iter_batches(self, *a, row_groups=None, **kw):
                spy.read += list(
                    range(self.num_row_groups) if row_groups is None else row_groups
                )
                return super().iter_batches(*a, row_groups=row_groups, **kw)

            def read(self, *a, **kw):
                spy.read += list(range(self.num_row_groups))
                return super().read(*a, **kw)

        monkeypatch.setattr(pq, "ParquetFile", File)


@pytest.fixture(scope="module")
def emb_dir(tmp_path_factory):
    """embeddings.parquet: even vec_ids 0..398, 20 row groups of 10 rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("emb")
    ids = list(range(0, 400, 2))
    vecs = [[i + 0.5, -i / 3.0, 1.0 / (i + 1)] for i in ids]
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float32())),
                "label": pa.array([i % 3 for i in ids], pa.int32()),
            }
        ),
        str(d / "embeddings.parquet"),
        row_group_size=10,
    )
    return str(d)


def test_vec_by_id_reads_only_the_covering_row_group(spark, emb_dir, monkeypatch):
    import numpy as np

    from probe_spark.entry_queries import _vec_by_id

    spy = _Spy(monkeypatch)
    j0 = _jobs(spark)
    got = _vec_by_id(spark, emb_dir, 398)  # last row of the last row group
    assert got == [float(x) for x in np.float32([398.5, -398 / 3.0, 1 / 399])]
    assert spy.read == [19]
    assert _jobs(spark) == j0


def test_vec_by_id_missing_id_reads_no_whole_file(spark, emb_dir, monkeypatch):
    """A missing id raises KeyError after reading at most the one row
    group whose range holds it -- none when it is past every range."""
    from probe_spark.entry_queries import _vec_by_id

    spy = _Spy(monkeypatch)
    j0 = _jobs(spark)
    with pytest.raises(KeyError):
        _vec_by_id(spark, emb_dir, 7)  # odd: inside row group 0's range
    assert spy.read == [0]
    with pytest.raises(KeyError):
        _vec_by_id(spark, emb_dir, 10_000)
    assert spy.read == [0]
    assert _jobs(spark) == j0


def test_vec_by_id_over_budget_uses_spark(spark, emb_dir, monkeypatch):
    from probe_spark.entry_queries import _vec_by_id

    want = _vec_by_id(spark, emb_dir, 200)
    monkeypatch.setattr(indexer, "DRIVER_READ_BYTES", 1)
    j0 = _jobs(spark)
    assert _vec_by_id(spark, emb_dir, 200) == want
    assert _jobs(spark) > j0
    with pytest.raises(KeyError):
        _vec_by_id(spark, emb_dir, 7)
