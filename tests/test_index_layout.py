"""On-disk index layout: every table zstd-compressed with delta-encoded
doc ids (indexer.INDEX_ARROW), each bucket of a table one sorted file
until its input outgrows FILE_BYTES (then one sorted file per url slice,
over ascending doc-id ranges), and indexes written in the older snappy +
dictionary layout still serve identical results."""

import shutil
from pathlib import Path

import pytest

LAYOUT_TABLES = ("postings", "tri_postings", "doc_lens", "pages_indexed")

# every per-bucket table written by the build and by ingest, with the
# order each of its files is sorted by (the first column is the key)
BUCKET_TABLES = {
    "postings": ("term", "doc_id"),
    "tri_postings": ("tri", "doc_id"),
    "doc_lens": ("doc_id",),
    "terms_partial": ("term",),
    "tri_partial": ("tri",),
}


def _sorted_keys(f: Path, order) -> list[tuple]:
    import pyarrow.parquet as pq

    t = pq.read_table(f, columns=list(order))
    keys = list(zip(*(t.column(c).to_pylist() for c in order)))
    assert keys == sorted(keys), (f, order)
    return keys


def assert_sorted_files(
    table_dir: Path, order, max_files: int = 1, glob: str = "bucket=*"
) -> dict[str, list[Path]]:
    """Every bucket dir of ``table_dir`` holds 1..max_files parquet files,
    each sorted by ``order``; returns {bucket dir name: its files}."""
    per = {
        d.name: sorted(d.glob("*.parquet"))
        for d in sorted(Path(table_dir).glob(glob))
    }
    assert per, table_dir
    for bucket, files in per.items():
        assert 1 <= len(files) <= max_files, (table_dir, bucket, len(files))
        for f in files:
            _sorted_keys(f, order)
    return per


def assert_doc_ranges_ascend(files: list[Path]) -> None:
    """The files of one bucket, in name order, hold disjoint, ascending
    doc-id ranges (one url slice each)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    spans = [
        tuple(pc.min_max(pq.read_table(f, columns=["doc_id"])["doc_id"])
              .as_py().values())
        for f in files
    ]
    assert all(hi < lo for (_, hi), (lo, _) in zip(spans, spans[1:])), spans


@pytest.mark.parametrize("table", sorted(BUCKET_TABLES))
def test_one_sorted_file_per_bucket(tiny_index, table):
    path, _ = tiny_index
    assert_sorted_files(Path(path) / table, BUCKET_TABLES[table])


def test_dictionaries_one_file(tiny_index):
    path, _ = tiny_index
    (terms,) = (Path(path) / "terms").glob("*.parquet")
    _sorted_keys(terms, ("term",))
    assert len(list((Path(path) / "tri_terms").glob("*.parquet"))) == 1


def assert_split_layout(ix: Path, k: int, files_by_table: dict) -> None:
    """The layout of a build whose buckets are k > 1 url slices: each
    bucket is k sorted files over ascending doc-id ranges, and the term
    dictionary, its partials above FILE_BYTES, is range-split into sorted
    files with disjoint, ordered term ranges.  (test_file_bytes_build
    checks that its rows equal the default layout's.)"""
    from probe_spark.indexer import FILE_BYTES, _dir_bytes, file_count

    for table, order in BUCKET_TABLES.items():
        per = assert_sorted_files(ix / table, order, max_files=k)
        assert all(len(files) > 1 for files in per.values()), table
        if "doc_id" in order:
            for files in per.values():
                assert_doc_ranges_ascend(files)
    n_terms = file_count(_dir_bytes(ix / "terms_partial"), FILE_BYTES)
    assert files_by_table["terms"] == n_terms > 1
    spans = []
    for f in (ix / "terms").glob("*.parquet"):
        keys = _sorted_keys(f, ("term",))
        if keys:
            spans.append((keys[0], keys[-1]))
    spans.sort()
    assert all(hi < lo for (_, hi), (lo, _) in zip(spans, spans[1:])), spans


def _pages_50(spark, tmp_path: Path, lo: int):
    """Fixture pages lo..lo+50, read back from parquet files, so a delta
    ingested from them is sized by its input files' bytes."""
    from probe_spark.fixtures import pages_df

    new = (
        pages_df(spark, lo + 50)
        .select("url", "text", "lang")
        .join(pages_df(spark, lo).select("url"), "url", "leftanti")
    )
    new.write.parquet(str(tmp_path / f"pages_{lo}"))
    return spark.read.parquet(str(tmp_path / f"pages_{lo}"))


def test_ingest_delta_sized_like_a_bucket(
    spark, tiny_index, tmp_path, monkeypatch
):
    """A 50-doc delta is one sorted file per table; with FILE_BYTES
    patched below its input it splits into url slices like a batch
    bucket."""
    from probe_spark import indexer
    from probe_spark.streaming import incremental

    src, _ = tiny_index
    ix = tmp_path / "ix"
    shutil.copytree(src, ix)
    batch = _pages_50(spark, tmp_path, 1000)
    assert incremental.ingest_batch(spark, batch, str(ix), epoch_id=1000) == 50
    for table, order in BUCKET_TABLES.items():
        assert_sorted_files(ix / table, order, glob="bucket=stream_*")

    batch = _pages_50(spark, tmp_path, 1050)
    in_bytes = incremental._input_bytes(spark, batch)
    target = in_bytes // 3
    for mod in (indexer, incremental):
        monkeypatch.setattr(mod, "FILE_BYTES", target)
    assert incremental.ingest_batch(spark, batch, str(ix), epoch_id=1050) == 50
    k = indexer.file_count(in_bytes, target)
    for table, order in BUCKET_TABLES.items():
        per = assert_sorted_files(
            ix / table, order, max_files=k, glob="bucket=stream_1050_*"
        )
        if "doc_id" in order:
            (files,) = per.values()
            assert len(files) > 1, table
            assert_doc_ranges_ascend(files)


@pytest.mark.parametrize("table", LAYOUT_TABLES)
def test_index_tables_zstd_delta_doc_id(tiny_index, assert_index_layout, table):
    path, _ = tiny_index
    assert_index_layout(Path(path) / table)


def test_bytes_by_table_matches_disk(tiny_index):
    """build_index reports each table's footprint from a driver-side walk;
    the build's own tables are unchanged since (later tests only add
    tables such as suggest buckets and lineage rows)."""
    from probe_spark.indexer import _dir_bytes

    path, metrics = tiny_index
    by_table = metrics["bytes_by_table"]
    for t in (*LAYOUT_TABLES, "terms", "tri_terms", "terms_partial", "stats"):
        assert by_table[t] == _dir_bytes(Path(path) / t) > 0, t
    # one file per bucket (4) per table, one per dictionary
    files = metrics["files_by_table"]
    assert files == {**files, **dict.fromkeys(BUCKET_TABLES, 4)}
    assert files["terms"] == files["tri_terms"] == files["stats"] == 1
    for t in (*LAYOUT_TABLES, *BUCKET_TABLES, "terms", "tri_terms", "stats"):
        assert files[t] == len(list((Path(path) / t).rglob("*.parquet"))), t


def _rewrite_old_layout(bucket_dir: Path) -> None:
    """Rewrite every part file of one bucket the way the pre-zstd writer
    laid it out: snappy, dictionary on every column, v1 data pages."""
    import pyarrow.parquet as pq

    for f in sorted(bucket_dir.glob("*.parquet")):
        table = pq.read_table(f)
        # stale Hadoop checksums would fail the local-FS read
        (f.parent / f".{f.name}.crc").unlink(missing_ok=True)
        pq.write_table(
            table, f, compression="snappy", use_dictionary=True,
            data_page_version="1.0",
        )


def test_old_layout_index_serves_same_rows(
    spark, tiny_index, tmp_path, parquet_layout
):
    """An index written before the zstd/delta layout stays valid: readers
    are encoding-agnostic, so the __spark_entry__ index cache key stays."""
    from probe_spark.engine import SearchEngine

    src, _ = tiny_index
    old = tmp_path / "old"
    shutil.copytree(src, old)
    for table in ("postings", "tri_postings"):
        bucket = old / table / "bucket=0"
        _rewrite_old_layout(bucket)
        layout = parquet_layout(bucket)
        assert {c for seen in layout.values() for c, _ in seen} == {"SNAPPY"}
        assert all("RLE_DICTIONARY" in enc for _, enc in layout["doc_id"])

    new_eng = SearchEngine(spark, src)
    old_eng = SearchEngine(spark, str(old))
    # quoted (trigram rescue), excluded, and a plain bag
    for query in ('"error handling" retry', "process -deprecated", "hashmap lookup"):
        got = old_eng.search_local(query, k=10)
        assert got, query
        assert got == new_eng.search_local(query, k=10), query
