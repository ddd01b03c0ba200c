"""On-disk index layout: every table zstd-compressed with delta-encoded
doc ids (indexer.INDEX_PARQUET), and indexes written in the older snappy +
dictionary layout still serve identical results."""

import shutil
from pathlib import Path

import pytest

LAYOUT_TABLES = ("postings", "tri_postings", "doc_lens", "pages_indexed")


@pytest.mark.parametrize("table", LAYOUT_TABLES)
def test_index_tables_zstd_delta_doc_id(tiny_index, assert_index_layout, table):
    path, _ = tiny_index
    assert_index_layout(Path(path) / table)


def test_bytes_by_table_matches_disk(tiny_index):
    """build_index reports each table's footprint from a driver-side walk;
    the build's own tables are unchanged since (later tests only add
    tables such as blocks/ and lineage rows)."""
    from probe_spark.indexer import _dir_bytes

    path, metrics = tiny_index
    by_table = metrics["bytes_by_table"]
    for t in (*LAYOUT_TABLES, "terms", "tri_terms", "terms_partial", "stats"):
        assert by_table[t] == _dir_bytes(Path(path) / t) > 0, t


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
