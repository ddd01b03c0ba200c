import shutil

import pytest


@pytest.fixture(scope="session")
def spark():
    from probe_spark.session import get_spark

    s = get_spark("probe_spark_tests", cores=8, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def tiny_index(spark, tmp_path_factory):
    """1000-doc fixture corpus indexed on disk (FIXTURES.md 'tiny')."""
    from probe_spark.fixtures import pages_df
    from probe_spark.indexer import build_index

    d = tmp_path_factory.mktemp("ix") / "tiny"
    pages = pages_df(spark, 1000)
    metrics = build_index(spark, pages, str(d), n_buckets=4)
    yield str(d), metrics
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture(scope="session")
def tiny_oracle():
    from probe_spark.fixtures import oracle_corpus

    return oracle_corpus(1000)


def _parquet_layout(path) -> dict[str, set]:
    """{column: {(compression, encodings)}} over every row group of every
    parquet file under ``path``, read from the footers with pyarrow (no
    Spark job)."""
    from pathlib import Path

    import pyarrow.parquet as pq

    out: dict[str, set] = {}
    for f in sorted(Path(path).rglob("*.parquet")):
        md = pq.read_metadata(f)
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            for j in range(rg.num_columns):
                c = rg.column(j)
                out.setdefault(c.path_in_schema, set()).add(
                    (c.compression, c.encodings)
                )
    return out


@pytest.fixture(scope="session")
def parquet_layout():
    return _parquet_layout


@pytest.fixture(scope="session")
def assert_index_layout():
    """Checks the index encoding contract on one table dir: every column
    zstd-compressed, doc_id delta-encoded with no dictionary.  RLE is the
    level encoding, which pyarrow lists on every column chunk."""

    def check(path) -> None:
        layout = _parquet_layout(path)
        assert layout, f"no row groups under {path}"
        for col, seen in layout.items():
            assert {comp for comp, _ in seen} == {"ZSTD"}, (path, col, seen)
        assert {
            tuple(e for e in enc if e != "RLE") for _, enc in layout["doc_id"]
        } == {("DELTA_BINARY_PACKED",)}, (path, layout["doc_id"])

    return check
