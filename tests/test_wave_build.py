"""PROBE_BUILD_WAVE_BUCKETS: chunked-wave builds must produce an index
identical to the single-wave build.

The knob exists to bound the build's in-flight block-manager footprint
(persisted tokenize cache + three repartition shuffles per wave); it must
be a pure scheduling choice -- every derived table byte-identical row-wise
to the default single-wave layout, and lineage still one row per bucket so
resume granularity is unchanged.

Both builds patch TRI_DIRECT_FLOOR to 0 (cutoff 0.05 * 200 = 10), so the
trigram lane is pruned: each wave drops the trigrams dense within it, and
the listed trigrams (true df <= cutoff) must keep identical lists.

The waved build also patches the file byte targets below its buckets'
input, so every bucket splits into k > 1 files by key: file sizing is a
layout choice too, and must leave every row unchanged."""

from pyspark.sql import functions as F

from probe_spark import indexer, trigram
from probe_spark.fixtures import pages_df
from probe_spark.indexer import build_index

from tests.test_index_layout import assert_split_layout, split_target
from tests.test_spark_engine import lambda_cols


def test_wave_chunked_build_equals_single_wave(spark, tmp_path, monkeypatch):
    pages = pages_df(spark, 200)
    monkeypatch.setattr(trigram, "TRI_DIRECT_FLOOR", 0)

    monkeypatch.delenv("PROBE_BUILD_WAVE_BUCKETS", raising=False)
    single_dir = tmp_path / "single"
    m_single = build_index(spark, pages, str(single_dir), n_buckets=5)

    monkeypatch.setenv("PROBE_BUILD_WAVE_BUCKETS", "2")  # 5 buckets -> 3 waves
    target = split_target(single_dir)
    monkeypatch.setattr(indexer, "FILE_BYTES", target)
    monkeypatch.setattr(indexer, "TRI_FILE_BYTES", target)
    waved_dir = tmp_path / "waved"
    m_waved = build_index(spark, pages, str(waved_dir), n_buckets=5)
    assert_split_layout(waved_dir, target, m_waved["files_by_table"])

    assert m_waved["n_postings"] == m_single["n_postings"]
    assert m_waved["n_docs"] == m_single["n_docs"]

    for table in (
        "pages_indexed", "doc_lens", "postings", "terms", "stats", "tri_terms",
        "terms_partial", "tri_partial",
    ):
        a = (
            spark.read.parquet(f"{single_dir}/{table}")
            .toPandas()
            .sort_values(by=lambda_cols(spark, f"{single_dir}/{table}"))
            .reset_index(drop=True)
        )
        b = (
            spark.read.parquet(f"{waved_dir}/{table}")
            .toPandas()
            .sort_values(by=lambda_cols(spark, f"{waved_dir}/{table}"))
            .reset_index(drop=True)
        )
        assert a.equals(b), f"{table} differs between single-wave and waved build"

    def listed_rows(ix):
        listed = (
            spark.read.parquet(f"{ix}/tri_terms")
            .filter(F.col("df") <= 10)
            .select("tri")
        )
        lane = spark.read.parquet(f"{ix}/tri_postings")
        rows = lane.join(listed, "tri", "left_semi").select("tri", "doc_id")
        return sorted(map(tuple, rows.collect()))

    single_listed = listed_rows(single_dir)
    assert single_listed and listed_rows(waved_dir) == single_listed
    # the single wave prunes exactly: it lists nothing else
    assert spark.read.parquet(f"{single_dir}/tri_postings").count() == len(
        single_listed
    )

    lineage = spark.read.json(f"{waved_dir}/lineage")
    assert lineage.select("bucket").distinct().count() == 5
