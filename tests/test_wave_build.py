"""Slice sizing is a layout choice: a build whose buckets split into
several url slices (FILE_BYTES patched below the bucket input) must write
the same rows as the default build, whose buckets are one slice each.

Both builds read their pages from parquet, so the buckets are sized by
input bytes.  Patching FILE_BYTES also puts the partials above it, so the
split build sums its dictionaries through the Spark fallback.

Both builds patch TRI_DIRECT_FLOOR to 0 (cutoff 0.05 * 200 = 10), so the
trigram lane is pruned, exactly, in both: the listed trigrams (true
df <= cutoff) keep identical lists and nothing else is written."""

from pyspark.sql import functions as F

from probe_spark import indexer, trigram
from probe_spark.fixtures import pages_df
from probe_spark.indexer import build_index

from tests.test_index_layout import assert_split_layout
from tests.test_spark_engine import lambda_cols


def test_file_bytes_build_equals_default(spark, tmp_path, monkeypatch):
    pages_df(spark, 200).select("url", "text", "lang").write.parquet(
        str(tmp_path / "pages")
    )
    pages = spark.read.parquet(str(tmp_path / "pages"))
    monkeypatch.setattr(trigram, "TRI_DIRECT_FLOOR", 0)

    single_dir = tmp_path / "single"
    m_single = build_index(spark, pages, str(single_dir), n_buckets=5)

    bucket_bytes = indexer._input_bytes(spark, pages) // 5
    target = bucket_bytes // 3 + 1
    monkeypatch.setattr(indexer, "FILE_BYTES", target)
    split_dir = tmp_path / "split"
    m_split = build_index(spark, pages, str(split_dir), n_buckets=5)
    k = indexer.file_count(bucket_bytes, target)
    assert k == 3
    assert_split_layout(split_dir, k, m_split["files_by_table"])

    assert m_split["n_postings"] == m_single["n_postings"]
    assert m_split["n_docs"] == m_single["n_docs"]

    for table in (
        "pages_indexed", "doc_lens", "postings", "terms", "stats", "tri_terms",
        "terms_partial", "tri_partial",
    ):
        def rows(ix):
            path = f"{ix}/{table}"
            df = spark.read.parquet(path).toPandas()
            if table.endswith("_partial"):  # per-slice partials, summed
                key = df.columns[0]
                df = df.groupby(["bucket", key], as_index=False).sum()
            return df.sort_values(by=lambda_cols(spark, path)).reset_index(
                drop=True
            )

        assert rows(single_dir).equals(rows(split_dir)), (
            f"{table} differs between the default and the split build"
        )

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
    assert single_listed and listed_rows(split_dir) == single_listed
    for ix in (single_dir, split_dir):  # the lane lists nothing else
        lane = spark.read.parquet(f"{ix}/tri_postings")
        assert lane.count() == len(single_listed)

    lineage = spark.read.json(f"{split_dir}/lineage")
    assert lineage.select("bucket").distinct().count() == 5
