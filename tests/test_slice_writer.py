"""The slice writer (indexer.write_slices): one Arrow task per url slice
stages its tables under ``_attempts/<taskAttemptId>/``, and only the
attempts ``collect()`` returned are committed.  Also pins the build
record (``phase_ms``, ``jobs``), the resume checks, and that the writer
and ``_tokenize_partition`` share one per-doc tokenizer."""

from __future__ import annotations

import time

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from probe_spark import indexer
from probe_spark.fixtures import make_pages, pages_df

PHASES = {"slicing", "write", "trigram_pass", "dictionaries", "commit"}


def _pages(spark, lo: int, hi: int):
    return (
        pages_df(spark, hi)
        .select("url", "text", "lang")
        .join(pages_df(spark, lo).select("url"), "url", "leftanti")
    )


def test_build_record_and_staging_cleanup(spark, tmp_path):
    """build_index returns its phase times (summing to the call's wall
    time) and job count; a stray ``_attempts/`` of a killed run is
    removed, and neither a build nor an ingest leaves one behind."""
    from probe_spark.streaming.incremental import ingest_batch

    ix = tmp_path / "ix"
    stray = ix / "_attempts" / "999"
    stray.mkdir(parents=True)
    (stray / "postings.parquet").write_bytes(b"killed mid-write")
    pages = _pages(spark, 0, 60)
    t0 = time.perf_counter()
    m = indexer.build_index(spark, pages, str(ix), n_buckets=2)
    wall_ms = (time.perf_counter() - t0) * 1000
    assert set(m["phase_ms"]) == PHASES
    assert abs(sum(m["phase_ms"].values()) - wall_ms) <= 0.05 * wall_ms
    assert 0 < m["jobs"] <= 8
    assert not (ix / "_attempts").exists()
    assert "_attempts" not in m["bytes_by_table"]
    assert m["n_docs"] == 60

    assert ingest_batch(spark, _pages(spark, 60, 70), str(ix), epoch_id=0) == 10
    assert not (ix / "_attempts").exists()


def test_only_returned_attempt_lands(spark, tmp_path):
    """Two staged attempts for one slice: the one the job returned and a
    stray (a losing speculative duplicate).  Only the returned one's
    files are committed; the stray stays in staging.  The pages go in as
    a DataFrame, so slicing and the write run on the Spark host, the one
    with task attempts, whatever DRIVER_BUILD_BYTES says."""
    pages = _pages(spark, 0, 30)
    slices = indexer._slice_pages(spark, pages, 1)
    assert [s["pid"] for s in slices] == [0]
    staging = tmp_path / "_attempts"
    stray = staging / "123456789"
    stray.mkdir(parents=True)
    bogus = pa.table({"term": ["stray"], "doc_id": [0], "tf": [1]})
    pq.write_table(bogus, stray / "postings.parquet")

    results = indexer.write_slices(spark, pages, slices, staging, [0])
    assert results[0]["attempt"] != 123456789
    out = tmp_path / "ix"
    indexer.commit_slices(out, 0, sorted(results.items()), ("postings",))
    (landed,) = (out / "postings" / "bucket=0").glob("*.parquet")
    got = pq.read_table(landed)
    assert got.num_rows == results[0]["n_postings"]
    assert "stray" not in got["term"].to_pylist()
    assert (stray / "postings.parquet").exists()


def test_resume_checks_its_source(spark, tmp_path):
    """A resume rebuilds the uncommitted buckets from the source and
    refuses one that no longer holds the sliced rows; a copy-mode index
    has no source to fall back on without ``pages``."""
    pages = _pages(spark, 0, 80).persist()
    ix = str(tmp_path / "ix")
    with pytest.raises(RuntimeError, match="injected failure"):
        indexer.build_index(
            spark, pages, ix, n_buckets=2, fail_buckets=frozenset({0})
        )
    with pytest.raises(ValueError, match="source_path"):
        indexer.build_index(spark, None, ix, resume=True)
    last = max(r["url"] for r in pages.select("url").collect())
    short = pages.filter(pages.url != last)
    with pytest.raises(ValueError, match="source changed"):
        indexer.build_index(spark, short, ix, resume=True)
    m = indexer.build_index(spark, pages, ix, resume=True)
    assert m["n_docs"] == 80
    pages.unpersist()


@pytest.mark.parametrize(
    "tokenizer,keep_text", [("probe", False), ("simple", False), ("probe", True)]
)
def test_writer_and_tokenize_partition_agree(tokenizer, keep_text):
    """Both paths run indexer._doc_tokenizer: identical (term, tf, tf_url,
    doc_len, tris) rows; the doc store keeps text only with keep_text."""
    import pandas as pd

    docs = sorted(make_pages(120), key=lambda p: p.url)
    pdf = pd.DataFrame(
        {
            "doc_id": range(len(docs)),
            "url": [p.url for p in docs],
            "lang": [p.lang for p in docs],
            "text": [p.text for p in docs],
        }
    )
    tok = pd.concat(
        list(indexer._make_tokenize_partition(tokenizer)(iter([pdf])))
    )
    post = tok[tok["term"].notnull()]
    doc_rows = tok[tok["term"].isnull()].set_index("doc_id")

    shuffled = pa.Table.from_pandas(
        pdf.drop(columns="doc_id").sample(frac=1, random_state=0),
        preserve_index=False,
    )
    tables = indexer._slice_tables(shuffled, 0, tokenizer, keep_text)
    want_post = sorted(
        zip(post["term"], post["doc_id"], post["tf"], post["tf_url"], post["doc_len"])
    )
    got = tables["postings"]
    assert sorted(
        zip(*(got[c].to_pylist() for c in ("term", "doc_id", "tf", "tf_url", "doc_len")))
    ) == want_post
    lens = tables["doc_lens"].to_pydict()
    assert set(lens) == {"doc_id", "doc_len"}
    assert lens["doc_len"] == doc_rows["doc_len"].tolist()
    store = tables["pages_indexed"]
    assert ("text" in store.column_names) == keep_text
    if keep_text:
        assert store["text"].to_pylist() == doc_rows["text"].tolist()
    lane = tables["tri_lane"].to_pydict()
    tris: dict[int, set] = {}
    for t, d in zip(lane["tri"], lane["doc_id"]):
        tris.setdefault(d, set()).add(t)
    for d, codes in doc_rows["tris"].items():
        assert tris.get(d, set()) == {int(c) for c in codes}, d
