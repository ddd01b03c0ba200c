"""One slice kernel, two build hosts.  ``build_index`` and
``ingest_batch`` run on the driver when the input plan's size estimate is
under ``indexer.DRIVER_BUILD_BYTES`` (one collect, then the slice kernel
in-process), else on Spark (patched here to 0).  Both hosts must write
the same index: every table's rows (bucket directory included), the
dictionaries, the stats and the manifest's slices.  A resume may cross
hosts, and equal urls stay in one slice on both."""

from __future__ import annotations

import json
import shutil
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from probe_spark import indexer
from probe_spark.fixtures import make_pages, pages_df
from probe_spark.indexer import BUCKET_TABLES, build_index

TABLES = (*BUCKET_TABLES, "terms_partial", "terms", "tri_terms", "stats")
# the Spark host's job count for a fresh 300-doc build (slicing, write,
# trigram pass), as before the driver host existed
SPARK_BUILD_JOBS = 6
# ... and for the ingest of test_ingest_hosts_agree's micro-batch
SPARK_INGEST_JOBS = 8
DRIVER_LIMIT = indexer.DRIVER_BUILD_BYTES


def on_host(monkeypatch, host: str) -> None:
    limit = 0 if host == "spark" else DRIVER_LIMIT
    monkeypatch.setattr(indexer, "DRIVER_BUILD_BYTES", limit)


def rows(ix, table: str) -> list[tuple]:
    """Every row of ``table``, each prefixed with its bucket directory,
    in a canonical order."""
    out = []
    for f in sorted(Path(ix, table).rglob("*.parquet")):
        t = pq.read_table(f)
        cols = (t[c].to_pylist() for c in t.column_names)
        out.extend((f.parent.name, *r) for r in zip(*cols))
    return sorted(out, key=repr)


def manifest(ix) -> dict:
    m = json.loads((Path(ix) / "manifest.json").read_text())
    m.pop("created_ts")
    return m


def assert_same_index(a, b) -> None:
    for table in TABLES:
        assert rows(a, table) == rows(b, table), table
    assert manifest(a) == manifest(b)


def lineage_hosts(ix) -> set[str]:
    return {
        json.loads(f.read_text())["host"] for f in (Path(ix) / "lineage").glob("*.json")
    }


@pytest.mark.parametrize(
    "tokenizer,doc_store",
    [("probe", "copy"), ("simple", "copy"), ("probe", "reference"),
     ("simple", "reference")],
)
def test_hosts_build_the_same_index(spark, tmp_path, monkeypatch, tokenizer, doc_store):
    src = tmp_path / "src"
    pages_df(spark, 300).write.parquet(str(src))
    pages = None if doc_store == "reference" else spark.read.parquet(str(src))
    built = {}
    for host in ("driver", "spark"):
        on_host(monkeypatch, host)
        ix = tmp_path / host
        m = build_index(
            spark, pages, str(ix), n_buckets=3, tokenizer=tokenizer,
            doc_store=doc_store, source_path=str(src),
        )
        assert m["host"] == host and lineage_hosts(ix) == {host}
        assert not (ix / "_attempts").exists()
        lineage = indexer._read_lineage(str(ix)).values()
        assert all(r["wall_ms"] >= 0 for r in lineage)
        built[host] = m
    reads = doc_store == "reference"  # reading source_path: a schema job
    assert built["driver"]["jobs"] <= 1 + reads
    assert built["spark"]["jobs"] == SPARK_BUILD_JOBS + reads
    assert built["driver"]["n_docs"] == built["spark"]["n_docs"] == 300
    assert_same_index(tmp_path / "driver", tmp_path / "spark")


def test_tiny_index_builds_on_the_driver_in_one_job(tiny_index):
    _, m = tiny_index
    assert m["host"] == "driver" and m["jobs"] <= 1


@pytest.mark.parametrize("first,second", [("driver", "spark"), ("spark", "driver")])
def test_resume_across_hosts(spark, tmp_path, monkeypatch, first, second):
    """Killed after bucket 0 on one host, resumed on the other: the
    resume refuses a source that lost a row, then completes the index a
    clean build writes."""
    pages = pages_df(spark, 300).select("url", "text", "lang")
    clean, crash = tmp_path / "clean", tmp_path / "crash"
    build_index(spark, pages, str(clean), n_buckets=3)

    on_host(monkeypatch, first)
    with pytest.raises(RuntimeError, match="injected failure"):
        build_index(spark, pages, str(crash), n_buckets=3, fail_buckets=frozenset({0}))
    on_host(monkeypatch, second)
    last = max(r["url"] for r in pages.select("url").collect())
    with pytest.raises(ValueError, match="source changed"):
        build_index(spark, pages.filter(pages.url != last), str(crash), resume=True)
    m = build_index(spark, pages, str(crash), resume=True)
    assert m["host"] == second and m["n_docs"] == 300
    lineage = indexer._read_lineage(str(crash))
    assert lineage[0]["host"] == first
    assert {lineage[b]["host"] for b in (1, 2)} == {second}
    assert_same_index(clean, crash)


def test_duplicate_urls_stay_in_one_slice(spark, tmp_path, monkeypatch):
    """Equal urls (with different texts) never straddle a slice bound on
    either host, and both hosts cut the same slices -- also where one url
    repeats over more rows than a slice holds, so a bound falls on it
    twice and the second is skipped."""
    docs = make_pages(120)
    urls = [p.url for i, p in enumerate(docs) for _ in range(3 if i % 4 == 0 else 1)]
    urls += [docs[60].url] * 200
    texts = [f"copy {i} of {u}" for i, u in enumerate(urls)]
    frame = spark.createDataFrame(
        pa.table({"url": urls, "text": texts, "lang": ["en"] * len(urls)})
    )
    got = {}
    for host in ("driver", "spark"):
        on_host(monkeypatch, host)
        ix = tmp_path / host
        assert build_index(spark, frame, str(ix), n_buckets=4)["host"] == host
        store = rows(ix, "pages_indexed")
        bucket_of: dict[str, set] = {}
        for bucket, _doc_id, url, *_ in store:
            bucket_of.setdefault(url, set()).add(bucket)
        assert all(len(b) == 1 for b in bucket_of.values()), host
        assert len(bucket_of) == len(set(urls)) and len(store) == len(urls)
        got[host] = (sorted((r[2], r[4]) for r in store), manifest(ix))
    assert got["driver"] == got["spark"]


def test_ingest_hosts_agree(spark, tiny_index, tmp_path, monkeypatch):
    """One micro-batch ingested on each host into copies of the same
    index: the same delta bucket, dictionaries and stats; the stream
    lineage row records the host and its wall time."""
    from probe_spark.streaming.incremental import ingest_batch

    src, _ = tiny_index
    batch = (
        pages_df(spark, 1040)
        .select("url", "text", "lang")
        .join(pages_df(spark, 1000).select("url"), "url", "leftanti")
    )
    batch = batch.union(batch.limit(5))  # duplicate urls: deduped once
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    jobs = {}
    for host in ("driver", "spark"):
        on_host(monkeypatch, host)
        ix = tmp_path / host
        shutil.copytree(src, ix)
        j0 = dag.nextJobId()
        assert ingest_batch(spark, batch, str(ix), epoch_id=7) == 40
        jobs[host] = dag.nextJobId() - j0
        (row,) = (
            json.loads(f.read_text()) for f in (ix / "lineage").glob("stream_*.json")
        )
        assert row["host"] == host and row["wall_ms"] >= 0
    assert jobs["driver"] < jobs["spark"] == SPARK_INGEST_JOBS
    for table in TABLES:
        a, b = (rows(tmp_path / h, table) for h in ("driver", "spark"))
        assert a == b, table
    state = [json.loads((tmp_path / h / "stream_state.json").read_text())
             for h in ("driver", "spark")]
    assert state[0] == state[1]
