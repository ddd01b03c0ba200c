"""Structured Streaming incremental index maintenance (extension).

The reference is batch-per-invocation with no streaming (SURVEY.md SS2.12),
and the north rule requires resumable BATCH builds -- satisfied by
indexer.py's lineage checkpoints.  This module is the optional streaming
extension sketched there: new pages arriving in a directory are folded into
the index incrementally with exactly-once semantics from the Structured
Streaming checkpoint.

Design:
  * readStream over the pages directory (file source tracks processed files
    in the checkpoint -- the streaming analog of snapshot-scoped builds);
  * foreachBatch: the micro-batch is ONE delta bucket through the batch
    build's writer (indexer.write_slices): k url slices, k sized like a
    batch bucket by the bytes of the files the micro-batch read (an
    in-memory frame is one slice, which needs no slicing job; k > 1 runs
    the build's url-column slicing job), and one Arrow task per slice
    ranks, tokenizes and writes every table of its slice.  A micro-batch
    the build's gate (indexer.hosted) sends to the driver host is
    collected once, url dedup included, and sliced and written
    in-process by the same per-slice code.  Ids continue above the current high-water mark (note ids are
    arrival-order across batches, not global url rank, so tie-breaks are
    deterministic but differ from a from-scratch rebuild);
  * the trigram lane keeps the build's invariant "df <= tri_cutoff =>
    complete list" (indexer docstring): the trigrams whose folded df (the
    current tri_terms plus the delta's tri_partial) exceeds the manifest's
    cutoff are dropped from the delta's lane.  df never falls (no
    deletes), so a trigram once unlisted stays unlisted;
  * commit: the winning attempts' files are renamed into
    ``<table>/bucket=stream_<epoch>_<base>/``, pages_indexed last (the
    COMMIT marker, see ingest_batch); then terms and tri_terms fold the
    new bucket's partials (NOT a re-scan of every historical partial), and
    stats update from running totals carried in stream_state.json (doc
    counts and doc_len sums come from the winning attempts' result rows
    -- no extra jobs over the index, and exact under retries/speculation);
  * the query engine sees appended postings immediately.
"""

from __future__ import annotations

import json
import shutil
import time
from pathlib import Path

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from probe_spark.indexer import (
    BUCKET_TABLES,
    DICTIONARIES,
    FILE_BYTES,
    _input_bytes,
    _read_lineage,
    _slice_pages,
    commit_slices,
    dense_tris,
    file_count,
    fold_dictionary,
    hosted,
    parquet_files,
    prune_lane,
    rebuild_tri_terms,
    write_slices,
    write_stats,
)

PAGES_SCHEMA = "url string, text string, lang string"


def _read_manifest(index_dir: str) -> dict:
    p = Path(index_dir) / "manifest.json"
    return json.loads(p.read_text()) if p.exists() else {}


def _read_state(index_dir: str) -> dict:
    p = Path(index_dir) / "stream_state.json"
    if p.exists():
        state = json.loads(p.read_text())
        # a state file from an older layout (missing running totals) is
        # NOT trusted -- treating next_doc_id alone as valid would restart
        # sum_dl at 0 and collapse avgdl; bootstrap recomputes from lineage
        if all(k in state for k in ("next_doc_id", "n_docs", "sum_dl")):
            state.setdefault("folded", [])
            return state
    return {}


def _read_stream_lineage(index_dir: str) -> list[dict]:
    """Stream-batch lineage rows (stream_*.json -- indexer._read_lineage
    only reads the batch build's bucket_*.json)."""
    p = Path(index_dir) / "lineage"
    rows = []
    if p.exists():
        for f in sorted(p.glob("stream_*.json")):
            rows.append(json.loads(f.read_text()))
    return rows


def _write_state(index_dir: str, state: dict) -> None:
    p = Path(index_dir) / "stream_state.json"
    tmp = p.with_suffix(".tmp")
    tmp.write_text(json.dumps(state))
    tmp.rename(p)


def _bootstrap_totals(spark: SparkSession, index_dir: str) -> dict:
    """Running totals (next_doc_id, n_docs, sum_dl) for an index that has
    no (valid) stream state: from BOTH the batch build's lineage and any
    prior stream batches' lineage (driver-side JSON, no jobs), else one
    catch-up scan of doc_lens.  Prior stream buckets are deliberately NOT
    marked folded -- the reconcile pass will roll them forward with a full
    dictionary rebuild, healing whatever the lost state file knew."""
    out = Path(index_dir)
    lineage = _read_lineage(index_dir)
    stream_rows = _read_stream_lineage(index_dir)
    if lineage and all("sum_dl" in r for r in lineage.values()):
        n = sum(r["n_docs"] for r in lineage.values())
        s = sum(r["sum_dl"] for r in lineage.values())
        n += sum(r["n_docs"] for r in stream_rows)
        s += sum(r["sum_dl"] for r in stream_rows)
        return {"next_doc_id": n, "n_docs": n, "sum_dl": s, "folded": []}
    lens_dir = out / "doc_lens"
    if lens_dir.exists():  # pragma: no cover - legacy lineage
        row = (
            spark.read.parquet(str(lens_dir))
            .agg(
                F.coalesce(F.max("doc_id"), F.lit(-1)).alias("m"),
                F.count(F.lit(1)).alias("n"),
                F.coalesce(F.sum("doc_len"), F.lit(0)).alias("s"),
            )
            .collect()[0]
        )
        return {
            "next_doc_id": int(row["m"]) + 1,
            "n_docs": int(row["n"]),
            "sum_dl": int(row["s"]),
            "folded": [],
        }
    return {"next_doc_id": 0, "n_docs": 0, "sum_dl": 0, "folded": []}


def _reconcile(spark: SparkSession, index_dir: str, state: dict) -> dict:
    """Crash recovery at batch start: every stream lineage row not marked
    folded in the state is either

      * rolled BACK -- its pages_indexed bucket (the commit marker, written
        after lineage) is missing, so the batch died mid-write: delete the
        orphan postings/doc_lens/terms_partial dirs and the lineage row;
        the retry re-ingests those pages cleanly; or
      * rolled FORWARD -- tables are complete but the dictionary/stats fold
        never happened (or happened without being recorded): rebuild the
        term dictionary from ALL partials (full re-agg, idempotent -- never
        an incremental add, so a half-applied fold cannot double-count) and
        recompute totals from lineage.

    No-op (no jobs) when everything is folded -- the normal case."""
    out = Path(index_dir)
    folded = set(state.get("folded", []))
    rows = _read_stream_lineage(index_dir)
    pending = [r for r in rows if r["bucket"] not in folded]
    if not pending:
        return state
    roll_forward = False
    for r in pending:
        b = r["bucket"]
        if (out / "pages_indexed" / f"bucket={b}").exists():
            roll_forward = True
            folded.add(b)
        else:  # roll back the un-committed bucket
            for t in (
                "postings", "doc_lens", "terms_partial", "tri_postings",
                "tri_partial",
            ):
                shutil.rmtree(out / t / f"bucket={b}", ignore_errors=True)
            (out / "lineage" / f"{b}.json").unlink(missing_ok=True)
    if roll_forward:
        fold_dictionary(
            spark, out, "terms", parquet_files(out / "terms_partial")
        )
        rebuild_tri_terms(
            spark, out, _read_manifest(index_dir).get("tri_cutoff")
        )
    # totals from lineage (batch + surviving stream rows) are authoritative
    lineage = _read_lineage(index_dir)
    srows = _read_stream_lineage(index_dir)
    n = sum(r["n_docs"] for r in lineage.values()) + sum(
        r["n_docs"] for r in srows
    )
    s = sum(r["sum_dl"] for r in lineage.values()) + sum(
        r["sum_dl"] for r in srows
    )
    state = {
        "next_doc_id": n,
        "n_docs": n,
        "sum_dl": s,
        "folded": sorted(folded),
    }
    write_stats(index_dir, n, (s / n) if n else 0.0)
    _write_state(index_dir, state)
    return state


def _fold_terms(spark: SparkSession, index_dir: str, bucket: str) -> None:
    """Incremental dictionary fold: terms and tri_terms plus the NEW
    bucket's partials only (historical partials are not re-scanned).  A
    missing dictionary self-heals from all partials."""
    out = Path(index_dir)
    for table, (_key, _cols, partial, _schema) in DICTIONARIES.items():
        cur = parquet_files(out / table)
        files = (
            cur + parquet_files(out / partial / f"bucket={bucket}")
            if cur
            else parquet_files(out / partial)
        )
        fold_dictionary(spark, out, table, files)


def ingest_batch(spark: SparkSession, batch_df, index_dir: str, epoch_id: int) -> int:
    """Fold one micro-batch of pages into the index; returns docs added.

    The batch is one delta bucket through the build's writer
    (indexer.write_slices).  Crash safety is two-phase: the lineage row is
    the PREPARE marker (written after postings/doc_lens/partials land),
    the pages_indexed part, renamed in last, is the COMMIT marker (it is
    also the url-dedup table, so an uncommitted batch is re-ingested
    rather than silently skipped).  _reconcile at batch start rolls
    interrupted batches back (no commit marker) or forward (committed but
    not folded into terms/stats)."""
    out = Path(index_dir)
    manifest = _read_manifest(index_dir)
    if manifest.get("doc_store") == "reference":
        # the stream's pages_indexed delta IS the doc store copy; a slim
        # reference layout has no text lane to append to, and its source
        # table is an immutable snapshot the stream can't extend
        raise ValueError(
            "incremental ingest requires a copy-mode doc store; "
            "rebuild with doc_store='copy' to stream into this index"
        )
    state = _read_state(index_dir) or _bootstrap_totals(spark, index_dir)
    state = _reconcile(spark, index_dir, state)
    base = int(state["next_doc_id"])
    fresh = batch_df.select("url", "text", "lang").dropDuplicates(["url"])
    if (out / "pages_indexed").exists():
        # url is the document key: re-crawled pages already in the index
        # are skipped (the streaming analog of the session-cache dedup, S8)
        existing = spark.read.parquet(str(out / "pages_indexed")).select("url")
        fresh = fresh.join(existing, "url", "leftanti")
    # one bucket of k url slices, sized like a batch bucket by the bytes
    # of the files the micro-batch read; ids continue above the index.  On
    # the driver host the dedup runs in the one collect; on the Spark host
    # a single slice needs no slicing job: its count is the write's
    k = file_count(_input_bytes(spark, batch_df), FILE_BYTES)
    host, fresh = hosted(fresh)
    slices = (
        _slice_pages(spark, fresh, 1, k)
        if k > 1 or host == "driver"
        else [{"pid": 0, "bucket": 0, "count": None, "offset": 0}]
    )
    for s in slices:
        s["offset"] += base
    staging = out / "_attempts"
    shutil.rmtree(staging, ignore_errors=True)
    # honor the tokenizer the index was BUILT with (manifest.json records
    # it): streaming probe-tokenized postings into a tokenizer='simple'
    # index would silently mix incompatible term vocabularies
    results = write_slices(
        spark, fresh, slices, staging, [s["pid"] for s in slices],
        manifest.get("tokenizer", "probe"),
    )
    # the lane keeps "df <= cutoff => complete list" against the folded
    # df: the current dictionary plus the delta's partials
    folded = parquet_files(out / "tri_terms") or parquet_files(
        out / "tri_partial"
    )
    delta = parquet_files(*(r["files"]["tri_partial"] for r in results.values()))
    prune_lane(
        spark, results,
        dense_tris(spark, folded + delta, manifest.get("tri_cutoff")),
        host,
    )
    n_docs = sum(r["n_docs"] for r in results.values())
    if n_docs == 0:
        _write_state(index_dir, state)
        return 0
    bucket = f"stream_{epoch_id}_{base}"
    parts = sorted(results.items())
    commit_slices(
        out, bucket, parts, [t for t in BUCKET_TABLES if t != "pages_indexed"]
    )
    # PREPARE marker: the lineage row commits the bucket's existence (and
    # carries the totals) BEFORE the url-dedup table sees its pages -- a
    # crash from here until the fold is healed by _reconcile
    sum_dl = sum(r["sum_dl"] for _, r in parts)
    lineage = out / "lineage"
    lineage.mkdir(exist_ok=True)
    (lineage / f"{bucket}.json").write_text(
        json.dumps(
            {
                "bucket": bucket,
                "n_docs": n_docs,
                "sum_dl": sum_dl,
                "n_tri_postings": sum(r["n_tri"] for _, r in parts),
                "wall_ms": sum(r["wall_ms"] for _, r in parts),
                "host": host,
                "epoch": epoch_id,
                "finished_ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
        )
    )
    # COMMIT marker: pages_indexed is also the url-dedup table, so landing
    # it LAST means an interrupted batch is re-ingested, never skipped
    commit_slices(out, bucket, parts, ["pages_indexed"])
    shutil.rmtree(staging, ignore_errors=True)
    _fold_terms(spark, index_dir, bucket)
    # stats from running totals -- no job over the (ever-growing) index
    state = {
        "next_doc_id": base + n_docs,
        "n_docs": int(state.get("n_docs", base)) + n_docs,
        "sum_dl": int(state.get("sum_dl", 0)) + sum_dl,
        "folded": sorted(set(state.get("folded", [])) | {bucket}),
    }
    write_stats(
        index_dir,
        state["n_docs"],
        (state["sum_dl"] / state["n_docs"]) if state["n_docs"] else 0.0,
    )
    _write_state(index_dir, state)
    return n_docs


def start_incremental_index(
    spark: SparkSession,
    pages_stream_dir: str,
    index_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """Start (or resume) the incremental indexer.  With available_now=True
    it drains everything currently in the directory and stops -- the
    batch-friendly trigger used in tests; on a cluster, drop it and the
    query runs continuously."""
    stream = (
        spark.readStream.schema(PAGES_SCHEMA)
        .option("maxFilesPerTrigger", 64)
        .parquet(pages_stream_dir)
    )

    def process(batch_df, epoch_id):
        if batch_df.isEmpty():
            return
        ingest_batch(spark, batch_df, index_dir, epoch_id)

    writer = stream.writeStream.foreachBatch(process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
