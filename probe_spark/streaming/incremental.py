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
  * foreachBatch: tokenize the micro-batch with the SAME shared pipeline,
    assign doc_ids above the current high-water mark via RANGED rank
    (_assign_doc_ids: range-partition by url + per-slice offsets -- scales
    to arbitrarily large micro-batches, no single-partition window; note
    ids are arrival-order across batches, not global url rank, so
    tie-breaks are deterministic but differ from a from-scratch rebuild);
  * append postings/pages_indexed/doc_lens under delta buckets, each
    sized like a batch bucket by the bytes of the files the micro-batch
    read (indexer.sorted_files: one sorted file until it outgrows its
    target); fold the term dictionary incrementally (current terms + the
    new bucket's partials -- NOT a re-scan of every historical partial)
    and update stats from running totals carried in stream_state.json
    (doc counts and doc_len sums come from the committed delta's parquet
    footers -- no extra jobs over the index, and exact under
    retries/speculation);
  * the trigram lane keeps the build's invariant "df <= tri_cutoff =>
    complete list" (indexer docstring): the delta writes its tri_partial
    counts, drops the trigrams whose folded df exceeds the manifest's
    cutoff, and tri_terms folds the partial.  df never falls (no deletes),
    so a trigram once unlisted stays unlisted;
  * the flat-postings query engine sees appended postings immediately;
    compaction folds deltas into block-max blocks on demand.
"""

from __future__ import annotations

import json
import shutil
import time
from pathlib import Path

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from probe_spark.indexer import (
    FILE_BYTES,
    TERMS_SCHEMA,
    TOKENS_SCHEMA,
    TRI_DF_SCHEMA,
    TRI_FILE_BYTES,
    _assign_doc_ids,
    _dir_bytes,
    _make_tokenize_partition,
    _read_lineage,
    _tokenize_partition,
    file_count,
    index_write,
    listed_tri_rows,
    sorted_dictionary,
    sorted_files,
    term_counts,
    tri_counts,
    tri_dictionary,
    tri_rows,
    write_stats,
)

PAGES_SCHEMA = "url string, text string, lang string"


def _input_bytes(spark: SparkSession, df) -> int:
    """Bytes of the files ``df`` reads (0 for an in-memory frame): a
    driver-side file-status lookup on any Hadoop filesystem, no job."""
    conf = spark._jsc.hadoopConfiguration()
    total = 0
    for f in df.inputFiles():
        p = spark._jvm.org.apache.hadoop.fs.Path(f)
        total += p.getFileSystem(conf).getFileStatus(p).getLen()
    return total


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
    import shutil

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
        partials = out / "terms_partial"
        src = spark.read.schema(TERMS_SCHEMA).parquet(str(partials))
        folded_terms = src.groupBy("term").agg(
            F.sum("df").alias("df"), F.sum("cf").alias("cf")
        )
        tmp = out / "terms_tmp"
        index_write(
            sorted_dictionary(folded_terms, _dir_bytes(partials))
        ).parquet(str(tmp))
        shutil.rmtree(out / "terms", ignore_errors=True)
        tmp.rename(out / "terms")
        _rebuild_tri_terms(spark, index_dir)
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


def _fold_terms(spark: SparkSession, index_dir: str, new_partial: Path) -> None:
    """Incremental dictionary fold: current terms + the NEW bucket's
    partials only (vocab-sized inputs; historical partials are not
    re-scanned).  Self-heals from all partials if terms/ is missing."""
    out = Path(index_dir)
    terms_dir = out / "terms"
    read = spark.read.schema(TERMS_SCHEMA).parquet
    if terms_dir.exists() and any(terms_dir.iterdir()):
        src = read(str(terms_dir)).unionByName(read(str(new_partial)))
        src_bytes = _dir_bytes(terms_dir) + _dir_bytes(new_partial)
    else:  # pragma: no cover - healing path
        src = read(str(out / "terms_partial"))
        src_bytes = _dir_bytes(out / "terms_partial")
    folded = src.groupBy("term").agg(
        F.sum("df").alias("df"), F.sum("cf").alias("cf")
    )
    tmp = out / "terms_tmp"
    index_write(sorted_dictionary(folded, src_bytes)).parquet(str(tmp))
    shutil.rmtree(terms_dir, ignore_errors=True)
    tmp.rename(terms_dir)


def _rebuild_tri_terms(spark: SparkSession, index_dir: str) -> None:
    """Idempotent tri-dictionary rebuild from every bucket's tri_partial
    (a complete lane without a manifest cutoff counts its rows; used by
    crash recovery and as the healing fold when tri_terms is absent)."""
    out = Path(index_dir)
    pruned = _read_manifest(index_dir).get("tri_cutoff") is not None
    folded = tri_dictionary(spark, out, pruned)
    if folded is None:
        return
    tmp = out / "tri_terms_tmp"
    index_write(folded).parquet(str(tmp))
    shutil.rmtree(out / "tri_terms", ignore_errors=True)
    tmp.rename(out / "tri_terms")


def _folded_tri_dfs(spark: SparkSession, index_dir: str, delta_partial: Path):
    """(tri, df) rows whose per-tri sum is the dictionary after folding
    the delta: current tri_terms + the delta's tri_partial (or the delta
    alone on an index without tri_terms)."""
    t_dir = Path(index_dir) / "tri_terms"
    read = spark.read.schema(TRI_DF_SCHEMA).parquet
    delta = read(str(delta_partial))
    if t_dir.exists() and any(t_dir.iterdir()):
        return read(str(t_dir)).unionByName(delta)
    return delta


def _fold_tri_terms(
    spark: SparkSession, index_dir: str, delta_partial: Path
) -> None:
    """Incremental tri-dictionary fold: current tri_terms + the NEW
    bucket's tri_partial only (mirrors _fold_terms); full rebuild when
    tri_terms is missing (e.g. first delta on a pre-tri-lane index)."""
    out = Path(index_dir)
    t_dir = out / "tri_terms"
    if not (t_dir.exists() and any(t_dir.iterdir())):
        _rebuild_tri_terms(spark, index_dir)
        return
    folded = (
        _folded_tri_dfs(spark, index_dir, delta_partial)
        .groupBy("tri")
        .agg(F.sum("df").alias("df"))
    )
    src_bytes = _dir_bytes(t_dir) + _dir_bytes(delta_partial)
    tmp = out / "tri_terms_tmp"
    index_write(
        folded.coalesce(file_count(src_bytes, TRI_FILE_BYTES))
    ).parquet(str(tmp))
    shutil.rmtree(t_dir, ignore_errors=True)
    tmp.rename(t_dir)


def ingest_batch(spark: SparkSession, batch_df, index_dir: str, epoch_id: int) -> int:
    """Fold one micro-batch of pages into the index; returns docs added.

    Crash safety is two-phase: the lineage row is the PREPARE marker
    (written after postings/doc_lens/terms_partial land), the
    pages_indexed bucket is the COMMIT marker (written next; it is also
    the url-dedup table, so an uncommitted batch is re-ingested rather
    than silently skipped).  _reconcile at batch start rolls interrupted
    batches back (no commit marker) or forward (committed but not folded
    into terms/stats)."""
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
    # ranged doc-id assignment (same machinery as the batch build's phase A:
    # range-partition by url, rank per slice, add offsets) -- arbitrarily
    # large micro-batches never funnel through one partition
    indexed, bucket_meta = _assign_doc_ids(spark, fresh, 1)
    n_docs = sum(m["count"] for m in bucket_meta)
    if n_docs == 0:
        _write_state(index_dir, state)
        return 0
    pages = indexed.withColumn(
        "doc_id", F.col("doc_id") + F.lit(base)
    ).drop("bucket")
    # honor the tokenizer the index was BUILT with (manifest.json records
    # it): streaming probe-tokenized postings into a tokenizer='simple'
    # index would silently mix incompatible term vocabularies
    tokenize_fn = (
        _tokenize_partition
        if manifest.get("tokenizer", "probe") == "probe"
        else _make_tokenize_partition(manifest["tokenizer"])
    )
    rows = pages.select("doc_id", "url", "lang", "text").mapInPandas(
        tokenize_fn, TOKENS_SCHEMA
    )
    rows.persist()
    bucket = f"stream_{epoch_id}_{base}"
    # the delta is one bucket: its files are sized like a batch bucket's,
    # by the bytes of the files the micro-batch read (indexer.file_count)
    in_bytes = _input_bytes(spark, batch_df)
    files = file_count(in_bytes, FILE_BYTES)
    tri_files = file_count(in_bytes, TRI_FILE_BYTES)
    postings = rows.filter(F.col("term").isNotNull()).select(
        "term", "doc_id", "tf", "tf_url", "doc_len"
    )
    index_write(sorted_files(postings, files, "term", "doc_id")).parquet(
        str(out / "postings" / f"bucket={bucket}")
    )
    lens_delta = out / "doc_lens" / f"bucket={bucket}"
    # bloom-free layout: the tri_postings delta below serves rescue
    lens = rows.filter(F.col("term").isNull()).select("doc_id", "doc_len")
    index_write(sorted_files(lens, files, "doc_id", unique=True)).parquet(
        str(lens_delta)
    )
    # sum from the COMMITTED delta files, not an Observation riding the
    # write: observe() merges metric rows from every completed task
    # attempt, so a retried or speculative duplicate would inflate sum_dl
    # (and through it avgdl and every BM25 score) even though the commit
    # protocol discarded the losing attempt's files
    from probe_spark.indexer import (
        _committed_column_sum,
        _committed_parquet_rows,
    )

    sum_dl = _committed_column_sum(lens_delta, "doc_len")
    # trigram substring-index lane for the delta (rescue serving): explode
    # of the cached tokenize output's tris arrays (indexer.tri_rows).  The
    # delta's counts land first; the rows of trigrams whose folded df
    # exceeds the manifest's cutoff are dropped
    tri_delta = out / "tri_postings" / f"bucket={bucket}"
    tri_part = out / "tri_partial" / f"bucket={bucket}"
    tri = tri_rows(rows)
    index_write(
        sorted_files(tri_counts(tri), tri_files, "tri", unique=True)
    ).parquet(str(tri_part))
    listed = listed_tri_rows(
        tri,
        _folded_tri_dfs(spark, index_dir, tri_part),
        manifest.get("tri_cutoff"),
    )
    index_write(sorted_files(listed, tri_files, "tri", "doc_id")).parquet(
        str(tri_delta)
    )
    tpart = out / "terms_partial" / f"bucket={bucket}"
    index_write(
        sorted_files(term_counts(rows), files, "term", unique=True)
    ).parquet(str(tpart))
    # PREPARE marker: the lineage row commits the bucket's existence (and
    # carries the totals) BEFORE the url-dedup table sees its pages -- a
    # crash from here until the fold is healed by _reconcile
    lineage = out / "lineage"
    lineage.mkdir(exist_ok=True)
    (lineage / f"{bucket}.json").write_text(
        json.dumps(
            {
                "bucket": bucket,
                "n_docs": n_docs,
                "sum_dl": sum_dl,
                "n_tri_postings": _committed_parquet_rows(tri_delta),
                "epoch": epoch_id,
                "finished_ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            }
        )
    )
    # COMMIT marker: pages_indexed is also the url-dedup table, so writing
    # it LAST means an interrupted batch is re-ingested, never skipped
    index_write(
        rows.filter(F.col("term").isNull())
        .select("doc_id", "url", "lang", "text")
        .coalesce(files)
    ).parquet(str(out / "pages_indexed" / f"bucket={bucket}"))
    rows.unpersist()
    _fold_terms(spark, index_dir, tpart)
    _fold_tri_terms(spark, index_dir, tri_part)
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
