"""Index compaction: flat postings -> compressed block-max posting blocks.

Stage 3 of the build plan (SURVEY.md SS7.4).  Each (term, segment) group --
segment = doc_id >> SEG_BITS, i.e. an aligned range of 8192 docs -- is
encoded into blocks of <= POSTING_BLOCK_SIZE docs:

  blocks/bucket=i/(term, seg, block_id, n, first_doc, max_doc, max_tf,
                   min_dl, docs binary, tfs binary, dls binary)

Block-max metadata is stats-INDEPENDENT: the WAND upper bound is derived
at QUERY time from (max_tf, min_dl) with the index's current global stats
-- tf_part(tf, dl) is increasing in tf and decreasing in dl, so
idf_now * tf_part(max_tf, min_dl, avgdl_now) dominates every doc in the
block.  (A stored build-time ub would go stale and make pruning unsound
as soon as incremental ingest changes N/df/avgdl; it would also force a
postings x dictionary join per bucket just to get idf.)  Plays the role
of the reference's SIMD prefilter + early termination (SURVEY.md R4/R6).

Compaction is per-postings-bucket, resumable, and incremental: each
bucket's blocks land under blocks/bucket=<name> and are checkpointed in
lineage/compaction.json -- re-running compacts only new buckets (e.g.
streaming deltas), the per-bucket unit mirroring the build's lineage
(north rule).  Multiple buckets can contribute blocks to the same
(term, seg); the query side accumulates across them.

Scale/skew notes:
  * the group key (term, seg) IS the salt: a hot term's postings form many
    independent bounded groups (<= 8192 docs each), so no single task owns
    a head term (north-rule skew handling);
  * doc-aligned segments mean all terms' postings for one doc share a seg,
    which lets the query side score a segment densely and prune whole
    segments by their summed upper bound (wand.py).
"""

from __future__ import annotations

import json
import time
from pathlib import Path

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from probe_spark.config import DEFAULT_BM25, POSTING_BLOCK_SIZE, BM25Params
from probe_spark.indexer import index_write

SEG_BITS = 13
SEG_SIZE = 1 << SEG_BITS

BLOCKS_SCHEMA = StructType(
    [
        StructField("term", StringType()),
        StructField("seg", LongType()),
        StructField("block_id", IntegerType()),
        StructField("n", IntegerType()),
        StructField("first_doc", LongType()),
        StructField("max_doc", LongType()),
        StructField("max_tf", IntegerType()),
        StructField("min_dl", LongType()),
        StructField("docs", BinaryType()),
        StructField("tfs", BinaryType()),
        StructField("dls", BinaryType()),
    ]
)

_STATE = "compaction.json"


def encode_posting_group(pdf):
    """One (term, seg) group of flat postings -> compressed block rows
    (BLOCKS_SCHEMA).  Module-level so WandEngine can encode ad-hoc posting
    sets (e.g. excluded-term containment rows) into the same block shape
    its scorer decodes."""
    import numpy as np
    import pandas as pd

    from probe_spark.codec import encode_doc_block, varbyte_encode

    pdf = pdf.sort_values("doc_id")
    term = pdf["term"].iloc[0]
    seg = int(pdf["seg"].iloc[0])
    doc = pdf["doc_id"].to_numpy(dtype=np.uint64)
    tf = pdf["tf"].to_numpy(dtype=np.uint64)
    dl = pdf["doc_len"].to_numpy(dtype=np.uint64)
    rows = []
    for i in range(0, len(doc), POSTING_BLOCK_SIZE):
        d, t, l = (
            doc[i : i + POSTING_BLOCK_SIZE],
            tf[i : i + POSTING_BLOCK_SIZE],
            dl[i : i + POSTING_BLOCK_SIZE],
        )
        rows.append(
            {
                "term": term,
                "seg": seg,
                "block_id": i // POSTING_BLOCK_SIZE,
                "n": len(d),
                "first_doc": int(d[0]),
                "max_doc": int(d[-1]),
                "max_tf": int(t.max()),
                "min_dl": int(l.min()),
                "docs": encode_doc_block(d),
                "tfs": varbyte_encode(t),
                "dls": varbyte_encode(l),
            }
        )
    return pd.DataFrame(rows)


def _read_state(out: Path) -> dict:
    p = out / "lineage" / _STATE
    if p.exists():
        state = json.loads(p.read_text())
        if isinstance(state.get("buckets"), dict):
            return state
    return {"buckets": {}}


def _write_state(out: Path, state: dict) -> None:
    lineage = out / "lineage"
    lineage.mkdir(exist_ok=True)
    tmp = lineage / f".{_STATE}.tmp"
    tmp.write_text(json.dumps(state))
    tmp.rename(lineage / _STATE)


def compact_index(
    spark: SparkSession,
    index_dir: str,
    params: BM25Params = DEFAULT_BM25,
    resume: bool = True,
) -> dict:
    """Compact flat postings buckets into the ``blocks`` table.  With
    resume=True (default) buckets already checkpointed in
    lineage/compaction.json are skipped -- incremental ingest only pays
    for its deltas.  Returns cumulative size metrics."""
    t_start = time.time()
    out = Path(index_dir)
    postings_root = out / "postings"
    buckets = sorted(
        d.name.split("=", 1)[1]
        for d in postings_root.iterdir()
        if d.is_dir() and d.name.startswith("bucket=")
    )
    blocks_root = out / "blocks"
    legacy_flat = blocks_root.exists() and any(
        f.is_file() and not f.name.startswith(".")
        for f in blocks_root.iterdir()
    )
    if not resume or legacy_flat:
        # full recompact, or a pre-bucketed layout lingering in the root
        import shutil

        shutil.rmtree(blocks_root, ignore_errors=True)
        state = {"buckets": {}}
        # persist the cleared state BEFORE launching bucket jobs: a crash
        # between the rmtree and the first bucket checkpoint would otherwise
        # leave a stale compaction.json claiming all buckets compacted while
        # the blocks table is gone
        _write_state(out, state)
    else:
        state = _read_state(out)

    def _bytes(p: Path) -> int:
        return sum(f.stat().st_size for f in p.rglob("*") if f.is_file())

    import threading

    state_lock = threading.Lock()

    def _compact_bucket(bname: str) -> None:
        t0 = time.time()
        postings = spark.read.parquet(
            str(postings_root / f"bucket={bname}")
        ).select("term", "doc_id", "tf", "doc_len")
        # no dictionary join: block metadata (max_tf, min_dl) is stats-
        # independent, and the query side derives upper bounds from it
        # with CURRENT idf/avgdl -- saving a postings x vocab shuffle per
        # bucket and keeping bounds sound under incremental ingest
        blocks = (
            postings.withColumn(
                "seg", F.shiftright(F.col("doc_id"), SEG_BITS)
            )
            .groupBy("term", "seg")
            .applyInPandas(encode_posting_group, BLOCKS_SCHEMA)
        )
        # the groupBy above already hash-partitioned by (term, seg);
        # sorting within those partitions gives tight row-group stats for
        # term pruning WITHOUT another exchange -- a repartitionByRange
        # here would sample the applyInPandas output and run the block
        # encoding twice
        bdir = out / "blocks" / f"bucket={bname}"
        index_write(
            blocks.sortWithinPartitions("term", "seg", "block_id")
        ).parquet(str(bdir))
        with state_lock:
            state["buckets"][bname] = {
                "blocks_bytes": _bytes(bdir),
                "wall_ms": int((time.time() - t0) * 1000),
                "finished_ts": time.strftime(
                    "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                ),
            }
            _write_state(out, state)  # per-bucket checkpoint (kill-resume)

    todo = [b for b in buckets if b not in state["buckets"]]
    if todo:
        # concurrent bucket jobs: sequential per-bucket jobs would
        # serialize the whole compaction
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(len(todo), 4)) as ex:
            list(ex.map(_compact_bucket, todo))

    return {
        "flat_bytes": _bytes(out / "postings"),
        "blocks_bytes": _bytes(out / "blocks"),
        "buckets_compacted": len(state["buckets"]),
        "wall_ms": int((time.time() - t_start) * 1000),
    }
