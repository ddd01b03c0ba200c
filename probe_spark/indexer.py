"""Distributed inverted-index build (SURVEY.md SS7.2-7.4).

Layout under ``index_dir`` (parquet everywhere; the production target is an
Iceberg catalog -- this sandbox has no Iceberg runtime jars, so snapshot
semantics are provided by an explicit manifest + lineage table, which is the
same mechanism Iceberg snapshots would give us):

  manifest.json                 build parameters + bucket offsets (phase A)
  pages_indexed/bucket=i/       THE doc store: doc_id, url, lang, text
                                (doc_store="reference" drops text: the
                                durable source keeps the only copy and
                                doc_text_df hydrates on demand)
  doc_lens/bucket=i/            slim lengths: doc_id, doc_len
  postings/bucket=i/            flat postings: term, doc_id, tf, doc_len
  tri_postings/bucket=i/        trigram substring lane: tri, doc_id, for
                                LISTED trigrams only (df <= tri_cutoff)
  tri_partial/bucket=i/         per-bucket trigram counts (tri, df)
  terms_partial/bucket=i/       per-bucket term aggregates (df, cf)
  terms/                        term dictionary: term, df, cf
  tri_terms/                    trigram dictionary: tri, df (true df of
                                every trigram, summed from tri_partial)
  stats/                        singleton: n_docs, avgdl
  lineage/                      per-bucket build metrics + checkpoints

Listed-trigram rule: ``manifest.tri_cutoff`` = trigram.tri_cutoff(n) of
phase A's doc count.  A trigram with df above it is never read by the
engine, so phase B drops its rows: each wave drops the trigrams whose df
within the rows it writes already exceeds the cutoff.  df never falls, so
"df <= tri_cutoff" still guarantees a complete posting list.  A manifest
without ``tri_cutoff`` marks a complete lane (every trigram listed).

Encoding contract: every table is written through ``index_write`` -- zstd,
v2 data pages, and ``doc_id`` without a dictionary so its sorted runs
delta-encode (DELTA_BINARY_PACKED); readers are encoding-agnostic, so
layouts written with other codecs stay valid.

File sizing rule (``sorted_files``): files are sized by bytes, never by
cores.  Each bucket of postings, doc_lens and terms_partial is
k = max(1, ceil(bucket input bytes / FILE_BYTES)) files (TRI_FILE_BYTES
for tri_postings and tri_partial): the write shuffles on
(bucket, pmod(hash(key), k)), so a bucket's rows land in exactly k
partitions and every file is a complete (key, doc_id)-sorted run.  The
dictionaries (terms, tri_terms) are one file until their source outgrows
the target; a streaming delta is one bucket sized by its input files.
Readers do not depend on file count, so older layouts stay valid.

Scale design notes (explicitly, per the north rule):
  * doc_id is the global url-lexicographic rank (FIXTURES.md SS1, mirroring
    probe's doc-index tie-break at ranking.rs:408-420), assigned WITHOUT a
    global sort: range-partition by url into B buckets, rank within each
    bucket (Window.partitionBy(bucket)), then add per-bucket offsets
    computed from bucket counts -- two narrow passes, no driver collect of
    data rows.
  * the document text is written ONCE (pages_indexed, phase A); phase B
    derives only slim columns from it (doc_lens, postings).  At web scale
    the text dominates bytes -- a second doc-store copy would double the
    build's write volume for nothing.
  * per-doc TF is computed map-side inside the tokenize mapInPandas UDF
    (one Arrow pass, no explode->groupBy shuffle for TF).
  * a bucket's postings are one (term, doc_id)-sorted file until the
    bucket outgrows FILE_BYTES, then k files split by term hash (the
    sizing rule above: a term's postings still sit in exactly one file
    per bucket, no sampling pass, skew-free since terms spread
    uniformly); parquet row-group stats prune term lookups at query
    time.  Buckets double as salt for hot-term skew -- a head term's
    postings are B independent sorted runs merged at query or compaction
    time (SURVEY.md SS4 skew handling).
  * global aggregates need no extra passes over data: doc counts and
    doc_len sums come from committed parquet footers / a one-pass metrics
    agg (stats is written driver-side from lineage sums; exact under task
    retries and speculation), and the term dictionary is re-aggregated
    from per-bucket partials computed while the tokenization is cached.
  * builds are resumable: each bucket commits a lineage row after its
    files land; re-running skips completed buckets (kill-resume tested).
  * doc_len is denormalized into postings rows so BM25 scoring needs no
    join against the doc store.
"""

from __future__ import annotations

import json
import time
from pathlib import Path

from pyspark.sql import DataFrame, DataFrameWriter, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from pyspark.sql.types import ArrayType, BinaryType

from probe_spark.trigram import tri_cutoff

# Parquet options of every index table.  doc_id is sorted inside each
# posting run, so with its dictionary off the v2 writer delta + bit-packs
# it (DELTA_BINARY_PACKED); term/tri/tf keep dictionary + RLE.
INDEX_PARQUET = {
    "compression": "zstd",
    "parquet.writer.version": "v2",
    "parquet.enable.dictionary#doc_id": "false",
}


def index_write(df: DataFrame) -> DataFrameWriter:
    """The one writer for index tables: overwrite mode + INDEX_PARQUET."""
    return df.write.mode("overwrite").options(**INDEX_PARQUET)


# Sizing targets, in bytes of a bucket's input (its doc-store share): a
# bucket's table is one sorted file until its input outgrows the target.
# Posting-keyed tables (postings, doc_lens, terms_partial, the term
# dictionary) use FILE_BYTES, the trigram lane TRI_FILE_BYTES.
FILE_BYTES = 256 << 20
TRI_FILE_BYTES = 128 << 20


def file_count(nbytes: int, target: int) -> int:
    """Files per bucket of one table: max(1, ceil(nbytes / target))."""
    return max(1, -(-int(nbytes) // target))


def sorted_files(
    df: DataFrame, files: int | dict, *order: str, unique: bool = False
) -> DataFrame:
    """Lay ``df`` out for an index write: each file sorted by ``order``,
    rows placed by a hash of its first column (the key), so a key's rows
    sit in one file per bucket.  ``files`` is the file count of a
    single-bucket write, or {bucket: count} for a partitionBy("bucket")
    write, where bucket b's rows land in exactly ``files[b]`` partitions
    of its own.  A single-bucket table whose key is ``unique`` (doc_lens,
    the partials) needs no placement, so it coalesces instead of
    shuffling; use it only where ``df`` is cached or aggregated, since a
    coalesce also narrows the stage that computes it."""
    def sub(k):  # the key's file within its bucket
        return F.pmod(F.hash(order[0]), k)

    if isinstance(files, int):
        placed = (
            df.coalesce(files)
            if unique
            else df.repartitionById(files, sub(F.lit(files)))
        )
        return placed.sortWithinPartitions(*order)
    # bucket b owns partitions [starts[b], starts[b] + files[b])
    starts, n = {}, 0
    for b in sorted(files):
        starts[b], n = n, n + files[b]

    def per_bucket(m: dict):
        pairs = [F.lit(x) for kv in m.items() for x in kv]
        return F.element_at(F.create_map(*pairs), F.col("bucket"))

    pid = per_bucket(starts) + sub(per_bucket(files))
    return df.repartitionById(n, pid).sortWithinPartitions("bucket", *order)


TOKENS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("url", StringType()),
        StructField("lang", StringType()),
        StructField("text", StringType()),
        StructField("doc_len", LongType()),
        StructField("term", StringType()),
        StructField("tf", IntegerType()),
        # url-token share of tf (T11 append): lets -n/--exclude-filenames
        # drop url-only matches at query time (engine._term_rows); mostly 0
        # so it RLE-compresses to ~nothing
        StructField("tf_url", IntegerType()),
        StructField("tri_bloom", BinaryType()),
        # distinct 24-bit byte-trigram codes of the containment haystack
        # (trigram.doc_bloom_and_codes) -- exploded into the tri_postings
        # substring-index lane by phase B; doc rows only, null on postings
        StructField("tris", ArrayType(IntegerType())),
    ]
)


def _make_tokenize_partition(
    tokenizer: str = "probe",
    emit_doc_payload: bool = True,
    emit_bloom: bool = False,
):
    """Factory for the tokenize mapInPandas fn.  ``tokenizer``:

      * "probe"  -- the full shared textkit pipeline (text ++ url tokens),
        identical bytes-in/tokens-out as the oracle (the production path);
      * "simple" -- single-space split of text only.  This is the
        SQL-expressible tokenizer used by the probe_index_*_simple driver
        entries, so the DuckDB oracle can exercise the index build + query
        machinery (postings/terms/stats/blocks) end-to-end while the
        tokenizer itself is verified by its own parity suite.

    ``emit_doc_payload=False`` nulls out url/lang/text in the doc row:
    the batch build wrote the doc store in phase A, so echoing the text
    through Arrow and into the phase-B cache would only burn bandwidth
    (the streaming path keeps the payload -- it writes pages_indexed from
    this same pass).

    ``emit_bloom=False`` (default) skips the legacy 1 KiB/doc trigram
    bloom: the tri_postings lane built from ``tris`` fully supersedes it
    for fresh layouts, and at web scale the bloom column alone is ~1 KiB
    x corpus of write volume that no query would read."""

    def fn(iterator):
        import pandas as pd

        from probe_spark.textkit import tokenize
        from probe_spark.trigram import doc_bloom_and_codes, doc_tri_codes

        if tokenizer == "simple":
            def _toks(text, url):
                # single-space split of text only: no url tokens
                return [t for t in (text or "").split(" ") if t], []
        else:
            def _toks(text, url):
                # preprocess_text_with_url = tokenize(text) ++ tokenize(url)
                # (T11); the parts are kept separate so tf_url can record
                # the url-token share per term
                return tokenize(text or ""), tokenize(url or "")

        for pdf in iterator:
            out = {
                "doc_id": [],
                "url": [],
                "lang": [],
                "text": [],
                "doc_len": [],
                "term": [],
                "tf": [],
                "tf_url": [],
                "tri_bloom": [],
                "tris": [],
            }
            for doc_id, url, lang, text in zip(
                pdf["doc_id"], pdf["url"], pdf["lang"], pdf["text"]
            ):
                text_toks, url_toks = _toks(text, url)
                counts: dict[str, int] = {}
                for t in text_toks:
                    counts[t] = counts.get(t, 0) + 1
                url_counts: dict[str, int] = {}
                for t in url_toks:
                    url_counts[t] = url_counts.get(t, 0) + 1
                    counts[t] = counts.get(t, 0) + 1
                dl = len(text_toks) + len(url_toks)
                # doc-store row: tris (trigram postings lane), plus the
                # legacy bloom when requested -- one haystack pass either way
                if emit_bloom:
                    bloom, codes = doc_bloom_and_codes(text, url)
                else:
                    bloom, codes = None, doc_tri_codes(text, url)
                out["doc_id"].append(doc_id)
                out["url"].append(url if emit_doc_payload else None)
                out["lang"].append(lang if emit_doc_payload else None)
                out["text"].append(text if emit_doc_payload else None)
                out["doc_len"].append(dl)
                out["term"].append(None)
                out["tf"].append(0)
                out["tf_url"].append(0)
                out["tri_bloom"].append(bloom)
                out["tris"].append(codes)
                # posting rows
                for t, c in counts.items():
                    out["doc_id"].append(doc_id)
                    out["url"].append(None)
                    out["lang"].append(None)
                    out["text"].append(None)
                    out["doc_len"].append(dl)
                    out["term"].append(t)
                    out["tf"].append(c)
                    out["tf_url"].append(url_counts.get(t, 0))
                    out["tri_bloom"].append(None)
                    out["tris"].append(None)
            yield pd.DataFrame(out)

    return fn


# the production (full probe pipeline) tokenize fn -- the name the rest of
# the codebase (incremental ingest, bench kernel) imports
_tokenize_partition = _make_tokenize_partition("probe")


def tri_rows(token_rows: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, tri) -- each doc's DISTINCT 24-bit byte-trigram codes of
    the lowercased ``text + "\\n" + url`` haystack (the exact string the
    containment rescue tests, oracle.doc_term_freqs / the reference's
    ``full_code_lower.contains(term)`` at file_processing.rs:1353-1358).

    This is the substring-index lane (the public Zoekt / Google Code
    Search trigram design): a rescue needle can only occur in docs whose
    haystack holds ALL of the needle's trigrams, so query time intersects
    the rarest few trigram posting lists and verifies containment on that
    candidate set only -- O(trigram df) per query instead of the O(corpus)
    bloom-column scan.

    Input is the TOKENIZE OUTPUT (doc rows carry the ``tris`` array,
    computed by the same numpy haystack pass as the bloom,
    trigram.doc_bloom_and_codes); this is a pure explode -- no extra read
    of the text and no per-position substring calls (a JVM
    transform+substring formulation was measured at ~7x the whole build's
    cost: substring(s, i, 3) re-seeks the UTF-8 string per position)."""
    return token_rows.filter(F.col("term").isNull()).select(
        "doc_id", F.explode("tris").alias("tri"), *keep
    )


# tri_partial / tri_terms and terms_partial / terms rows; read back with
# these schemas, which skip Spark's schema-inference job
TRI_DF_SCHEMA = "tri int, df long"
TERMS_SCHEMA = "term string, df long, cf long"


def term_counts(rows: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """(*keep, term, df, cf) partial counts of the tokenize output's
    posting rows: the terms_partial table."""
    return (
        rows.filter(F.col("term").isNotNull())
        .groupBy(*keep, "term")
        .agg(F.count(F.lit(1)).alias("df"), F.sum("tf").alias("cf"))
    )


def tri_counts(tri: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """(*keep, tri, df) partial counts of lane rows: the tri_partial table."""
    return tri.groupBy(*keep, "tri").agg(F.count(F.lit(1)).alias("df"))


def listed_tri_rows(
    tri: DataFrame, dfs: DataFrame, cutoff: float | None
) -> DataFrame:
    """The lane rows worth writing: ``tri`` minus every trigram whose df,
    summed over the (tri, df) rows of ``dfs``, exceeds ``cutoff``.  ``dfs``
    counts at least the rows of ``tri``, so a dropped trigram's true df is
    above the cutoff too.  A None cutoff (a complete lane) keeps every
    row.  The dense set is at most (lane rows / cutoff) trigrams, a
    constant multiple of the distinct trigrams per doc: a small broadcast."""
    if cutoff is None:
        return tri
    dense = (
        dfs.groupBy("tri")
        .agg(F.sum("df").alias("df"))
        .filter(F.col("df") > cutoff)
        .select("tri")
    )
    listed = tri.join(F.broadcast(dense), "tri", "left_anti")
    return listed.select(*tri.columns)


def tri_dictionary(
    spark: SparkSession, out: Path, pruned: bool
) -> DataFrame | None:
    """(tri, df) over the whole lane, or None when the index has no lane.
    A pruned lane lacks the rows of dense trigrams, so df is summed from
    tri_partial; a complete lane (no manifest cutoff) counts its rows.
    Laid out for its write: one file until the source outgrows
    TRI_FILE_BYTES (the driver reads it whole, so no order is kept)."""
    src = out / ("tri_partial" if pruned else "tri_postings")
    if not (src.exists() and any(src.iterdir())):
        return None
    if pruned:
        parts = spark.read.schema(TRI_DF_SCHEMA).parquet(str(src))
        tri_dict = parts.groupBy("tri").agg(F.sum("df").alias("df"))
    else:
        lane = spark.read.parquet(str(src))
        tri_dict = lane.groupBy("tri").agg(F.count(F.lit(1)).alias("df"))
    return tri_dict.coalesce(file_count(_dir_bytes(src), TRI_FILE_BYTES))


def _assign_doc_ids(
    spark: SparkSession, pages: DataFrame, n_buckets: int
) -> tuple[DataFrame, list[dict]]:
    """Phase A: doc_id = global url rank via url-range slices + offsets.

    Two passes, but only the SECOND touches the text bytes:

      1. a url-COLUMN-ONLY job range-partitions the urls into P slices
         (P = cluster parallelism) and collects per-slice (count, min url).
         Column pruning means the heavy text/html bytes never enter this
         shuffle -- at web scale urls are <0.1% of the table;
      2. the full rows are assigned their slice by comparing url against
         the broadcast slice boundaries (a JVM-side aggregate over a
         literal array -- equal urls can't straddle a boundary because the
         range partitioner keeps equal keys together), then ranked within
         the slice (one width-bounded sort shuffle) and offset by the
         slice's running count.

    Compared to range-shuffling the full rows this removes a full pass
    over the text (the old persist + count materialization) and the range
    partitioner's SAMPLING job over the wide table.  Contiguous slices map
    onto buckets (slices ascend in url), so bucket = slice*B//P stays a
    deterministic url-range bucketing."""
    par = max(n_buckets, spark.sparkContext.defaultParallelism)
    slice_rows = (
        pages.select("url")
        .repartitionByRange(par, "url")
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.count(F.lit(1)).alias("count"), F.min("url").alias("lo"))
        .collect()
    )
    # <= P rows: sorted here, as a Spark orderBy would cost two more jobs
    slice_rows.sort(key=lambda r: r["pid"])
    # nonempty slices in url order; slice i covers [lo_i, lo_{i+1})
    slices = [r for r in slice_rows if r["count"] > 0]
    bounds = [r["lo"] for r in slices[1:]]  # first slice needs no lower bound
    acc = 0
    bucket_meta = []
    for i, row in enumerate(slices):
        bucket_meta.append(
            {
                "pid": i,
                "bucket": i * n_buckets // par,
                "count": row["count"],
                "offset": acc,
                # slice's min url: reference-mode phase B pushes each
                # bucket's [lo, next_lo) url range into the source scan
                "lo": row["lo"],
            }
        )
        acc += row["count"]
    offset_df = spark.createDataFrame(
        [(m["pid"], m["offset"], m["bucket"]) for m in bucket_meta]
        or [(0, 0, 0)],
        ["pid", "offset", "bucket"],
    )
    if bounds:
        sid = F.aggregate(
            F.array(*[F.lit(b) for b in bounds]),
            F.lit(0),
            lambda acc_, b: acc_ + F.when(F.col("url") >= b, 1).otherwise(0),
        )
    else:
        sid = F.lit(0)
    w = Window.partitionBy("pid").orderBy("url")
    indexed = (
        pages.withColumn("pid", sid)
        .withColumn("rank_in_pid", F.row_number().over(w) - 1)
        .join(F.broadcast(offset_df), "pid")
        .withColumn("doc_id", F.col("offset") + F.col("rank_in_pid"))
        .drop("rank_in_pid", "offset", "pid")
    )
    return indexed, bucket_meta


def _read_lineage(index_dir: str) -> dict[int, dict]:
    """Lineage is per-bucket JSON checkpoint files (driver-side metadata,
    one tiny file per bucket -- no Spark jobs; on a real deployment this is
    the Iceberg snapshot/commit log)."""
    p = Path(index_dir) / "lineage"
    out: dict[int, dict] = {}
    if p.exists():
        for f in sorted(p.glob("bucket_*.json")):
            row = json.loads(f.read_text())
            out[int(row["bucket"])] = row
    return out


def _append_lineage(index_dir: str, row: dict) -> None:
    p = Path(index_dir) / "lineage"
    p.mkdir(parents=True, exist_ok=True)
    tmp = p / f".bucket_{row['bucket']}.json.tmp"
    tmp.write_text(json.dumps(row))
    tmp.rename(p / f"bucket_{row['bucket']}.json")  # atomic commit


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def bytes_by_table(index_dir: Path) -> dict[str, int]:
    """On-disk bytes of every top-level entry of an index dir (tables and
    metadata files alike, so the values sum to the dir's bytes); a
    driver-side directory walk, no Spark job."""
    return {
        p.name: _dir_bytes(p) if p.is_dir() else p.stat().st_size
        for p in sorted(Path(index_dir).iterdir())
    }


def files_by_table(index_dir: Path) -> dict[str, int]:
    """Parquet file count of every top-level table of an index dir (a
    driver-side directory walk, no Spark job): the layout's per-file
    overhead (footer, page index, checksum sidecar) scales with it."""
    return {
        p.name: sum(1 for _ in p.rglob("*.parquet"))
        for p in sorted(Path(index_dir).iterdir())
        if p.is_dir()
    }


def _committed_parquet_rows(path: Path) -> int:
    """Exact row count of a committed parquet dir from file footers
    (driver-side metadata read, no Spark job).  Unlike ``observe`` on the
    write, this counts only files the commit protocol kept, so it stays
    exact under task retries and speculative duplicates (Observation rows
    from a losing attempt are merged into the metric even though its
    files are discarded)."""
    import pyarrow.parquet as pq

    return sum(
        pq.read_metadata(f).num_rows for f in Path(path).rglob("*.parquet")
    )


def _committed_column_sum(path: Path, col: str) -> int:
    """Sum one integer column of a committed parquet dir via a driver-side
    pyarrow column read (single-column projection; retry/speculation-proof
    for the same reason as _committed_parquet_rows)."""
    import pyarrow.compute as pc
    import pyarrow.dataset as ds

    files = sorted(str(f) for f in Path(path).rglob("*.parquet"))
    if not files:
        return 0
    t = ds.dataset(files, format="parquet").to_table(columns=[col])
    return int(pc.sum(t.column(col)).as_py() or 0)


def write_stats(index_dir: str, n_docs: int, avgdl: float) -> None:
    """Write the singleton stats table driver-side (pyarrow) -- the inputs
    already landed in lineage during phase B, so no Spark job."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = Path(index_dir) / "stats"
    out.mkdir(parents=True, exist_ok=True)
    for f in out.glob("*.parquet"):
        f.unlink()
    table = pa.table(
        {
            "n_docs": pa.array([n_docs], type=pa.int64()),
            "avgdl": pa.array([float(avgdl)], type=pa.float64()),
        }
    )
    pq.write_table(table, out / "part-00000.parquet", compression="zstd")


def sorted_dictionary(terms: DataFrame, src_bytes: int) -> DataFrame:
    """Term-dictionary write layout: sorted by term, so parquet min/max
    statistics turn dictionary lookups into row-group reads instead of
    vocabulary scans -- prefix_search's StringStartsWith and the engine's
    per-term df fallback (the web-vocab path where the whole-dictionary
    preload is disabled) both push down to the scan.  One file until
    ``src_bytes`` (the on-disk bytes it is aggregated from) outgrows
    FILE_BYTES, then term ranges: terms are unique strings, so the range
    partitioning is skew-free by construction, and a single range needs
    no sampling job."""
    n = file_count(src_bytes, FILE_BYTES)
    return terms.repartitionByRange(n, "term").sortWithinPartitions("term")


def _bucket_url_range(
    bucket_meta: list[dict], b: int
) -> tuple[str | None, str | None]:
    """[lo, hi) url range of bucket ``b`` from the manifest's slice
    metadata (slices ascend in url; a bucket is a contiguous slice run).
    Returns (None, None) bounds where open-ended (first/last bucket, or a
    legacy manifest without per-slice ``lo``)."""
    lows = [m.get("lo") for m in bucket_meta if m["bucket"] == b]
    if not lows or any(lo is None for lo in lows):
        return None, None
    nxt = [m.get("lo") for m in bucket_meta if m["bucket"] > b]
    hi = min(nxt) if nxt and all(x is not None for x in nxt) else None
    return min(lows), hi


def doc_text_df(spark: SparkSession, index_dir: str, docs: DataFrame) -> DataFrame:
    """The doc store WITH its text column.  Identity for copy-mode
    layouts (text lives in pages_indexed); for reference-mode layouts
    (build_index doc_store="reference") the slim store is joined against
    the durable source table recorded in the manifest -- urls are unique
    by the reference-mode contract, so the join preserves row
    multiplicity.  Every query-time text consumer (containment rescue,
    grep, extract, session-cache invalidation) resolves through here."""
    if "text" in docs.columns:
        return docs
    manifest_path = Path(index_dir) / "manifest.json"
    manifest = (
        json.loads(manifest_path.read_text()) if manifest_path.exists() else {}
    )
    src_path = manifest.get("source_path")
    if not src_path:
        raise ValueError(
            f"doc store at {index_dir} has no text column and the manifest "
            "records no source_path to hydrate it from"
        )
    src = spark.read.parquet(src_path).select("url", "text")
    return docs.join(src, "url", "left")


def build_index(
    spark: SparkSession,
    pages: DataFrame | None,
    index_dir: str,
    n_buckets: int = 8,
    resume: bool = False,
    validate_extraction: bool = False,
    fail_buckets: frozenset[int] = frozenset(),
    tokenizer: str = "probe",
    emit_bloom: bool = False,
    doc_store: str = "copy",
    source_path: str | None = None,
) -> dict:
    """Build (or resume) the inverted index from a pages DataFrame.

    ``fail_buckets`` injects a failure after the named buckets complete --
    used by the kill-resume test only.  ``tokenizer`` selects the tokenize
    UDF (see _make_tokenize_partition); it is recorded in the manifest and
    honored on resume.  ``emit_bloom`` additionally writes the legacy
    per-doc trigram bloom column into doc_lens (the tri_postings lane
    supersedes it; see _make_tokenize_partition).

    ``doc_store``:
      * "copy" (default) -- pages_indexed carries the text: the index is
        self-contained and query-time containment verification / grep /
        extract read no external table.
      * "reference" -- for sources that are already DURABLE tables (the
        Iceberg premise, SURVEY SS2.12): pages_indexed shrinks to a slim
        (doc_id, url, lang) map and text is NEVER copied -- phase B joins
        each bucket's slim rows against the source (url-range pushdown
        from the manifest's slice boundaries), and query-time text
        consumers hydrate through doc_text_df().  At web scale this
        halves build write volume (text dominates bytes) for the price of
        a per-bucket join and a query-time join on the rescue/grep paths.
        Requires ``source_path`` (re-readable parquet/Iceberg dir whose
        rows are keyed by UNIQUE url -- the crawl-snapshot premise; the
        streaming path enforces it via dropDuplicates).  ``pages`` may be
        None (read from source_path).

    Returns build metrics (also persisted in the lineage table), plus
    ``bytes_by_table`` and ``files_by_table``: the index footprint and
    parquet file count per top-level table.
    """
    if doc_store not in ("copy", "reference"):
        raise ValueError(f"doc_store must be 'copy' or 'reference': {doc_store!r}")
    if doc_store == "reference" and not source_path:
        raise ValueError("doc_store='reference' requires source_path")
    out = Path(index_dir)
    out.mkdir(parents=True, exist_ok=True)
    manifest_path = out / "manifest.json"
    pages_indexed_dir = out / "pages_indexed"

    if resume and manifest_path.exists():
        manifest = json.loads(manifest_path.read_text())
        n_buckets = manifest["n_buckets"]
        tokenizer = manifest.get("tokenizer", "probe")
        emit_bloom = manifest.get("emit_bloom", emit_bloom)
        doc_store = manifest.get("doc_store", "copy")
        source_path = manifest.get("source_path")
    else:
        # fresh build: drop checkpoints AND derived tables of any previous
        # build in this dir -- per-bucket writes overwrite only their own
        # bucket, so a rebuild with fewer buckets would otherwise leave
        # stale higher-numbered bucket dirs polluting postings/terms/blocks
        import shutil

        for stale in (
            "lineage", "postings", "doc_lens", "docs", "terms_partial",
            "terms", "stats", "blocks", "tri_postings", "tri_terms",
            "tri_partial",
        ):
            shutil.rmtree(out / stale, ignore_errors=True)
        (out / "stream_state.json").unlink(missing_ok=True)
        if validate_extraction:
            from probe_spark.extract import extract_text

            @F.pandas_udf("string")
            def _extract(html):  # pragma: no cover - trivial wrapper
                return html.map(extract_text)

            bad = pages.filter(_extract(F.col("html")) != F.col("text")).count()
            if bad:
                raise ValueError(
                    f"{bad} rows violate the text == extract_text(html) invariant"
                )
        # Phase A: ingest snapshot with doc ids.  Only the columns the
        # index needs travel through the shuffle (html, once validated,
        # stays behind -- at web scale it dominates the bytes).  In
        # reference mode the TEXT stays behind too: the slice-rank sort
        # shuffles only (url, lang), and the doc store written below is a
        # slim id map.
        if pages is None:
            pages = spark.read.parquet(source_path)
        pages = (
            pages.select("url", "lang")
            if doc_store == "reference"
            else pages.select("url", "text", "lang")
        )
        indexed, bucket_meta = _assign_doc_ids(spark, pages, n_buckets)
        manifest = {
            "n_buckets": n_buckets,
            "buckets": bucket_meta,
            "tri_cutoff": tri_cutoff(sum(m["count"] for m in bucket_meta)),
            "tokenizer": tokenizer,
            "emit_bloom": emit_bloom,
            "doc_store": doc_store,
            "source_path": source_path,
            "created_ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        # NOTE: overlapping this write with phase B (persisting `indexed`
        # and tokenizing from the cache while a driver thread writes the
        # doc store) was A/B-measured at 32 cores and LOST by ~20 s per
        # 150k-doc build: the extra materialization + memory-bandwidth
        # contention on the tokenize critical path outweigh the serialized
        # write it saves.  Phase A stays synchronous.
        doc_cols = (
            ["doc_id", "url", "lang", "bucket"]
            if doc_store == "reference"
            else ["doc_id", "url", "lang", "text", "bucket"]
        )
        (
            index_write(indexed.select(*doc_cols))
            .partitionBy("bucket")
            .parquet(str(pages_indexed_dir))
        )
        manifest_path.write_text(json.dumps(manifest, indent=1))

    done = set(_read_lineage(index_dir)) if resume else set()
    cutoff = manifest.get("tri_cutoff")  # None: resuming a complete lane

    def _text_bytes(b: int) -> int:
        """Input bytes of bucket b, the unit of task and file sizing."""
        if manifest.get("doc_store") == "reference":
            # slim store holds no text: the bucket's share of the source
            return _dir_bytes(Path(source_path)) // max(n_buckets, 1)
        return _dir_bytes(pages_indexed_dir / f"bucket={b}")

    # Phase B: per-bucket tokenize + write (resumable unit).
    def _build_bucket(b: int) -> None:
        t0 = time.time()
        if not (pages_indexed_dir / f"bucket={b}").exists():
            # empty url range (tiny inputs): commit an empty checkpoint
            _append_lineage(
                index_dir,
                {
                    "bucket": b, "n_docs": 0, "n_postings": 0, "sum_dl": 0,
                    "bytes_in": 0, "bytes_out": 0, "wall_ms": 0,
                    "finished_ts": time.strftime(
                        "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                    ),
                },
            )
            return
        # task sizing is data-proportional, not a fixed fan-out: at web
        # scale one bucket can be terabytes, so split by bytes (~64 MB of
        # input text per tokenize task) with a floor of 2x cores so small
        # buckets still use the whole machine and stragglers even out
        par = spark.sparkContext.defaultParallelism
        bucket_bytes = _text_bytes(b)
        n_tasks = max(par * 2, int(bucket_bytes // (64 << 20)))
        files = file_count(bucket_bytes, FILE_BYTES)
        tri_files = file_count(bucket_bytes, TRI_FILE_BYTES)
        bucket_pages = spark.read.parquet(
            str(pages_indexed_dir / f"bucket={b}")
        )
        if manifest.get("doc_store") == "reference":
            # hydrate text from the durable source, url-range pushdown
            # from the manifest's slice boundaries: on a url-clustered
            # source (Iceberg sort order) each bucket job scans only its
            # own slice of the table
            src = spark.read.parquet(source_path).select("url", "text")
            lo, hi = _bucket_url_range(manifest["buckets"], b)
            if lo is not None:
                src = src.filter(F.col("url") >= lo)
            if hi is not None:
                src = src.filter(F.col("url") < hi)
            bucket_pages = bucket_pages.select("doc_id", "url", "lang").join(
                src, "url", "inner"
            )
        bucket_pages = bucket_pages.select(
            "doc_id", "url", "lang", "text"
        ).repartition(n_tasks)
        rows = bucket_pages.mapInPandas(
            _make_tokenize_partition(tokenizer, emit_bloom=emit_bloom),
            TOKENS_SCHEMA,
        )
        rows.persist()
        lens_dir = out / "doc_lens" / f"bucket={b}"
        postings_dir = out / "postings" / f"bucket={b}"
        tpart_dir = out / "terms_partial" / f"bucket={b}"
        # postings first: this job materializes the persisted tokenization;
        # the small doc_lens/terms_partial jobs below then read from cache.
        # Files are sized by bytes (sorted_files): a term's postings sit in
        # one (term, doc_id)-sorted file, whose row-group term ranges prune
        # lookups at query time.  Row counts/sums come from the COMMITTED
        # parquet footers after each write (exact under task retries and
        # speculation, unlike observe on the write) -- still no separate
        # count jobs.
        postings_b = rows.filter(F.col("term").isNotNull()).select(
            "term", "doc_id", "tf", "tf_url", "doc_len"
        )
        index_write(sorted_files(postings_b, files, "term", "doc_id")).parquet(
            str(postings_dir)
        )
        lens_b = (
            rows.filter(F.col("term").isNull())
            .select(
                "doc_id", "doc_len",
                *(["tri_bloom"] if emit_bloom else []),
            )
        )
        index_write(
            sorted_files(lens_b, files, "doc_id", unique=True)
        ).parquet(str(lens_dir))
        # trigram substring-index lane for this bucket (rescue serving):
        # counts first, then the listed trigrams' rows, sorted by tri for
        # row-group pruning at query time
        tri_dir = out / "tri_postings" / f"bucket={b}"
        tri_part_dir = out / "tri_partial" / f"bucket={b}"
        tri_b = tri_rows(rows)
        index_write(
            sorted_files(tri_counts(tri_b), tri_files, "tri", unique=True)
        ).parquet(str(tri_part_dir))
        listed_b = listed_tri_rows(
            tri_b,
            spark.read.schema(TRI_DF_SCHEMA).parquet(str(tri_part_dir)),
            cutoff,
        )
        index_write(
            sorted_files(listed_b, tri_files, "tri", "doc_id")
        ).parquet(str(tri_dir))
        # per-bucket term partials from the cached tokenization: the final
        # dictionary re-aggregates these (vocab-sized) instead of scanning
        # the full postings table again
        index_write(
            sorted_files(term_counts(rows), files, "term", unique=True)
        ).parquet(str(tpart_dir))
        n_postings = _committed_parquet_rows(postings_dir)
        n_docs = _committed_parquet_rows(lens_dir)
        sum_dl = _committed_column_sum(lens_dir, "doc_len")
        rows.unpersist()
        wall_ms = int((time.time() - t0) * 1000)
        _append_lineage(
            index_dir,
            {
                "bucket": b,
                "n_docs": n_docs,
                "n_postings": n_postings,
                "sum_dl": sum_dl,
                "bytes_in": _dir_bytes(pages_indexed_dir / f"bucket={b}"),
                "bytes_out": _dir_bytes(postings_dir)
                + _dir_bytes(lens_dir)
                + _dir_bytes(tri_dir),
                "n_tri_postings": _committed_parquet_rows(tri_dir),
                "wall_ms": wall_ms,
                "finished_ts": time.strftime(
                    "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                ),
            },
        )
        if b in fail_buckets:
            raise RuntimeError(f"injected failure after bucket {b}")

    def _empty_lineage(b: int) -> None:
        _append_lineage(
            index_dir,
            {
                "bucket": b, "n_docs": 0, "n_postings": 0, "sum_dl": 0,
                "bytes_in": 0, "bytes_out": 0, "wall_ms": 0,
                "finished_ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            },
        )

    def _build_buckets_batch(todo: list[int]) -> None:
        """All pending buckets in ONE job set (tokenize+postings, doc_lens,
        terms_partial, metrics = 4 jobs total) instead of 3 jobs PER bucket
        through a thread pool: per-bucket job barriers cost idle cores at
        every bucket tail, and the loss grows with core count (the round-2
        scaling residual).  Buckets stay the partition key -- writes use
        dynamic partition overwrite into the same bucket=i layout, so
        resume granularity (skip committed buckets, redo the rest) and the
        reader layout are unchanged; lineage for the whole wave commits
        after its writes land, mirroring a single Iceberg commit."""
        t0 = time.time()
        existing = [
            b for b in todo if (pages_indexed_dir / f"bucket={b}").exists()
        ]
        for b in todo:
            if b not in existing:  # empty url range (tiny inputs)
                _empty_lineage(b)
        if not existing:
            return
        par = spark.sparkContext.defaultParallelism
        in_bytes = {
            b: _dir_bytes(pages_indexed_dir / f"bucket={b}") for b in existing
        }
        text_bytes = {b: _text_bytes(b) for b in existing}
        total_bytes = sum(text_bytes.values())
        # data-proportional tasks (~64 MB input text each) with a floor
        # of 2x cores so small inputs still use the whole machine
        n_tasks = max(par * 2, int(total_bytes // (64 << 20)))
        # output files per bucket and table, by bytes (sorted_files)
        files = {b: file_count(n, FILE_BYTES) for b, n in text_bytes.items()}
        tri_files = {
            b: file_count(n, TRI_FILE_BYTES) for b, n in text_bytes.items()
        }
        # bucket is recovered from doc_id via the manifest's offsets (docs
        # were assigned contiguous id ranges per bucket in phase A) -- the
        # tokenize UDF schema stays bucket-free and shared with the
        # incremental/streaming paths
        starts: dict[int, int] = {}
        for m in manifest["buckets"]:
            starts[m["bucket"]] = min(
                starts.get(m["bucket"], m["offset"]), m["offset"]
            )
        blist = sorted(starts.items())
        bounds = [s for _b, s in blist[1:]]
        bids = [b for b, _s in blist]
        if bounds:
            idx = F.aggregate(
                F.array(*[F.lit(s) for s in bounds]),
                F.lit(0),
                lambda a, s: a + F.when(F.col("doc_id") >= s, 1).otherwise(0),
            )
            bucket_col = F.element_at(
                F.array(*[F.lit(b) for b in bids]), idx + 1
            )
        else:
            bucket_col = F.lit(bids[0] if bids else 0)
        srcs = [str(pages_indexed_dir / f"bucket={b}") for b in existing]
        wave_pages = spark.read.parquet(*srcs)
        if manifest.get("doc_store") == "reference":
            # hydrate text from the durable source (one shuffle join for
            # the whole wave -- the text still moves through the cluster
            # exactly once, it just never lands in a second copy on disk)
            src_df = spark.read.parquet(source_path).select("url", "text")
            wave_pages = wave_pages.select("doc_id", "url", "lang").join(
                src_df, "url", "inner"
            )
        rows = (
            wave_pages
            .select("doc_id", "url", "lang", "text")
            .repartition(n_tasks)
            .mapInPandas(
                _make_tokenize_partition(
                    tokenizer, emit_doc_payload=False, emit_bloom=emit_bloom
                ),
                TOKENS_SCHEMA,
            )
            .drop("url", "lang", "text")
            .withColumn("bucket", bucket_col)
        )
        rows.persist()
        postings_root = out / "postings"
        lens_root = out / "doc_lens"
        tpart_root_ = out / "terms_partial"
        # postings first: materializes the cache.  Each bucket's postings
        # land in files[b] (term, doc_id)-sorted files, a term's in one
        # of them; sorted runs give tight row-group term ranges for
        # query-time pruning.
        (
            index_write(
                sorted_files(
                    rows.filter(F.col("term").isNotNull()).select(
                        "bucket", "term", "doc_id", "tf", "tf_url", "doc_len"
                    ),
                    files, "term", "doc_id",
                )
            )
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket")
            .parquet(str(postings_root))
        )

        # the remaining jobs are small and all read the now-materialized
        # cache: submit them from driver threads so their stages interleave
        # (sequential submission would serialize three short, narrow jobs)
        per: dict[int, dict] = {}

        def _write_lens() -> None:
            (
                index_write(
                    sorted_files(
                        rows.filter(F.col("term").isNull()).select(
                            "bucket", "doc_id", "doc_len",
                            *(["tri_bloom"] if emit_bloom else []),
                        ),
                        files, "doc_id",
                    )
                )
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket")
                .parquet(str(lens_root))
            )

        def _write_tpart() -> None:
            (
                index_write(
                    sorted_files(
                        term_counts(rows, keep=("bucket",)), files, "term"
                    )
                )
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket")
                .parquet(str(tpart_root_))
            )

        def _write_tri() -> None:
            # trigram substring-index lane (rescue serving, see tri_rows):
            # pure explode of the cached tokenize output's tris arrays --
            # no extra text read, no Python.  Per-bucket counts land first;
            # summed over the wave they name the trigrams this wave drops.
            tri = tri_rows(rows, keep=("bucket",))
            tri_part_root = out / "tri_partial"
            (
                index_write(
                    sorted_files(
                        tri_counts(tri, keep=("bucket",)), tri_files, "tri"
                    )
                )
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket")
                .parquet(str(tri_part_root))
            )
            wave_parts = [
                str(d)
                for d in (tri_part_root / f"bucket={b}" for b in existing)
                if d.exists()
            ]
            if not wave_parts:  # no doc of the wave holds a trigram
                return
            listed = listed_tri_rows(
                tri,
                spark.read.schema(TRI_DF_SCHEMA).parquet(*wave_parts),
                cutoff,
            )
            (
                index_write(sorted_files(listed, tri_files, "tri", "doc_id"))
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket")
                .parquet(str(out / "tri_postings"))
            )

        def _metrics() -> None:
            # per-bucket build metrics in one pass over the cache
            # (replaces the per-bucket write Observations)
            for r in (
                rows.groupBy("bucket")
                .agg(
                    F.count(F.when(F.col("term").isNull(), 1)).alias("n_docs"),
                    F.coalesce(
                        F.sum(
                            F.when(F.col("term").isNull(), F.col("doc_len"))
                        ),
                        F.lit(0),
                    ).alias("sum_dl"),
                    F.count(F.when(F.col("term").isNotNull(), 1)).alias(
                        "n_postings"
                    ),
                )
                .collect()
            ):
                per[r["bucket"]] = r

        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=4) as ex:
            futs = [
                ex.submit(f)
                for f in (_write_lens, _write_tpart, _write_tri, _metrics)
            ]
            for fu in futs:
                fu.result()
        rows.unpersist()
        wall_ms = int((time.time() - t0) * 1000)
        for b in existing:
            r = per.get(b)
            share = text_bytes[b] / total_bytes if total_bytes else 0.0
            _append_lineage(
                index_dir,
                {
                    "bucket": b,
                    "n_docs": int(r["n_docs"]) if r else 0,
                    "n_postings": int(r["n_postings"]) if r else 0,
                    "sum_dl": int(r["sum_dl"]) if r else 0,
                    "bytes_in": in_bytes[b],
                    "bytes_out": sum(
                        _dir_bytes(out / t / f"bucket={b}")
                        for t in ("postings", "doc_lens", "tri_postings")
                    ),
                    # zero rows is a bucket whose trigrams are all
                    # unlisted: it has no tri_postings dir, yet the lane
                    # covers it (engine coverage guard)
                    "n_tri_postings": _committed_parquet_rows(
                        out / "tri_postings" / f"bucket={b}"
                    ),
                    # wall attributed by input share so the lineage sum
                    # equals the real wave wall (per-bucket walls from the
                    # old concurrent pool double-counted overlap)
                    "wall_ms": int(wall_ms * share),
                    "finished_ts": time.strftime(
                        "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                    ),
                },
            )

    todo = [b for b in range(n_buckets) if b not in done]
    if fail_buckets:
        # deterministic failure injection needs sequential order (and the
        # per-bucket commit granularity the kill-resume suite exercises)
        for b in todo:
            _build_bucket(b)
    elif todo:
        # PROBE_BUILD_WAVE_BUCKETS bounds the build's in-flight scratch:
        # one wave's persisted tokenize cache + its three repartition
        # shuffles is the peak block-manager footprint, and the single
        # all-buckets wave holds the WHOLE corpus's worth at once (a 5M-doc
        # build filled an 80 GiB tmpfs scratch and got the JVM oom-killed
        # on this box).  Chunking todo into waves of K buckets divides that
        # peak by ceil(len(todo)/K) for a small tail-parallelism cost per
        # wave barrier; on a real cluster it bounds per-executor shuffle
        # scratch the same way.  Default (unset/0) keeps the single wave.
        import os as _os

        wave = int(_os.environ.get("PROBE_BUILD_WAVE_BUCKETS", "0") or 0)
        if wave <= 0 or wave >= len(todo):
            _build_buckets_batch(todo)
        else:
            import gc as _gc

            for i in range(0, len(todo), wave):
                _build_buckets_batch(todo[i : i + wave])
                # drop py4j refs so ContextCleaner can delete the finished
                # wave's shuffle files + cache blocks before the next wave
                _gc.collect()
                spark.sparkContext._jvm.System.gc()

    # Phase C: finalize global aggregates (idempotent overwrite).  The term
    # dictionary re-aggregates the per-bucket partials (vocab-sized input,
    # not the postings table); stats needs NO job -- counts and doc_len
    # sums already landed in lineage during phase B.
    tpart_root = out / "terms_partial"
    if tpart_root.exists() and any(tpart_root.iterdir()):
        terms = (
            spark.read.schema(TERMS_SCHEMA).parquet(str(tpart_root))
            .groupBy("term")
            .agg(F.sum("df").alias("df"), F.sum("cf").alias("cf"))
        )
    else:
        terms = spark.createDataFrame([], TERMS_SCHEMA)
    index_write(sorted_dictionary(terms, _dir_bytes(tpart_root))).parquet(
        str(out / "terms")
    )

    # trigram dictionary (tri, df): the driver-cached rarest-trigram
    # selector for rescue serving, re-aggregated from the per-bucket
    # partials; vocab is charset-bounded (tiny vs the corpus), one agg job.
    tri_dict = tri_dictionary(spark, out, pruned=cutoff is not None)
    if tri_dict is not None:
        index_write(tri_dict).parquet(str(out / "tri_terms"))

    lineage = _read_lineage(index_dir)
    if lineage and all("sum_dl" in r for r in lineage.values()):
        n_docs_tot = sum(r["n_docs"] for r in lineage.values())
        sum_dl_tot = sum(r["sum_dl"] for r in lineage.values())
        write_stats(
            index_dir,
            n_docs_tot,
            (sum_dl_tot / n_docs_tot) if n_docs_tot else 0.0,
        )
    else:  # pragma: no cover - legacy lineage without sum_dl
        lens = spark.read.parquet(str(out / "doc_lens"))
        stats = lens.agg(
            F.count(F.lit(1)).alias("n_docs"), F.avg("doc_len").alias("avgdl")
        )
        index_write(stats).parquet(str(out / "stats"))

    tot = {
        k: sum(r[k] for r in lineage.values())
        for k in ("n_docs", "n_postings", "bytes_in", "bytes_out", "wall_ms")
    }
    wall_s = max(tot["wall_ms"], 1) / 1000.0
    return {
        **tot,
        "docs_per_sec": tot["n_docs"] / wall_s,
        "postings_per_sec": tot["n_postings"] / wall_s,
        "bytes_by_table": bytes_by_table(out),
        "files_by_table": files_by_table(out),
    }
