"""Distributed inverted-index build (SURVEY.md SS7.2-7.4).

Layout under ``index_dir`` (parquet everywhere; the production target is an
Iceberg catalog -- this sandbox has no Iceberg runtime jars, so snapshot
semantics are provided by an explicit manifest + lineage table, which is the
same mechanism Iceberg snapshots would give us):

  manifest.json                 build parameters + url slices (slicing)
  pages_indexed/bucket=i/       THE doc store: doc_id, url, lang, text
                                (doc_store="reference" drops text: the
                                durable source keeps the only copy and
                                doc_text_df hydrates on demand)
  doc_lens/bucket=i/            slim lengths: doc_id, doc_len
  postings/bucket=i/            flat postings: term, doc_id, tf, doc_len
  tri_postings/bucket=i/        trigram substring lane: tri, doc_id, for
                                LISTED trigrams only (df <= tri_cutoff)
  tri_partial/bucket=i/         per-slice trigram counts (tri, df)
  terms_partial/bucket=i/       per-slice term aggregates (df, cf)
  terms/                        term dictionary: term, df, cf
  tri_terms/                    trigram dictionary: tri, df (true df of
                                every trigram, summed from tri_partial)
  stats/                        singleton: n_docs, avgdl
  lineage/                      per-bucket build metrics + checkpoints

Two hosts, one kernel.  The per-slice bodies (``_stage_slice``: rank,
tokenize, write; ``_prune_slice``: drop dense trigrams) run either in
mapInArrow tasks (the Spark host) or in a loop on the driver (the driver
host); slicing, placement, the count check, the dictionaries, the commit
and the lineage are the same code on both, so both write the same index.
The gate (``hosted``) is the input plan's Catalyst size estimate
(``_plan_bytes``, no job): rows times row width for an in-memory frame,
file bytes for a scan, Long.MaxValue for a plan Spark cannot size.  Under
DRIVER_BUILD_BYTES the pages are collected once (``toArrow``, one job)
and the whole build runs in-process; the saving is the JVM scheduling and
Python-worker start-up around a kernel that takes seconds, while the
driver host tokenizes on one core and Spark on all of them.  Build
seconds, measured on the perfbench corpus (repeated with url suffixes
past 5000 docs) as in-memory frames (an estimate of 68 bytes a doc), 8
buckets, 4 cores, two runs each, every build first in a fresh process
("cold") and then again in the same process ("warm"):

  docs     driver cold   driver warm   spark cold   spark warm
   5000    2.3-2.5       1.2-1.3       5.7-6.7      2.2-2.7
  10000    3.2-4.6       2.2-3.1       6.7-7.2      2.3-2.6
  20000    5.2-6.8       4.2-4.8       8.2          3.8-3.9
  30000    8.3-9.0       6.7-8.3       8.9-10.1     4.8-5.4
  40000   10.6-13.3      8.9-11.4     10.4-10.9     4.8-5.9

So the cold crossover lies between 30k and 40k docs (2.0-2.7 MB of
estimate) and the warm one near 10k (0.7 MB).  DRIVER_BUILD_BYTES = 1 MiB
sits between them: about 15k in-memory docs, where a cold build saves
about 3 s and a warm one loses about 0.5 s.  A parquet scan is estimated
at its file bytes, about 120 per doc for this corpus, so about 9k docs.
``ingest_batch`` uses the same gate on its deduplicated micro-batch.

The build in one pass (``build_index``):
  * slicing -- the urls are range-partitioned into slices and each
    slice's (count, min url) kept; slices ascend in url, so slice i's doc
    ids are offset_i + rank within the slice.  On the Spark host a
    url-column-only job does it; on the driver host ``_cut_urls`` applies
    Spark's own bound rule to every url, so small inputs (which Spark's
    sampling reads whole) get the same slices on both hosts.  A bucket is
    k = file_count(bucket input bytes, FILE_BYTES) consecutive slices
    (input bytes from ``df.inputFiles()``; an in-memory frame counts as
    0, so k = 1).  The core count never enters.
  * write -- ONE mapInArrow task per slice (pages placed by
    ``repartitionById`` on the slice id; on the driver host
    ``_place_local`` applies the same ``url >= lo`` rule): it sorts its
    rows by url, sets doc_id = offset + rank, tokenizes each doc
    (``_doc_tokenizer``, the same per-doc code ``_tokenize_partition``
    runs), builds the slice's pages_indexed, doc_lens, postings,
    terms_partial, tri_partial and unpruned trigram rows as Arrow tables,
    sorts each with ``Table.sort_by`` and writes them with pyarrow into
    ``_attempts/<taskAttemptId>/`` (``_attempts/<slice>/`` on the driver
    host).  The task returns one small row (slice, attempt, counts, its
    own wall time).
  * trigram pass -- listed-trigram rule: ``manifest.tri_cutoff`` =
    trigram.tri_cutoff(n) of the slicing's doc count.  A trigram with df
    above it is never read by the engine, so its rows are dropped: the
    driver sums the tri_partial files of the winning attempts (plus the
    committed buckets of a resumed build) into the exact global df, and
    one more mapInArrow job (a task per slice; a loop on the driver host)
    drops the dense trigrams' rows from the staged lane.  A manifest
    without ``tri_cutoff`` marks a complete lane (every trigram listed).
  * dictionaries -- terms and tri_terms are the key-sorted sums of the
    partials, computed with pyarrow on the driver while the partials total
    under FILE_BYTES (one file); above that a Spark aggregate lays them
    out as key ranges (``fold_dictionary``).
  * commit -- bucket by bucket the driver renames the winning attempts'
    files into ``<table>/bucket=b/part-<slice>.parquet`` and then writes
    the bucket's lineage row (counts, ``wall_ms`` and the ``host`` that
    wrote it), the resume marker; a resume may run on the other host.
    Only attempts returned by ``collect()`` land: a speculative or failed
    duplicate never does.  ``_attempts/`` is deleted at the end (and by
    every fresh build or resume, which also clears what a killed run left
    behind).

So a bucket of k slices is k files per table: (key, doc_id)-sorted runs
over disjoint, ascending doc-id ranges (one sorted file per bucket when
k = 1).  Readers do not depend on file count, so older layouts stay
valid.  The writer runs one task per slice, so choose ``n_buckets`` >=
cores: with fewer slices than cores the build leaves cores idle (the
tokenize stage used to run 2x cores tasks).  That trade was measured on
4 cores only; on a many-core machine it is unmeasured.

Encoding contract: pyarrow writes every table the build and ingest
produce with ``INDEX_ARROW`` -- zstd level 3, v2 data pages, no stored
Arrow schema, ``doc_id`` and ``tri`` DELTA_BINARY_PACKED, ``term`` and
``url`` DELTA_BYTE_ARRAY, ``text`` DELTA_LENGTH_BYTE_ARRAY, and a
dictionary only on the low-cardinality columns.  Spark-written tables
(the dictionary fallback, suggest buckets) go through
``index_write`` (INDEX_PARQUET): zstd, v2 pages, doc_id without a
dictionary.  Readers are encoding-agnostic, so layouts written with
other codecs stay valid.

Scale design notes (explicitly, per the north rule):
  * doc_id is the global url-lexicographic rank (FIXTURES.md SS1, mirroring
    probe's doc-index tie-break at ranking.rs:408-420), assigned WITHOUT a
    global sort: range-slice the urls, rank within each slice inside its
    task, add per-slice offsets computed from slice counts -- no driver
    collect of data rows on the Spark host (the driver host collects only
    inputs estimated under DRIVER_BUILD_BYTES).
  * the document text is read and written ONCE: the slice task writes the
    doc store and derives the slim columns (doc_lens, postings) from the
    same rows.  A slice's rows sit in one task's memory, bounded by the
    FILE_BYTES slice sizing for file inputs.
  * a term's postings are B independent sorted runs, one per bucket
    (buckets double as salt for hot-term skew, SURVEY.md SS4), merged at
    query time; parquet row-group stats prune term lookups.
  * global aggregates need no extra passes over data: doc counts and
    doc_len sums come from the winning attempts' result rows (exact under
    task retries and speculation, since only those attempts' files land),
    and the dictionaries are re-aggregated from the per-slice partials.
  * builds are resumable: each bucket commits a lineage row after its
    files land; a resume re-reads the source, rebuilds the buckets without
    a lineage row from the manifest's slice bounds and offsets, and
    raises if a slice's row count no longer matches the manifest.
  * doc_len is denormalized into postings rows so BM25 scoring needs no
    join against the doc store.
"""

from __future__ import annotations

import json
import shutil
import time
from pathlib import Path

import pyarrow as pa
from pyspark.sql import DataFrame, DataFrameWriter, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from probe_spark.trigram import tri_cutoff

# Parquet options of every Spark-written index table.  doc_id is sorted
# inside each posting run, so with its dictionary off the v2 writer delta +
# bit-packs it (DELTA_BINARY_PACKED); term/tri/tf keep dictionary + RLE.
INDEX_PARQUET = {
    "compression": "zstd",
    "parquet.writer.version": "v2",
    "parquet.enable.dictionary#doc_id": "false",
}

# pyarrow writer options of every table the slice writer produces (see the
# module docstring); a column without an entry in column_encoding is
# dictionary-encoded only if it is listed in use_dictionary.
INDEX_ARROW = {
    "compression": "zstd",
    "compression_level": 3,
    "data_page_version": "2.0",
    "store_schema": False,
    "column_encoding": {
        "doc_id": "DELTA_BINARY_PACKED",
        "tri": "DELTA_BINARY_PACKED",
        "term": "DELTA_BYTE_ARRAY",
        "url": "DELTA_BYTE_ARRAY",
        "text": "DELTA_LENGTH_BYTE_ARRAY",
    },
    "use_dictionary": ["lang", "tf", "tf_url", "doc_len", "df", "cf"],
}


def index_write(df: DataFrame) -> DataFrameWriter:
    """The Spark writer for index tables: overwrite mode + INDEX_PARQUET."""
    return df.write.mode("overwrite").options(**INDEX_PARQUET)


def write_arrow(table: pa.Table, path: Path) -> None:
    """The pyarrow writer for index tables: one file, INDEX_ARROW."""
    import pyarrow.parquet as pq

    cols = set(table.column_names)
    enc = {c: e for c, e in INDEX_ARROW["column_encoding"].items() if c in cols}
    dic = [c for c in INDEX_ARROW["use_dictionary"] if c in cols]
    pq.write_table(
        table, str(path), **{**INDEX_ARROW, "column_encoding": enc,
                             "use_dictionary": dic},
    )


# Sizing target, in bytes of input: a bucket is one slice (one file per
# table) until its input outgrows it; the dictionaries are summed on the
# driver while their partials total under it.
FILE_BYTES = 256 << 20

# Driver read budget, in bytes of the column chunks a read decodes: a
# query (or a single-row lookup) whose footer-pruned row groups fit it is
# served with pyarrow on the driver with no Spark job; above it, or at 0,
# the Spark plan runs (engine.pruned_read).
DRIVER_READ_BYTES = 64 << 20

# Driver build limit, in bytes of the input plan's Catalyst size estimate
# (``_plan_bytes``): a build or ingest whose input estimates under it runs
# the slice kernel in-process on the driver; at 0 every build runs on
# Spark.  Set between the measured warm (~0.7 MB) and cold (2.0-2.7 MB)
# crossovers: see the module docstring.
DRIVER_BUILD_BYTES = 1 << 20


def file_count(nbytes: int, target: int) -> int:
    """Files per bucket of one table: max(1, ceil(nbytes / target))."""
    return max(1, -(-int(nbytes) // target))


def _input_bytes(spark: SparkSession, df: DataFrame) -> int:
    """Bytes of the files ``df`` reads (0 for an in-memory frame): a
    driver-side file-status lookup on any Hadoop filesystem, no job."""
    conf = spark._jsc.hadoopConfiguration()
    total = 0
    for f in df.inputFiles():
        p = spark._jvm.org.apache.hadoop.fs.Path(f)
        total += p.getFileSystem(conf).getFileStatus(p).getLen()
    return total


def _plan_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate of ``df``'s optimized plan, no job: rows
    times row width for an in-memory frame, the files' bytes for a scan,
    Long.MaxValue for a plan it cannot size."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def hosted(pages: DataFrame) -> tuple[str, DataFrame | pa.Table]:
    """The build host of ``pages`` and the input it runs on: ("driver",
    the pages collected as one Arrow table, one job) when the plan's size
    estimate is under DRIVER_BUILD_BYTES, else ("spark", ``pages``)."""
    if _plan_bytes(pages) < DRIVER_BUILD_BYTES:
        return "driver", pages.toArrow()
    return "spark", pages


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
        # distinct 24-bit byte-trigram codes of the containment haystack
        # (trigram.doc_tri_codes) -- the tri_postings lane's rows;
        # doc rows only, null on postings
        StructField("tris", ArrayType(IntegerType())),
    ]
)


def _doc_tokenizer(tokenizer: str = "probe"):
    """The one per-doc tokenize step of the build, ingest and the bench
    kernel: ``doc(url, text) -> (doc_len, tf, tf_url, tris)``.
    ``tokenizer``:

      * "probe"  -- the full shared textkit pipeline (text ++ url tokens),
        identical bytes-in/tokens-out as the oracle (the production path);
      * "simple" -- single-space split of text only.  This is the
        SQL-expressible tokenizer used by the probe_index_*_simple driver
        entries, so the DuckDB oracle can exercise the index build + query
        machinery (postings/terms/stats) end-to-end while the
        tokenizer itself is verified by its own parity suite.

    ``tf`` maps term -> count over text and url tokens, ``tf_url`` the url
    tokens' share.  ``tris`` are the distinct trigram codes of the
    containment haystack (the tri_postings lane's rows)."""
    from probe_spark.textkit import tokenize
    from probe_spark.trigram import doc_tri_codes

    if tokenizer == "simple":
        def toks(text, url):
            # single-space split of text only: no url tokens
            return [t for t in (text or "").split(" ") if t], []
    else:
        def toks(text, url):
            # preprocess_text_with_url = tokenize(text) ++ tokenize(url)
            # (T11); the parts are kept separate so tf_url can record the
            # url-token share per term
            return tokenize(text or ""), tokenize(url or "")

    def doc(url, text):
        text_toks, url_toks = toks(text, url)
        tf: dict[str, int] = {}
        for t in text_toks:
            tf[t] = tf.get(t, 0) + 1
        tf_url: dict[str, int] = {}
        for t in url_toks:
            tf_url[t] = tf_url.get(t, 0) + 1
            tf[t] = tf.get(t, 0) + 1
        tris = doc_tri_codes(text, url)
        return len(text_toks) + len(url_toks), tf, tf_url, tris

    return doc


def _make_tokenize_partition(tokenizer: str = "probe"):
    """mapInPandas fn over (doc_id, url, lang, text) batches emitting
    TOKENS_SCHEMA rows: one doc row (doc_len, tris) and one
    posting row per distinct term, from ``_doc_tokenizer``."""

    def fn(iterator):
        import pandas as pd

        doc = _doc_tokenizer(tokenizer)
        for pdf in iterator:
            out = {f.name: [] for f in TOKENS_SCHEMA.fields}

            def row(*values):  # one TOKENS_SCHEMA row
                for col, v in zip(out.values(), values):
                    col.append(v)

            for doc_id, url, lang, text in zip(
                pdf["doc_id"], pdf["url"], pdf["lang"], pdf["text"]
            ):
                dl, tf, tf_url, tris = doc(url, text)
                row(doc_id, url, lang, text, dl, None, 0, 0, tris)
                for t, c in tf.items():
                    row(doc_id, None, None, None, dl, t, c, tf_url.get(t, 0),
                        None)
            yield pd.DataFrame(out)

    return fn


# the production (full probe pipeline) tokenize fn, which the bench kernel
# imports
_tokenize_partition = _make_tokenize_partition("probe")


# tri_partial / tri_terms and terms_partial / terms rows; Spark read-backs
# pass these schemas, which skip Spark's schema-inference job
TRI_DF_SCHEMA = "tri int, df long"
TERMS_SCHEMA = "term string, df long, cf long"
# the dictionaries: {table: (key, summed columns, partial table, schema)}
DICTIONARIES = {
    "terms": ("term", ("df", "cf"), "terms_partial", TERMS_SCHEMA),
    "tri_terms": ("tri", ("df",), "tri_partial", TRI_DF_SCHEMA),
}
_ARROW_TYPES = {"term": pa.string(), "tri": pa.int32(), "df": pa.int64(),
                "cf": pa.int64()}


def _ranked(pages: pa.Table, offset: int):
    """A slice's rows in url order, and their doc ids: offset + rank."""
    import numpy as np
    import pyarrow.compute as pc

    pages = pages.take(pc.sort_indices(pages["url"]))
    return pages, np.arange(offset, offset + pages.num_rows, dtype=np.int64)


def _slice_tables(
    pages: pa.Table,
    offset: int,
    tokenizer: str = "probe",
    keep_text: bool = True,
) -> dict[str, pa.Table]:
    """Every table of one url slice, as sorted Arrow tables: the rows are
    ranked by url (doc_id = offset + rank) and tokenized by
    ``_doc_tokenizer``.  ``tri_lane`` is the unpruned trigram lane; the
    trigram pass turns it into tri_postings.  ``keep_text=False`` (the
    reference doc store) leaves text out of pages_indexed."""
    import numpy as np

    pages, doc_ids = _ranked(pages, offset)
    n = pages.num_rows
    doc = _doc_tokenizer(tokenizer)
    lens = np.zeros(n, dtype=np.int64)
    tris = []
    terms, owner, tfs, tf_urls = [], [], [], []
    for i, (url, text) in enumerate(
        zip(pages["url"].to_pylist(), pages["text"].to_pylist())
    ):
        lens[i], tf, tf_url, codes = doc(url, text)
        tris.append(codes)
        terms.extend(tf)
        tfs.extend(tf.values())
        tf_urls.extend(tf_url.get(t, 0) for t in tf)
        owner.extend([i] * len(tf))
    owner = np.asarray(owner, dtype=np.int64)
    postings = pa.table(
        {
            "term": pa.array(terms, pa.string()),
            "doc_id": doc_ids[owner],
            "tf": pa.array(tfs, pa.int32()),
            "tf_url": pa.array(tf_urls, pa.int32()),
            "doc_len": lens[owner],
        }
    ).sort_by([("term", "ascending"), ("doc_id", "ascending")])
    n_tris = np.fromiter(map(len, tris), dtype=np.int64, count=n)
    lane = pa.table(
        {
            "tri": pa.array(
                np.concatenate([np.empty(0, np.int32), *tris]), pa.int32()
            ),
            "doc_id": np.repeat(doc_ids, n_tris),
        }
    ).sort_by([("tri", "ascending"), ("doc_id", "ascending")])
    tp = postings.group_by("term").aggregate([("doc_id", "count"), ("tf", "sum")])
    tri_p = lane.group_by("tri").aggregate([("doc_id", "count")])
    store = {"doc_id": doc_ids, "url": pages["url"], "lang": pages["lang"]}
    if keep_text:
        store["text"] = pages["text"]
    return {
        "pages_indexed": pa.table(store),
        "doc_lens": pa.table({"doc_id": doc_ids, "doc_len": lens}),
        "postings": postings,
        "terms_partial": pa.table(
            {
                "term": tp["term"],
                "df": tp["doc_id_count"],
                "cf": tp["tf_sum"].cast(pa.int64()),
            }
        ).sort_by("term"),
        "tri_partial": pa.table(
            {"tri": tri_p["tri"], "df": tri_p["doc_id_count"]}
        ).sort_by("tri"),
        "tri_lane": lane,
    }


# one row per slice task: the slice, the attempt that wrote it, its
# counts and its own wall time
SLICE_RESULT = (
    "sid int, attempt long, n_docs long, n_postings long, sum_dl long, "
    "n_tri long, wall_ms long"
)


def _stage_slice(
    pages: pa.Table, sid: int, offset: int, attempt: int, staging: Path,
    tokenizer: str, keep_text: bool,
) -> dict:
    """The write stage's per-slice body, on either host: slice ``sid``'s
    tables land in ``<staging>/<attempt>/<table>.parquet`` (an empty table
    writes no file).  Returns its SLICE_RESULT row."""
    import pyarrow.compute as pc

    t0 = time.perf_counter()
    tables = _slice_tables(pages, offset, tokenizer, keep_text)
    d = staging / str(attempt)
    d.mkdir(parents=True, exist_ok=True)
    for name, t in tables.items():
        if t.num_rows:
            write_arrow(t, d / f"{name}.parquet")
    lens = tables["doc_lens"]["doc_len"]
    return {
        "sid": sid,
        "attempt": attempt,
        "n_docs": len(lens),
        "n_postings": tables["postings"].num_rows,
        "sum_dl": pc.sum(lens).as_py() or 0,
        "n_tri": tables["tri_lane"].num_rows,
        "wall_ms": int((time.perf_counter() - t0) * 1000),
    }


def _slice_writer(
    staging: str, offsets: dict[int, int], tokenizer: str, keep_text: bool
):
    """mapInArrow fn of the Spark host's write stage: one partition is one
    slice, staged by ``_stage_slice`` under its taskAttemptId."""

    def run(batches):
        import pyarrow.compute as pc
        from pyspark import TaskContext

        batches = [b for b in batches if b.num_rows]
        if not batches:
            return
        pages = pa.Table.from_batches(batches)
        (sid,) = pc.unique(pages["sid"]).to_pylist()
        yield _row_batch(_stage_slice(
            pages, sid, offsets[sid], TaskContext.get().taskAttemptId(),
            Path(staging), tokenizer, keep_text,
        ))

    return run


def _row_batch(row: dict) -> pa.RecordBatch:
    """A per-slice result row as the one-row batch a mapInArrow task
    yields (``sid`` an int column, the rest longs and strings)."""
    return pa.RecordBatch.from_pydict(
        {**{k: [v] for k, v in row.items()}, "sid": pa.array([row["sid"]], pa.int32())}
    )


def _slice_list(parts, n_buckets: int, par: int) -> list[dict]:
    """The manifest slices of ``parts``, the (count, min url) of each
    range partition in url order: the nonempty ones as {pid, bucket,
    count, offset, lo}, where slice i covers urls [lo_i, lo_{i+1}) and
    bucket = i * n_buckets // P, so a bucket is a contiguous run of
    slices."""
    slices, acc = [], 0
    for i, (count, lo) in enumerate(p for p in parts if p[0] > 0):
        slices.append(
            {
                "pid": i,
                "bucket": i * n_buckets // par,
                "count": count,
                "offset": acc,
                "lo": lo,
            }
        )
        acc += count
    return slices


def _cut_urls(urls: list[str], par: int, nulls: int = 0) -> list[list]:
    """The driver host's range partitioning of the sorted non-null
    ``urls`` (and ``nulls`` null urls, which sort first and land in
    partition 0): Spark's RangePartitioner.determineBounds over every url
    with unit weight -- the weight it gives each url when its sampling job
    reads them all, as it does while no input partition holds more than
    300 * P / (input partitions) rows -- so then both hosts cut the same
    slices.  A bound is an upper-inclusive url, never equal to the
    previous one, so equal urls stay in one partition.  Returns each
    partition's [count, min url]."""
    import bisect

    n = len(urls) + nulls
    m = min(par, n)
    step = n / m if m else 0.0
    bounds: list[str] = []
    cum, target = float(nulls), step
    for u in urls:
        if len(bounds) >= m - 1:
            break
        cum += 1.0
        if cum >= target and (not bounds or u > bounds[-1]):
            bounds.append(u)
            target += step
    parts = [[0, None] for _ in range(len(bounds) + 1)]
    parts[0][0] = nulls
    for u in urls:
        p = parts[bisect.bisect_left(bounds, u)]
        if p[1] is None:  # sorted: the first url is the minimum
            p[1] = u
        p[0] += 1
    return parts


def _slice_pages(
    spark: SparkSession, pages: DataFrame | pa.Table, n_buckets: int, k: int = 1
) -> list[dict]:
    """Slicing into n_buckets * k range partitions of url, each
    summarized as its (count, min url) by ``_slice_list``.  On the Spark
    host (``pages`` a DataFrame) a url-COLUMN-ONLY job range-partitions
    and collects them (column pruning keeps the text out of this shuffle);
    on the driver host (an Arrow table) ``_cut_urls`` cuts them in
    process."""
    par = n_buckets * k
    if isinstance(pages, pa.Table):
        import pyarrow.compute as pc

        urls = sorted(pc.drop_null(pages["url"]).to_pylist())
        parts = _cut_urls(urls, par, pages["url"].null_count)
        return _slice_list(parts, n_buckets, par)
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
    return _slice_list([(r["count"], r["lo"]) for r in slice_rows], n_buckets, par)


def _place(pages: DataFrame, slices: list[dict], todo=None) -> DataFrame:
    """``pages`` with its slice id ``sid`` (url against the slices' lower
    bounds: equal urls never straddle a bound, since the range partitioner
    keeps equal keys together), restricted to the slices in ``todo`` (all
    when None) and placed one slice per partition."""
    bounds = [s["lo"] for s in slices[1:]]  # the first slice has no bound
    if bounds:
        sid = F.aggregate(
            F.array(*[F.lit(b) for b in bounds]),
            F.lit(0),
            lambda acc, b: acc + F.when(F.col("url") >= b, 1).otherwise(0),
        )
    else:
        sid = F.lit(0)
    placed = pages.withColumn("sid", sid.cast("int"))
    if todo is not None:
        placed = placed.filter(F.col("sid").isin(list(todo)))
    return placed.repartitionById(max(len(slices), 1), "sid")


def _place_local(pages: pa.Table, slices: list[dict], todo) -> dict[int, pa.Table]:
    """``_place`` on the driver host: {slice id: its rows} for the
    nonempty slices in ``todo``, by the same ``url >= lo`` rule."""
    import numpy as np
    import pyarrow.compute as pc

    sid = np.zeros(pages.num_rows, dtype=np.int64)
    for s in slices[1:]:
        ge = pc.fill_null(pc.greater_equal(pages["url"], s["lo"]), False)
        sid += ge.to_numpy(zero_copy_only=False)
    placed = {i: pages.filter(pa.array(sid == i)) for i in todo}
    return {i: t for i, t in placed.items() if t.num_rows}


def _assign_doc_ids(
    spark: SparkSession, pages: DataFrame, n_buckets: int
) -> tuple[DataFrame, list[dict]]:
    """Slicing plus the slice tasks' ranking, as a DataFrame: ``pages``
    with doc_id (the global url rank) and bucket, and the slices."""
    slices = _slice_pages(spark, pages, n_buckets)
    meta = {s["pid"]: (s["offset"], s["bucket"]) for s in slices}
    schema = StructType(
        pages.schema.fields
        + [StructField("doc_id", LongType()), StructField("bucket", IntegerType())]
    )

    def rank(batches):
        import pyarrow.compute as pc

        batches = [b for b in batches if b.num_rows]
        if not batches:
            return
        t = pa.Table.from_batches(batches)
        (sid,) = pc.unique(t["sid"]).to_pylist()
        offset, bucket = meta[sid]
        t, doc_ids = _ranked(t.drop_columns(["sid"]), offset)
        yield from (
            t.append_column("doc_id", pa.array(doc_ids))
            .append_column("bucket", pa.array([bucket] * len(doc_ids), pa.int32()))
            .to_batches()
        )

    return _place(pages, slices).mapInArrow(rank, schema), slices


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


def write_stats(index_dir: str, n_docs: int, avgdl: float) -> None:
    """Write the singleton stats table driver-side (pyarrow) -- the inputs
    already landed in lineage, so no Spark job."""
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


def sorted_dictionary(
    terms: DataFrame, src_bytes: int, key: str = "term"
) -> DataFrame:
    """Dictionary write layout: sorted by ``key``, so parquet min/max
    statistics turn dictionary lookups into row-group reads instead of
    vocabulary scans -- prefix_search's StringStartsWith and the engine's
    per-term df fallback (the web-vocab path where the whole-dictionary
    preload is disabled) both push down to the scan.  One file until
    ``src_bytes`` (the on-disk bytes it is aggregated from) outgrows
    FILE_BYTES, then term ranges: terms are unique strings, so the range
    partitioning is skew-free by construction, and a single range needs
    no sampling job."""
    n = file_count(src_bytes, FILE_BYTES)
    return terms.repartitionByRange(n, key).sortWithinPartitions(key)


def parquet_files(*paths: Path) -> list[str]:
    """Every parquet file under ``paths`` (files or dirs; a missing path
    has none), sorted."""
    return sorted(
        str(f)
        for p in map(Path, paths)
        for f in ([p] if p.is_file() else p.rglob("*.parquet"))
    )


def summed(spark: SparkSession, files: list[str], table: str):
    """The key-sorted sums of dictionary ``table``'s partial rows in
    ``files``: a pyarrow Table summed on the driver while the files total
    under FILE_BYTES, else a (lazy) Spark DataFrame."""
    key, cols, _, schema = DICTIONARIES[table]
    if sum(Path(f).stat().st_size for f in files) >= FILE_BYTES:
        return (
            spark.read.schema(schema).parquet(*files)
            .groupBy(key)
            .agg(*[F.sum(c).alias(c) for c in cols])
        )
    import pyarrow.dataset as ds

    arrow_schema = pa.schema([(c, _ARROW_TYPES[c]) for c in (key, *cols)])
    t = ds.dataset(files, schema=arrow_schema, format="parquet").to_table()
    t = t.group_by(key).aggregate([(c, "sum") for c in cols])
    return pa.table(
        {key: t[key], **{c: t[f"{c}_sum"].cast(pa.int64()) for c in cols}}
    ).sort_by(key)


def fold_dictionary(
    spark: SparkSession, out: Path, table: str, files: list[str]
) -> None:
    """(Re)write dictionary ``table`` (terms or tri_terms) as ``summed``
    over ``files``: one sorted pyarrow file, or above FILE_BYTES a Spark
    write laid out by sorted_dictionary.  Written to a temp dir and
    swapped in, so ``files`` may include the table's own old files."""
    key = DICTIONARIES[table][0]
    dic = summed(spark, files, table)
    tmp = out / f"{table}_tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    if isinstance(dic, pa.Table):
        tmp.mkdir(parents=True)
        write_arrow(dic, tmp / "part-00000.parquet")
    else:
        src_bytes = sum(Path(f).stat().st_size for f in files)
        index_write(sorted_dictionary(dic, src_bytes, key)).parquet(str(tmp))
    shutil.rmtree(out / table, ignore_errors=True)
    tmp.rename(out / table)


def rebuild_tri_terms(spark: SparkSession, out: Path, cutoff) -> None:
    """tri_terms over every committed bucket: the summed tri_partial of a
    listed lane, or, for a complete lane (no manifest cutoff: a layout
    that may predate tri_partial), the lane's own rows counted."""
    if cutoff is not None:
        fold_dictionary(spark, out, "tri_terms", parquet_files(out / "tri_partial"))
    elif (out / "tri_postings").exists():
        lane = spark.read.parquet(str(out / "tri_postings"))
        counted = lane.groupBy("tri").agg(F.count(F.lit(1)).alias("df"))
        index_write(counted.coalesce(1)).parquet(str(out / "tri_terms"))


def dense_tris(
    spark: SparkSession, files: list[str], cutoff: float | None
) -> list[int]:
    """The trigrams whose df, summed over the tri_partial rows of
    ``files``, exceeds ``cutoff`` (none for a complete lane).  The set is
    at most (lane rows / cutoff) trigrams: small by construction."""
    if cutoff is None or not files:
        return []
    dfs = summed(spark, files, "tri_terms")
    if isinstance(dfs, pa.Table):
        import pyarrow.compute as pc

        return dfs.filter(pc.greater(dfs["df"], cutoff))["tri"].to_pylist()
    return [r["tri"] for r in dfs.filter(F.col("df") > cutoff).collect()]


def write_slices(
    spark: SparkSession,
    pages: DataFrame | pa.Table,
    slices: list[dict],
    staging: Path,
    todo: list[int],
    tokenizer: str = "probe",
    keep_text: bool = True,
) -> dict[int, dict]:
    """The write stage: each slice in ``todo`` (slice ids) stages its
    tables under ``staging`` -- one task per slice on the Spark host
    (``pages`` a DataFrame), a loop on the driver host (an Arrow table,
    the slice id standing in for the attempt).  Returns {slice id: result
    row} of the attempts ``collect()`` returned, each with ``files`` =
    {table: staged file}.  Raises if a slice's row count differs from its
    ``count`` (unless that is None)."""
    offsets = {s["pid"]: s["offset"] for s in slices}
    if isinstance(pages, pa.Table):
        rows = [
            _stage_slice(t, sid, offsets[sid], sid, staging, tokenizer, keep_text)
            for sid, t in _place_local(pages, slices, todo).items()
        ]
    else:
        fn = _slice_writer(str(staging), offsets, tokenizer, keep_text)
        placed = _place(pages, slices, todo).mapInArrow(fn, SLICE_RESULT)
        rows = [r.asDict() for r in placed.collect()]
    results = {r["sid"]: r for r in rows}
    for sid in todo:
        got = results.get(sid, {}).get("n_docs", 0)
        if slices[sid]["count"] not in (None, got):
            raise ValueError(
                f"url slice {sid} holds {got} docs, the manifest records "
                f"{slices[sid]['count']}: the source changed since slicing"
            )
    for r in results.values():
        d = staging / str(r["attempt"])
        r["files"] = {
            t: d / f"{t}.parquet"
            for t in ("pages_indexed", "doc_lens", "postings", "terms_partial",
                      "tri_partial", "tri_lane")
        }
    return results


def _prune_slice(lane: str, dense: list[int], sid: int, attempt: int) -> dict:
    """The trigram pass's per-slice body, on either host: the staged
    ``lane`` minus the ``dense`` trigrams' rows, written next to it as
    ``<lane>.<attempt>.parquet`` (no file, path "", when nothing is
    left).  Returns the slice's (sid, path, n_tri, wall_ms) row."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t0 = time.perf_counter()
    table = pq.read_table(lane)
    kept = table.filter(pc.invert(pc.is_in(table["tri"], pa.array(dense, pa.int32()))))
    path = ""
    if kept.num_rows:
        path = f"{lane[:-len('.parquet')]}.{attempt}.parquet"
        write_arrow(kept, Path(path))
    return {
        "sid": sid,
        "path": path,
        "n_tri": kept.num_rows,
        "wall_ms": int((time.perf_counter() - t0) * 1000),
    }


def prune_lane(
    spark: SparkSession,
    results: dict[int, dict],
    dense: list[int],
    host: str = "spark",
) -> None:
    """The trigram pass: sets each slice's ``files["tri_postings"]`` to
    its staged lane minus the ``dense`` trigrams' rows (``_prune_slice``:
    one task per slice on the Spark host, a loop on the driver host), its
    ``n_tri`` to the rows kept, and adds the slice's wall time."""
    lanes = {
        sid: str(r["files"]["tri_lane"])
        for sid, r in results.items()
        if r["files"]["tri_lane"].exists()
    }
    for r in results.values():  # nothing to drop: the lane is listed
        r["files"]["tri_postings"] = r["files"]["tri_lane"]
    if not dense or not lanes:
        return
    order = sorted(lanes)

    def run(batches):
        from pyspark import TaskContext

        for b in batches:
            for i in b.column("id").to_pylist():
                yield _row_batch(_prune_slice(
                    lanes[order[i]], dense, order[i],
                    TaskContext.get().taskAttemptId(),
                ))

    if host == "driver":
        rows = [_prune_slice(lanes[sid], dense, sid, sid) for sid in order]
    else:
        n = len(order)
        rows = (
            spark.range(0, n, 1, n)
            .mapInArrow(run, "sid int, path string, n_tri long, wall_ms long")
            .collect()
        )
    for row in rows:
        r = results[row["sid"]]
        r["files"]["tri_postings"] = Path(row["path"]) if row["path"] else None
        r["n_tri"] = row["n_tri"]
        r["wall_ms"] += row["wall_ms"]


def commit_slices(
    out: Path, bucket, results: list[tuple[int, dict]], tables
) -> None:
    """Rename the staged ``tables`` files of the given (slice id, result)
    pairs into ``<table>/bucket=<bucket>/part-<slice>.parquet``, replacing
    whatever the bucket held.  Only these attempts' files land: a stray
    attempt (a speculative or failed duplicate) stays in staging."""
    for table in tables:
        d = out / table / f"bucket={bucket}"
        shutil.rmtree(d, ignore_errors=True)
        for sid, r in results:
            src = r["files"].get(table)
            if src is not None and src.exists():
                d.mkdir(parents=True, exist_ok=True)
                src.rename(d / f"part-{sid:05d}.parquet")


BUCKET_TABLES = (
    "pages_indexed", "doc_lens", "postings", "terms_partial", "tri_partial",
    "tri_postings",
)


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
    doc_store: str = "copy",
    source_path: str | None = None,
) -> dict:
    """Build (or resume) the inverted index from a pages DataFrame.

    ``fail_buckets`` injects a failure after the named buckets commit --
    used by the kill-resume tests only.  ``tokenizer`` selects the
    tokenizer (see _doc_tokenizer); it is recorded in the manifest and
    honored on resume.

    ``doc_store``:
      * "copy" (default) -- pages_indexed carries the text: the index is
        self-contained and query-time containment verification / grep /
        extract read no external table.
      * "reference" -- for sources that are already DURABLE tables (the
        Iceberg premise, SURVEY SS2.12): pages_indexed shrinks to a slim
        (doc_id, url, lang) map and text is NEVER copied -- the slice
        tasks tokenize the source rows, and query-time text consumers
        hydrate through doc_text_df().  At web scale this halves build
        write volume (text dominates bytes) for the price of a query-time
        join on the rescue/grep paths.  Requires ``source_path``
        (re-readable parquet/Iceberg dir whose rows are keyed by UNIQUE
        url -- the crawl-snapshot premise; the streaming path enforces it
        via dropDuplicates).  ``pages`` may be None (read from
        source_path).

    A resume rebuilds every bucket without a lineage row from ``pages``
    (or, when None, ``source_path``), which must hold the rows the
    interrupted build sliced.

    Returns build metrics (also persisted in the lineage table);
    ``bytes_by_table`` and ``files_by_table``: the index footprint and
    parquet file count per top-level table; ``phase_ms``: driver wall time
    of slicing, write, trigram pass, dictionaries and commit; ``jobs``:
    the Spark jobs the call started.
    """
    if doc_store not in ("copy", "reference"):
        raise ValueError(f"doc_store must be 'copy' or 'reference': {doc_store!r}")
    if doc_store == "reference" and not source_path:
        raise ValueError("doc_store='reference' requires source_path")
    dag = spark.sparkContext._jsc.sc().dagScheduler()
    job0 = dag.nextJobId()
    phase_ms: dict[str, int] = {}
    t0 = [time.perf_counter()]

    def lap(phase: str) -> None:
        now = time.perf_counter()
        phase_ms[phase] = int((now - t0[0]) * 1000)
        t0[0] = now

    out = Path(index_dir)
    out.mkdir(parents=True, exist_ok=True)
    manifest_path = out / "manifest.json"
    staging = out / "_attempts"
    shutil.rmtree(staging, ignore_errors=True)  # a killed run's leftovers

    resuming = resume and manifest_path.exists()
    if resuming:
        manifest = json.loads(manifest_path.read_text())
        n_buckets = manifest["n_buckets"]
        tokenizer = manifest.get("tokenizer", "probe")
        doc_store = manifest.get("doc_store", "copy")
        source_path = manifest.get("source_path")
    if pages is None:
        if not source_path:
            raise ValueError(
                "build_index needs pages: this index records no source_path "
                "to read them from (pass the pages the build was started with)"
            )
        pages = spark.read.parquet(source_path)
    if not resuming:
        # fresh build: drop checkpoints AND derived tables of any previous
        # build in this dir -- per-bucket commits replace only their own
        # bucket, so a rebuild with fewer buckets would otherwise leave
        # stale higher-numbered bucket dirs polluting postings/terms
        for stale in (
            *BUCKET_TABLES, "lineage", "docs", "terms", "stats", "tri_terms",
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
    # only the columns the index needs travel through the placement
    # shuffle (html, once validated, stays behind)
    pages = pages.select("url", "text", "lang")
    k = file_count(_input_bytes(spark, pages) // n_buckets, FILE_BYTES)
    host, pages = hosted(pages)
    if not resuming:
        slices = _slice_pages(spark, pages, n_buckets, k)
        manifest = {
            "n_buckets": n_buckets,
            "buckets": slices,
            "tri_cutoff": tri_cutoff(sum(s["count"] for s in slices)),
            "tokenizer": tokenizer,
            "doc_store": doc_store,
            "source_path": source_path,
            "created_ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        manifest_path.write_text(json.dumps(manifest, indent=1))
    slices = manifest["buckets"]
    done = set(_read_lineage(index_dir)) if resuming else set()
    cutoff = manifest.get("tri_cutoff")  # None: resuming a complete lane
    todo = [s["pid"] for s in slices if s["bucket"] not in done]
    lap("slicing")

    results = (
        write_slices(
            spark, pages, slices, staging, todo, tokenizer,
            keep_text=doc_store == "copy",
        )
        if todo
        else {}
    )
    lap("write")

    def partials(table: str) -> list[str]:
        """The winning attempts' ``table`` files plus the committed
        buckets' (a resume): summed, the exact global counts."""
        return parquet_files(
            *(r["files"][table] for r in results.values()),
            *(out / table / f"bucket={b}" for b in sorted(done)),
        )

    tri_parts = partials("tri_partial")
    prune_lane(spark, results, dense_tris(spark, tri_parts, cutoff), host)
    lap("trigram_pass")

    fold_dictionary(spark, out, "terms", partials("terms_partial"))
    if cutoff is not None:
        fold_dictionary(spark, out, "tri_terms", tri_parts)
    lap("dictionaries")

    for b in range(n_buckets):
        if b in done:
            continue
        mine = sorted(
            (s["pid"], results[s["pid"]]) for s in slices if s["bucket"] == b
        )
        commit_slices(out, b, mine, BUCKET_TABLES)
        rows = [r for _, r in mine]
        _append_lineage(
            index_dir,
            {
                "bucket": b,
                **{
                    k: sum(r[k] for r in rows)
                    for k in ("n_docs", "n_postings", "sum_dl", "wall_ms")
                },
                "host": host,
                "bytes_in": _dir_bytes(out / "pages_indexed" / f"bucket={b}"),
                "bytes_out": sum(
                    _dir_bytes(out / t / f"bucket={b}")
                    for t in ("postings", "doc_lens", "tri_postings")
                ),
                # zero rows is a bucket whose trigrams are all unlisted: it
                # has no tri_postings dir, yet the lane covers it (engine
                # coverage guard)
                "n_tri_postings": sum(r["n_tri"] for r in rows),
                "finished_ts": time.strftime(
                    "%Y-%m-%dT%H:%M:%SZ", time.gmtime()
                ),
            },
        )
        if b in fail_buckets:
            raise RuntimeError(f"injected failure after bucket {b}")
    if cutoff is None:
        rebuild_tri_terms(spark, out, cutoff)

    lineage = _read_lineage(index_dir)
    n_docs_tot = sum(r["n_docs"] for r in lineage.values())
    sum_dl_tot = sum(r["sum_dl"] for r in lineage.values())
    write_stats(index_dir, n_docs_tot, sum_dl_tot / n_docs_tot if n_docs_tot else 0.0)
    shutil.rmtree(staging, ignore_errors=True)
    tot = {
        k: sum(r[k] for r in lineage.values())
        for k in ("n_docs", "n_postings", "bytes_in", "bytes_out", "wall_ms")
    }
    wall_s = max(tot["wall_ms"], 1) / 1000.0
    metrics = {
        **tot,
        "host": host,
        "docs_per_sec": tot["n_docs"] / wall_s,
        "postings_per_sec": tot["n_postings"] / wall_s,
        "bytes_by_table": bytes_by_table(out),
        "files_by_table": files_by_table(out),
    }
    lap("commit")
    return {**metrics, "phase_ms": phase_ms, "jobs": dag.nextJobId() - job0}
