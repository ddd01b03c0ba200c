"""Distributed BM25 query engine over the inverted index (SURVEY.md SS7.3).

Query lifecycle (replacing the reference's scan steps 3-9, SURVEY.md SS3.1):

  0. driver lane (``search_local``, and ``search`` without with_matches):
     a query with no rescue term that is not universal is served on the
     driver with zero Spark jobs when its reads fit
     ``indexer.DRIVER_READ_BYTES`` (bytes of the column chunks decoded).
     pyarrow reads only the postings row groups whose cached footer
     min/max on ``term`` cover a query term; field filters read doc_id,
     lang and url of the candidate docs the same way; rows pivot into tf
     lanes and score with lanes.eval_and_score on its numpy backend, the
     AST walk step 4 runs on Columns; top-k is cut by (score desc, doc_id
     asc).  search()
     hydrates the k urls likewise and returns a local relation.  Over the
     budget, at budget 0, or when a footer lacks a needed column, steps
     1-6 run unchanged.  Opening an engine runs no Spark job either: the
     dictionaries load with pyarrow and the Spark readers are created on
     first Spark-path use.
  0b. batches (``search_batch``): every query is parsed once and the
     batch's rescue needles resolve in one resolver call; the left-deep
     single-keyword chains _fused_chain_gates classifies share ONE
     queries-as-data join, and every other query runs the single-query
     lane of search_local (step 0, else steps 1-5 and one collect), its
     urls read in one lookup for the whole batch.
  1. parse query -> AST + QueryPlan (driver, pure Python, shared w/ oracle)
  2. posting retrieval: filter the term-sorted postings parquet with
     ``term IN (...)`` -- parquet row-group stats prune non-matching row
     groups (the files are sorted by term at build time)
  3. exact/excluded ("rescue") terms: case-insensitive containment match
     against text+url, mirroring the exact-term rescue at
     file_processing.rs:1350-1358 (``full_code_lower.contains(term)`` --
     true SUBSTRING semantics).  Served from the trigram substring-index
     lane (indexer._slice_tables, the public Zoekt/Code-Search design): the
     rarest <=3 LISTED trigrams of the needle (df <= the manifest's
     tri_cutoff; the build writes no list for the others) are intersected
     in the tri_postings table and contains() verifies only those
     candidates -- O(trigram df) per query.  A needle with a df-0 trigram
     is refuted.  Every other needle -- no listed trigram, rarest trigram
     above the cutoff, shorter than 3 bytes, or an index without the lane
     -- is verified by the plain containment scan.  One resolver
     (warm_rescue_needles) serves every needle of a query or a batch: it
     classifies the cold ones on the driver, runs at most one candidate
     collect and one verify collect for all of them, and memoizes each as
     an id list (or "too large") in one memo, _verified_ids;
     _rescue_frames turns the memo into one frame.  The reference pays a
     full scan on EVERY query.
  4. boolean evaluation + expression scoring per doc: one Column plan, no
     UDF.  A conditional aggregation (groupBy doc_id, the one shuffle;
     skipped when a single term is scored) pivots the rows into per-term
     tf lanes, and lanes.eval_and_score's Column backend emits the AST's
     evaluate + score_expr as one whole-stage-codegen expression -- the
     same op sequence the driver lane runs over numpy arrays
  5. top-k: orderBy(score desc, doc_id asc).limit(k) -- Spark's
     TakeOrderedAndProject turns this into a per-partition top-k + driver
     merge, no global sort
  6. hydrate top-k rows with urls from the doc store (k rows, broadcast)

Corpus statistics (N, avgdl, per-term df) are global index-time values per
the design decision in SURVEY.md SS7.0; df for rescue terms is the exact
containment-or-token count computed by the same job that finds candidates.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from probe_spark import elastic, oracle
from probe_spark.config import DEFAULT_BM25, BM25Params
from probe_spark.elastic import QueryPlan, Term, walk_terms
from probe_spark.lanes import COLUMNS, eval_and_score, score_rows, tf_part
from probe_spark.trigram import (
    TRI_DIRECT_FLOOR,
    TRI_DIRECT_FRAC,
    needle_tri_codes,
    tri_cutoff,
)


def _term_in(col: str, values) -> "F.Column":
    """``col IN (...)`` as ONE JVM-parsed SQL expression.

    ``Column.isin(values)`` converts each Python literal through py4j
    (~2 ms per element of driver time); fine for a single query's <=20
    terms, but the fused batch path filters postings by the term UNION
    of a whole query log (hundreds of terms), where the per-literal cost
    becomes a fixed driver stall that no executor can absorb.  The
    parsed expression is the same Catalyst ``In`` predicate, so parquet
    row-group pruning is unchanged."""
    vals = sorted(values)
    if not vals:
        return F.lit(False)
    quoted = ",".join(
        "'%s'" % v.replace("\\", "\\\\").replace("'", "\\'") for v in vals
    )
    return F.expr("%s IN (%s)" % (col, quoted))


def _union_all(frames: list[DataFrame]) -> DataFrame:
    """unionByName over a non-empty list of frames."""
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def _bag_plus_exclusions(plan: QueryPlan) -> bool:
    """True when the query is a pure OR-bag of optional single-keyword
    terms AND-combined with purely-excluded terms -- probe's dominant
    "keywords -noise" shape.  Matching for that shape is (any positive
    keyword present) AND (no excluded term present), and kept docs get an
    exact 0.0 contribution from every excluded term, so the score is the
    same f64 sum the lane scorer produces -- letting the engine score
    positives straight off the postings and apply exclusions as one
    anti-join instead of merging the excluded terms' rescue rows into
    the pivot."""
    if (
        plan.ast is None
        or plan.has_required_anywhere
        or not plan.excluded_terms
    ):
        return False
    chain: list = []

    def flat(e) -> None:
        if isinstance(e, elastic.And):
            flat(e.left)
            flat(e.right)
        else:
            chain.append(e)

    flat(plan.ast)
    pos_subtrees = []
    for node in chain:
        if isinstance(node, Term) and node.excluded:
            # the anti-join drops docs matching the excluded TERM's
            # candidate rows; that equals the tree's "no excluded keyword
            # present" only when the node is single-keyword and that
            # keyword is the term the candidate rows are keyed by
            if node.required or len(node.lowercase_keywords) != 1:
                return False
            if node.lowercase_keywords[0] not in plan.term_indices:
                return False
            continue
        pos_subtrees.append(node)
    # exactly one positive subtree: more than one And-child of positives
    # means conjunctive matching, which the bag path cannot express
    if len(pos_subtrees) != 1:
        return False
    sub = pos_subtrees[0]
    all_kws: list[str] = []
    for t in walk_terms(sub):
        if t.exact or t.excluded or t.required:
            return False
        if len(t.lowercase_keywords) > 1:
            return False
        all_kws.extend(t.lowercase_keywords)
    if not all_kws or len(all_kws) != len(set(all_kws)):
        return False

    def only_or(e) -> bool:
        if isinstance(e, Term):
            return True
        if isinstance(e, elastic.Or):
            return only_or(e.left) and only_or(e.right)
        return False

    return only_or(sub)


def _fused_chain_gates(
    plan: QueryPlan, excl_only_rescues: set[str]
) -> list[str] | None:
    """Classify a query for the fused queries-as-data batch plan.

    Returns the list of GATING terms -- the positive keywords that must
    ALL be present for a doc to match -- or None when the query cannot
    ride the fused plan.  An empty list means pure any-keyword matching
    (the score>0 filter implements it).  Exclusions are handled
    separately (idf-0 marker rows + max(excl) drop rule in the fused
    aggregation) and are not gates.

    Probe's parser emits LEFT-DEEP operator chains (elastic_query.rs
    grammar: implicit/explicit operators left-associate; only explicit
    parentheses nest a right subtree), and score_expr_bm25_optimized
    (ranking.rs:228-276) sums a left-deep chain in strict left-to-right
    keyword order -- exactly the fused plan's sorted-position ordered
    f64 aggregate.  Match semantics per evaluate_with_has_required
    (elastic_query.rs:150-285) reduce, for such chains, to gate counts:

    - required terms anywhere: match = ALL required present (plain terms
      never gate once a required exists) AND no And-connected excluded
      present  -> gates = required keywords
    - no required, every connector And: match = all positives present
      AND no excluded present                -> gates = positive keywords
    - no required, every positive connector Or (excluded tail may be
      And-connected): match = any positive   -> gates = []

    Bails on: parenthesized right subtrees (association and boolean
    structure both break), mixed And/Or positives without a required
    term ((a OR b) AND c is not count-expressible), multi-keyword /
    exact / missing-from-dictionary positives (compound splits sum
    inside the Term first -- a different f64 association), duplicate
    positive keywords (per-node double counting), Or-connected excluded
    terms (disjunctive exclusion), field filters, only-excluded queries,
    and any rescue term that is not purely excluded.  Excluded terms MAY
    be exact/quoted: their drop set is containment-served either way."""
    if (
        plan.ast is None
        or plan.filters
        or not plan.term_indices
        or plan.has_only_excluded_terms
        or oracle.rescue_terms(plan) != frozenset(excl_only_rescues)
    ):
        return None
    chain: list[tuple[str | None, Term]] = []

    def flat(e, conn: str | None) -> bool:
        if isinstance(e, Term):
            chain.append((conn, e))
            return True
        if isinstance(e, (elastic.And, elastic.Or)):
            if not isinstance(e.right, Term):
                return False  # parenthesized right subtree
            c = "and" if isinstance(e, elastic.And) else "or"
            if not flat(e.left, c):
                return False
            chain.append((c, e.right))
            return True
        return False

    if not flat(plan.ast, None):
        return None
    # an excluded element gates conjunctively iff its own connector AND
    # every connector after it are And: in a left-deep chain the nodes
    # above element i are exactly the joining nodes of elements i+1..n,
    # so any later Or makes the exclusion disjunctive ("+r -b OR c"
    # matches docs containing b whenever c is present)
    suffix_and = [True] * (len(chain) + 1)
    for i in range(len(chain) - 1, 0, -1):
        suffix_and[i] = suffix_and[i + 1] and chain[i][0] == "and"
    pos_kws: list[str] = []
    req_kws: list[str] = []
    pos_conns: list[str | None] = []
    for i, (conn, t) in enumerate(chain):
        if t.excluded:
            # (a single-element chain would be only-excluded: bailed)
            if conn != "and" or not suffix_and[i + 1]:
                return None
            for kw in t.lowercase_keywords:
                if kw not in plan.term_indices:
                    return None
            continue
        if t.exact or len(t.lowercase_keywords) != 1:
            return None
        kw = t.lowercase_keywords[0]
        if kw not in plan.term_indices:
            return None
        pos_kws.append(kw)
        pos_conns.append(conn)
        if t.required:
            req_kws.append(kw)
    if not pos_kws or len(pos_kws) != len(set(pos_kws)):
        return None
    if req_kws:
        return req_kws
    conns = {c for c in pos_conns if c is not None}
    if conns == {"and"}:
        return pos_kws
    if conns <= {"or"}:
        return []
    return None  # mixed And/Or positives without a required term


def _lineage_tri_rows(index_dir: Path, bucket_dir: str) -> int | None:
    """Lane rows a bucket (``bucket=<b>`` dir name) committed, from its
    lineage row; None when unrecorded.  Batch buckets log to
    ``bucket_<b>.json``, stream deltas to ``<b>.json``."""
    import json

    b = bucket_dir.split("=", 1)[1]
    name = f"bucket_{b}.json" if b.isdigit() else f"{b}.json"
    f = index_dir / "lineage" / name
    if not f.exists():
        return None
    return json.loads(f.read_text()).get("n_tri_postings")


def _read_stats(stats_dir) -> tuple[int, float]:
    """(n_docs, avgdl) from the singleton stats table via pyarrow -- one
    tiny file read, no Spark job per engine construction."""
    import pyarrow.parquet as pq

    from pathlib import Path as _P

    files = sorted(_P(stats_dir).glob("*.parquet")) or sorted(
        _P(stats_dir).rglob("*.parquet")
    )
    for f in files:  # Spark writers may emit empty part files
        t = pq.read_table(str(f))
        if t.num_rows:
            d = t.to_pydict()
            return int(d["n_docs"][0]), float(d["avgdl"][0])
    raise FileNotFoundError(f"no stats rows under {stats_dir}")


def index_fingerprint(index_dir) -> tuple:
    """Driver-side change marker for an index directory: lineage file
    names (a stream/batch commit adds one) + stats file stats (every
    ingest rewrites them).  One listdir + a few os.stat, no Spark jobs.
    Shared by the engine's check_refresh and by derived tables (the
    SymSpell suggest buckets) that must detect a stale source index."""
    p = Path(index_dir)
    lin = p / "lineage"
    names = (
        tuple(sorted(f.name for f in lin.glob("*.json")))
        if lin.exists()
        else ()
    )
    sp = p / "stats"
    stat_m = (
        tuple(
            sorted(
                (f.name, f.stat().st_mtime_ns, f.stat().st_size)
                for f in sp.glob("*.parquet")
            )
        )
        if sp.exists()
        else ()
    )
    return (names, stat_m)


def parquet_rows(table_dir) -> int:
    """Row count of a parquet directory from footer metadata (no Spark
    job; footers are a few KB regardless of table size).  Unreadable
    footers return a pessimistic huge count so size-guarded preloads stay
    off rather than loading an unknown quantity."""
    import pyarrow.parquet as pq

    total = 0
    for f in Path(table_dir).rglob("*.parquet"):
        try:
            total += pq.ParquetFile(str(f)).metadata.num_rows
        except Exception:  # unreadable footer: assume big
            return 1 << 62
    return total


def _int_column(footers, name: str) -> bool:
    """True when every file in ``footers`` stores ``name`` as an integer."""
    import pyarrow as pa

    if not footers:
        return False
    for _, md in footers:
        schema = md.schema.to_arrow_schema()
        if name not in schema.names or not pa.types.is_integer(
            schema.field(name).type
        ):
            return False
    return True


def read_footers(table) -> list | None:
    """(path, FileMetaData) of every parquet file a Spark reader of
    ``table`` (a file or a directory) lists: files and directories whose
    name starts with '_' or '.' are hidden, as Spark hides them.  None when
    a footer is unreadable."""
    import pyarrow.parquet as pq

    root = Path(table)
    files = (
        [root]
        if root.is_file()
        else sorted(
            f
            for f in root.rglob("*.parquet")
            if not any(
                part[0] in "_." for part in f.relative_to(root).parts
            )
        )
    )
    try:
        return [(str(f), pq.read_metadata(str(f))) for f in files]
    except (OSError, ValueError):  # unreadable footer: no driver read
        return None


def spark_schema(table, footers):
    """The schema ``spark.read.parquet(table)`` infers, built from the
    cached ``footers`` (read_footers of ``table``) with no Spark job.  Data
    columns come from the first file, as Spark reads them: the row schema
    a Spark writer stored in the footer, else the converted Arrow schema.
    Each ``key=value`` directory level appends a partition column, typed
    as Spark's inference types the index's partition values (bucket
    numbers and ``stream_*`` delta ids): int when every value is digits,
    else string.  None (the
    caller lets Spark infer) without footers or on a type that does not
    convert."""
    import json

    from pyspark.sql.pandas.types import from_arrow_schema
    from pyspark.sql.types import IntegerType, StringType, StructType

    if not footers:
        return None
    md = footers[0][1]
    row = (md.metadata or {}).get(b"org.apache.spark.sql.parquet.row.metadata")
    try:
        schema = (
            StructType.fromJson(json.loads(row))
            if row
            else from_arrow_schema(md.schema.to_arrow_schema())
        )
    except (TypeError, ValueError):
        return None
    parts: dict[str, list[str]] = {}
    for path, _ in footers:
        for d in Path(path).relative_to(table).parts[:-1]:
            key, eq, value = d.partition("=")
            if eq:
                parts.setdefault(key, []).append(value)
    for key, values in parts.items():
        digits = all(v.isdigit() for v in values)
        schema = schema.add(key, IntegerType() if digits else StringType())
    return schema


def pruned_read(footers, key: str, values, columns: list[str]):
    """The rows whose ``key`` is in ``values``, as one Arrow table of
    ``columns``, read with pyarrow from only the row groups whose footer
    min/max on ``key`` can hold a value (a row group without min/max
    stats is read).  None -- the caller runs its Spark plan -- when the
    footers are missing or unreadable, a file lacks one of ``columns``,
    or the row groups' ``columns`` chunks total more than
    indexer.DRIVER_READ_BYTES (at 0 nothing is read)."""
    import bisect

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from probe_spark import indexer

    budget = indexer.DRIVER_READ_BYTES
    if not footers or budget <= 0:
        return None
    vals = sorted(set(values))
    picked, total = [], 0
    for path, md in footers:
        paths = [md.schema.column(j).path for j in range(md.num_columns)]
        tops = [c.split(".")[0] for c in paths]
        if key not in paths or not set(columns) <= set(tops):
            return None
        kj = paths.index(key)
        groups = []
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            if not rg.num_rows:
                continue
            st = rg.column(kj).statistics
            if st is not None and st.has_min_max:
                try:
                    i = bisect.bisect_left(vals, st.min)
                    if i == len(vals) or vals[i] > st.max:
                        continue
                except TypeError:  # stats of another type: read the group
                    pass
            total += sum(
                rg.column(j).total_uncompressed_size
                for j, top in enumerate(tops)
                if top in columns
            )
            if total > budget:
                return None
            groups.append(g)
        if groups:
            picked.append((path, md, groups))
    schema = footers[0][1].schema.to_arrow_schema()
    parts = [
        pa.schema([schema.field(c) for c in columns]).empty_table()
    ]
    value_set = pa.array(vals, type=schema.field(key).type)
    for path, md, groups in picked:
        t = pq.ParquetFile(path, metadata=md).read_row_groups(
            groups, columns=columns
        )
        parts.append(t.filter(pc.is_in(t[key], value_set=value_set)))
    return pa.concat_tables(parts, promote_options="permissive")


def _filter_values(plan: QueryPlan) -> tuple[list, list, list]:
    """A query's field filters, normalized: (lang values, url substrings,
    url extensions) -- lang alias-normalized, the others lowercased."""
    from probe_spark.config import normalize_lang

    def vals(*fields):
        return [v for f in fields for v in plan.filters.get(f, [])]

    return (
        [normalize_lang(v) for v in vals("lang", "language")],
        [v.lower() for v in vals("file", "path", "filename", "dir", "directory")],
        [v.lower().lstrip(".") for v in vals("ext", "extension")],
    )


def _empty_matches(hits: DataFrame) -> DataFrame:
    """Typed empty rich-result columns for paths with no positive keyword
    postings (universal / stopword-only / only-excluded queries)."""
    return hits.withColumn(
        "matched_keywords", F.array().cast("array<string>")
    ).withColumn(
        "score_breakdown",
        F.map_from_arrays(
            F.array().cast("array<string>"), F.array().cast("array<double>")
        ),
    )


class _SparkReader:
    """An engine attribute holding the Spark reader of one index table,
    created on first use, which queries the driver lane serves never
    need.  The reader gets its schema from the cached footers
    (spark_schema), so creating it runs no Spark job; Spark infers it, at
    one job, only when the footers cannot say.  The table path comes from
    ``engine._reader_paths`` (None: the table is absent or disabled, and
    the attribute reads None); assigning the attribute replaces the
    reader until the next _reopen."""

    def __set_name__(self, owner, name: str) -> None:
        self.name = name

    def __get__(self, eng, owner=None):
        if eng is None:
            return self
        readers = eng._readers
        if self.name not in readers:
            path = eng._reader_paths.get(self.name)
            if path is None:
                readers[self.name] = None
            else:
                schema = spark_schema(path, eng._footers(str(path)))
                reader = eng.spark.read
                if schema is not None:
                    reader = reader.schema(schema)
                readers[self.name] = reader.parquet(str(path))
        return readers[self.name]

    def __set__(self, eng, value) -> None:
        eng._readers[self.name] = value


class SearchEngine:
    _postings_df = _SparkReader()
    _docs_df = _SparkReader()
    _terms_df = _SparkReader()
    _doc_lens_df = _SparkReader()
    _tri_post_df = _SparkReader()
    _tri_terms_df = _SparkReader()
    _suggest_buckets_df = _SparkReader()

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        params: BM25Params = DEFAULT_BM25,
    ):
        self.spark = spark
        self.index_dir = str(index_dir)
        self.params = params
        self._index_fp: tuple | None = None
        self._reopen()

    def _index_fingerprint(self) -> tuple:
        """Cheap driver-side change marker for the whole index: lineage
        file names (a stream/batch commit adds one) + stats file stats
        (every ingest rewrites them).  One listdir + a few os.stat per
        query, no Spark jobs -- the price of a cached engine staying fresh
        under incremental ingest.  The SymSpell manifest stat rides along
        so a live engine picks up a freshly built (or refreshed) suggest
        bucket table without reconstruction; it is NOT part of the bare
        index_fingerprint the manifest itself stores, which would be
        self-invalidating."""
        from probe_spark.symspell import MANIFEST

        mf = Path(self.index_dir) / MANIFEST
        sym = (
            (mf.stat().st_mtime_ns, mf.stat().st_size)
            if mf.exists()
            else None
        )
        return (index_fingerprint(self.index_dir), sym)

    def check_refresh(self) -> bool:
        """Reopen readers + caches iff the index changed on disk since the
        last query (incremental ingest / compaction).  Returns True when a
        refresh happened.  Called at the top of search()."""
        fp = self._index_fingerprint()
        if fp == self._index_fp:
            return False
        self._reopen()
        return True

    def pin_hot(self, materialize: bool = True) -> None:
        """Pin the serving-hot tables (postings, doc store) in executor
        storage for interactive serving: MEMORY_AND_DISK, so each
        executor keeps its partitions of the hot set resident and the
        per-query parquet scan becomes a cache read (measured ~25%
        single-query warm latency at sf0.1; the biggest win is the scan
        stage).  At 100-TB scale this is the standard hot-set pattern:
        the block manager caches what fits and evicts to disk -- never
        wrong, just colder.  Survives check_refresh reopens (the flag
        re-applies to the fresh readers; the stale pinned blocks are
        unpersisted).  ``materialize=False`` defers cache fill to the
        first query."""
        from pyspark import StorageLevel

        self._pin = True
        self._postings_df = self._postings_df.persist(
            StorageLevel.MEMORY_AND_DISK
        )
        self._docs_df = self._docs_df.persist(StorageLevel.MEMORY_AND_DISK)
        self._pinned_frames = (self._postings_df, self._docs_df)
        if materialize:
            self._postings_df.count()
            self._docs_df.count()

    def unpin(self) -> None:
        """Inverse of pin_hot: unpersist the pinned frames and clear the
        pin bookkeeping, so callers don't have to reach into private
        state (_pinned_frames / _pin) to undo a pin."""
        for frame in self._pinned_frames:
            frame.unpersist()
        self._pin = False
        self._pinned_frames = ()

    def _reopen(self) -> None:
        p = Path(self.index_dir)
        self._index_fp = self._index_fingerprint()
        # singleton stats come straight from the parquet file driver-side
        # (pyarrow): constructing an engine should not cost a Spark job
        self.n_docs, self.avgdl = _read_stats(p / "stats")
        # the build manifest records which tokenizer produced the postings;
        # more_like_this must analyze the seed doc with the SAME one
        self._tokenizer = "probe"
        # trigrams with df above the build's tri_cutoff have no posting
        # list; a manifest without it is a complete lane (all listed)
        self._tri_listed_max = float("inf")
        mf = p / "manifest.json"
        if mf.exists():
            import json

            try:
                manifest = json.loads(mf.read_text())
            except (OSError, ValueError):
                manifest = {}
            self._tokenizer = manifest.get("tokenizer", "probe")
            if manifest.get("tri_cutoff") is not None:
                self._tri_listed_max = manifest["tri_cutoff"]
        self._postings_path = str(p / "postings")
        # the doc store IS the ingest snapshot (text is written once at
        # build time); doc_len lives in the slim doc_lens table and is
        # only joined in for containment-rescue hits
        self._docs_path = str(
            p / "pages_indexed" if (p / "pages_indexed").exists() else p / "docs"
        )
        self._terms_path = str(p / "terms")
        # Spark readers are created on first Spark-path use (_SparkReader):
        # opening an engine reads footers and dictionaries with pyarrow and
        # runs no Spark job.  Footers are cached per table path, read on
        # first use; both caches live here, so an on-disk change (new delta
        # buckets included) drops them with the others.
        for old in getattr(self, "_pinned_frames", ()):
            old.unpersist()
        self._pinned_frames: tuple = ()
        self._readers: dict[str, DataFrame | None] = {}
        self._footer_cache: dict[str, list | None] = {}
        lens_path = p / "doc_lens"
        self._reader_paths: dict[str, str | None] = {
            "_postings_df": self._postings_path,
            "_docs_df": self._docs_path,
            "_terms_df": self._terms_path,
            "_doc_lens_df": str(lens_path) if lens_path.exists() else None,
            "_tri_post_df": None,
            "_tri_terms_df": None,
        }
        if getattr(self, "_pin", False):
            # re-apply hot pinning across an incremental-ingest reopen;
            # materialization is lazy (first query fills the cache)
            self.pin_hot(materialize=False)
        self._docs_text_df = None  # lazy: see _docs_text()
        # driver-side term-stats cache (standard IR engine practice): df
        # lookups repeat across queries, and a Spark job per query just to
        # read <=256 dictionary rows is pure fixed overhead.  Small
        # dictionaries load whole (pyarrow, below); at web scale the table
        # exceeds the bound and lookups fall back to the term-pruned
        # parquet read, memoized per term.
        self._df_cache: dict[str, int] = {}
        self._tri_df_cache: dict[int, int] = {}
        # the rescue memo (adaptive exact-form postings), filled only by
        # warm_rescue_needles: once a rescue needle's TRUE match set is
        # known and small, later queries serve it as literal postings rows
        # -- no doc-store touch at all.  Keyed by (needle,
        # exclude_filenames) because -n changes the haystack (text-only).
        # Value: the sorted verified id list, or None = known too large to
        # memoize (the verify scan stays in the plan).  Invalidation: this
        # dict lives in _reopen, so any on-disk index change
        # (check_refresh fingerprint) drops it with the others.
        self._verified_ids: dict[tuple[str, bool], list[int] | None] = {}
        # rescue-term df memo (same keying/invalidation): the df of a
        # rescue term is a corpus-wide constant of the index, so the
        # per-query df-count action is only paid on first sight
        self._rescue_df_cache: dict[tuple[str, bool], int] = {}
        self._full_dict = False
        # trigram substring-index lane (indexer._slice_tables): serves the
        # containment rescue in O(trigram df) instead of an O(corpus)
        # doc scan.  Enabled only when it COVERS the corpus: every
        # postings bucket must have a tri bucket (a pre-tri-lane index
        # that later received tri-writing stream deltas would otherwise
        # silently miss containment matches in the old buckets), unless
        # its lineage records that it wrote zero lane rows (all of its
        # trigrams unlisted).
        self._full_tri_dict = False
        self._tri_terms_path = p / "tri_terms"
        tri_root, post_root = p / "tri_postings", p / "postings"
        if (
            tri_root.exists()
            and self._tri_terms_path.exists()
            and post_root.exists()
        ):
            post_buckets = {d.name for d in post_root.glob("bucket=*")}
            tri_buckets = {d.name for d in tri_root.glob("bucket=*")}
            # layout guard, from the footer schemas: the lane stores
            # 24-bit byte-trigram CODES (int); an index from the
            # short-lived string-trigram layout would silently refute
            # every needle -- disable instead
            if (
                post_buckets
                and tri_buckets
                and all(
                    _lineage_tri_rows(p, b) == 0
                    for b in post_buckets - tri_buckets
                )
                and _int_column(self._footers(str(tri_root)), "tri")
            ):
                self._reader_paths["_tri_post_df"] = str(tri_root)
                self._reader_paths["_tri_terms_df"] = str(self._tri_terms_path)
        # SymSpell suggest lane (symspell.py): precomputed delete-
        # neighborhood table; loaded only when its manifest fingerprint
        # matches the live index, else suggest falls back to the brute
        # dictionary scan (stale lane = silently disabled, never wrong)
        from probe_spark import symspell

        (
            self._reader_paths["_suggest_buckets_df"],
            self._suggest_max_dist,
        ) = symspell.fresh_table(self.index_dir)
        # guard the whole-dictionary preload by VOCABULARY size, not doc
        # count (web vocab at 1M docs can be tens of millions of terms);
        # row counts come from the parquet footers
        terms = self._preload(self._terms_path, "term")
        if terms is not None:
            self._df_cache = terms
            self._full_dict = True

    # -- helpers ------------------------------------------------------------

    def _footers(self, table: str) -> list | None:
        """read_footers of ``table``, cached until the next _reopen."""
        if table not in self._footer_cache:
            self._footer_cache[table] = read_footers(table)
        return self._footer_cache[table]

    def _pruned(self, table: str, key: str, values, columns: list[str]):
        """pruned_read over ``table``'s cached footers."""
        return pruned_read(self._footers(table), key, values, columns)

    # dictionaries up to this many rows are read whole onto the driver
    _DICT_PRELOAD_ROWS = 2_000_000

    def _preload(self, table, key: str) -> dict | None:
        """{key: df} of a whole dictionary table, read with pyarrow, when
        its footers count at most _DICT_PRELOAD_ROWS rows; else None."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        footers = self._footers(str(table))
        if not footers or (
            sum(md.num_rows for _, md in footers) > self._DICT_PRELOAD_ROWS
        ):
            return None
        t = pa.concat_tables(
            [
                pq.ParquetFile(f, metadata=md).read(columns=[key, "df"])
                for f, md in footers
            ],
            promote_options="permissive",
        )
        return dict(zip(t[key].to_pylist(), t["df"].to_pylist()))

    def _dict_lookup(self, reader: str, key: str, keys: list) -> dict:
        """{key: df} for ``keys`` present in a dictionary too large to
        preload: a footer-pruned pyarrow read when it fits the driver
        budget, else a pruned Spark lookup."""
        t = self._pruned(self._reader_paths[reader], key, keys, [key, "df"])
        if t is not None:
            return dict(zip(t[key].to_pylist(), t["df"].to_pylist()))
        rows = (
            getattr(self, reader)
            .filter(F.col(key).isin(keys))
            .select(key, "df")
            .collect()
        )
        return {r[key]: int(r["df"]) for r in rows}

    def _docs(self) -> DataFrame:
        """The doc store; the engine reads _docs_df, bench.py's op_facets
        calls this."""
        return self._docs_df

    def _docs_text(self) -> DataFrame:
        """Doc store with text hydrated: identity for copy-mode layouts;
        reference-mode layouts join the slim store against the durable
        source (indexer.doc_text_df).  Only the containment-rescue verify
        needs this -- hot paths (hydration, field filters) stay on the
        slim frame and never pay the join."""
        if self._docs_text_df is None:
            from probe_spark.indexer import doc_text_df

            self._docs_text_df = doc_text_df(
                self.spark, self.index_dir, self._docs_df
            )
        return self._docs_text_df

    def _filtered_docs(self, plan: QueryPlan) -> DataFrame | None:
        """Apply field filters (F1/F3 web mapping): lang equality, url
        substring.  Returns None when no filters are active."""
        from probe_spark.config import LANG_ALIASES

        lang_vals, url_subs, ext_vals = _filter_values(plan)
        if not lang_vals and not url_subs and not ext_vals:
            return None
        docs = self._docs_df
        if lang_vals:
            # alias-normalize the doc label too (lang:rs == lang:rust,
            # search_runner.rs:1904-1921) -- tiny literal map, JVM-side
            alias_map = F.create_map(
                *[
                    x
                    for a, c in sorted(LANG_ALIASES.items())
                    for x in (F.lit(a), F.lit(c))
                ]
            )
            doc_lang = F.lower(F.col("lang"))
            docs = docs.filter(
                F.coalesce(alias_map[doc_lang], doc_lang).isin(lang_vals)
            )
        for s in url_subs:
            docs = docs.filter(F.lower(F.col("url")).contains(s))
        if ext_vals:
            # same regex as oracle.url_extension (shared semantics)
            ext = F.lower(
                F.regexp_extract(
                    F.col("url"), r"\.([A-Za-z0-9]+)([?#].*)?$", 1
                )
            )
            docs = docs.filter(ext.isin(ext_vals))
        return docs

    # above this many rescue candidates (lane candidates or verified
    # matches) the doc_id IN pushdown stops paying for itself: the
    # candidate frame stays lazy (semi-join) and the verified set is not
    # memoized
    _ISIN_CAP = 50_000

    # intersect at most this many (rarest) trigrams of a rescue needle --
    # each additional list narrows candidates but adds read volume; the
    # rarest 3 almost always shrink the set to near-truth (Zoekt uses the
    # same heuristic)
    _TRI_INTERSECT = 3

    # serve a needle from the trigram lane only when its rarest trigram's
    # df is under this fraction of the corpus (with a small-corpus floor):
    # a dense candidate set is spread across every parquet row group, so
    # the IN/semi-join pushdown prunes nothing and each verify action pays
    # a near-full doc-store scan PLUS the candidate machinery (measured 2x
    # a plain contains() scan at sf0.1 for a 45%-df needle).  Rare needles
    # -- the dominant case for real quoted/excluded terms at web scale --
    # stay index-served at O(df).  The df check is driver-side and free
    # (tri dictionary is preloaded/memoized).  The rule is
    # trigram.tri_cutoff, shared with the build; instances may override.
    _TRI_DIRECT_FRAC = TRI_DIRECT_FRAC
    _TRI_DIRECT_FLOOR = TRI_DIRECT_FLOOR
    # sentinel: lane PRESENT but declined for this needle (too common) --
    # the rescue verifies it with the plain scan
    _TRI_DECLINED = object()

    def _tri_dfs(self, tris: list[int]) -> dict[int, int]:
        """Per-trigram df from the tri dictionary: lazy whole-dictionary
        driver preload when small (pyarrow, no Spark job), pruned lookups
        memoized per trigram otherwise."""
        if not self._full_tri_dict and not self._tri_df_cache:
            full = self._preload(self._tri_terms_path, "tri")
            if full is not None:
                self._tri_df_cache = full
                self._full_tri_dict = True
        out = {t: self._tri_df_cache[t] for t in tris if t in self._tri_df_cache}
        missing = [t for t in tris if t not in out]
        if missing and not self._full_tri_dict:
            out.update(self._dict_lookup("_tri_terms_df", "tri", missing))
            for t in missing:
                self._tri_df_cache[t] = out.setdefault(t, 0)
        else:
            for t in missing:  # full dict: absence means df 0
                out[t] = 0
        return out

    def _tri_select(self, tris: list[int]):
        """The lane's one selection rule for a needle's trigram codes:
        [] when some trigram has df 0 (refuted: no doc can contain the
        needle), _TRI_DECLINED when the rarest trigram is above the
        selectivity cutoff or no trigram is listed, else the <=
        _TRI_INTERSECT rarest listed trigrams as (tri, df), rarest first."""
        dfs = self._tri_dfs(tris)
        ranked = sorted(tris, key=lambda t: dfs[t])
        if dfs[ranked[0]] == 0:
            return []
        sel = [(t, dfs[t]) for t in ranked if dfs[t] <= self._tri_listed_max]
        cut = tri_cutoff(
            self.n_docs, self._TRI_DIRECT_FRAC, self._TRI_DIRECT_FLOOR
        )
        if not sel or dfs[ranked[0]] > cut:
            return self._TRI_DECLINED
        return sel[: self._TRI_INTERSECT]

    def _tri_pick(self, needle: str):
        """_tri_select's verdict for one needle ([] refuted, _TRI_DECLINED,
        or the selected (tri, df) list); None when the lane cannot prune
        it -- no lane, or a needle shorter than one trigram."""
        if self._tri_post_df is None:
            return None
        tris = needle_tri_codes(needle)
        return self._tri_select(tris) if tris else None

    def _tri_cand_rows(self, picks: dict[str, list]) -> DataFrame:
        """Lazy (term, doc_id) trigram candidates of lane-served needles
        ({needle: selected (tri, df) list}): the docs holding every
        selected trigram of the needle, a SUPERSET of its containment
        matches (trigrams present but non-contiguous are possible).  One
        ``tri IN`` scan per needle; grouped -- one shuffle for all -- only
        when some needle selects more than one trigram."""
        rows = _union_all(
            [
                self._tri_post_df.filter(
                    F.col("tri").isin([c for c, _ in sel])
                ).select(
                    F.lit(t).alias("term"), F.lit(len(sel)).alias("n"), "doc_id"
                )
                for t, sel in sorted(picks.items())
            ]
        )
        if any(len(sel) > 1 for sel in picks.values()):
            # (tri, doc_id) rows are distinct (array_distinct at build), so
            # n rows <=> the doc holds ALL n selected trigrams
            rows = (
                rows.groupBy("term", "n", "doc_id")
                .count()
                .filter(F.col("count") == F.col("n"))
            )
        return rows.select("term", "doc_id")

    def _tri_candidates(self, picks: dict) -> dict:
        """The resolver's candidate step: {needle: candidates} for the
        lane-served needles among ``picks`` ({needle: _tri_pick verdict}).
        Needles whose rarest selected trigram has df <= _ISIN_CAP (so
        their candidates do too) get an id list, all from ONE collect; the
        others get their lazy (doc_id) frame -- provably too many for an
        IN pushdown, so the verify scan semi-joins it.  Cost is O(sum of
        the selected trigram dfs) -- never O(corpus)."""
        picks = {
            t: p for t, p in picks.items() if p and p is not self._TRI_DECLINED
        }
        out: dict = {
            t: self._tri_cand_rows({t: sel}).select("doc_id")
            for t, sel in picks.items()
            if sel[0][1] > self._ISIN_CAP
        }
        bounded = {t: sel for t, sel in picks.items() if t not in out}
        if bounded:
            out.update({t: [] for t in bounded})
            for r in self._tri_cand_rows(bounded).collect():
                out[r["term"]].append(int(r["doc_id"]))
        return out

    def _tri_candidate_ids(self, needle: str):
        """One needle through the resolver's candidate step: an id list, a
        lazy DataFrame over the IN cap, or _tri_pick's verdict ([]
        refuted, _TRI_DECLINED, None)."""
        pick = self._tri_pick(needle)
        return self._tri_candidates({needle: pick}).get(needle, pick)

    def _verify_scan(self, needle: str, cands, ex_fn: bool) -> DataFrame:
        """Lazy (term, doc_id) containment matches of one needle over the
        doc store: restricted to a candidate id list (one JVM-parsed
        ``doc_id IN`` -- a python-side .isin pays a py4j conversion per
        id), semi-joined to a lazy candidate frame, or a plain scan when
        ``cands`` is None.  -n checks the TEXT only."""
        docs = self._docs_text().select(
            "doc_id",
            F.lower(F.col("text")).alias("_t"),
            F.lower(F.col("url")).alias("_u"),
        )
        if isinstance(cands, list):
            docs = docs.filter(
                F.expr("doc_id IN (%s)" % ",".join(map(str, cands)))
            )
        elif cands is not None:
            docs = docs.join(cands, "doc_id", "leftsemi")
        hit = F.col("_t").contains(needle)
        if not ex_fn:
            hit = hit | F.col("_u").contains(needle)
        return docs.filter(hit).select(F.lit(needle).alias("term"), "doc_id")

    # memoize at most this many needles driver-side; a needle's verified
    # set is memoized only when it fits an IN pushdown (_ISIN_CAP) anyway
    _VERIFIED_NEEDLE_CAP = 128

    def warm_rescue_needles(self, needles: list[str], ex_fn: bool) -> None:
        """The one rescue resolver: memoize the TRUE containment match set
        of every cold needle in ``needles`` (filter-then-verify: trigram
        candidates, then contains()).

        Each cold needle is classified on the driver (_tri_pick): refuted
        needles memoize as empty with no job; lane-served ones get their
        candidates from ONE collect (_tri_candidates); declined,
        sub-trigram and lane-less needles are verified by the plain scan.
        Then ONE collect verifies them all: a ``doc_id IN`` branch per
        bounded candidate list, and a semi-join or plain-scan branch,
        capped at _ISIN_CAP + 1 rows, for each needle that can exceed the
        cap.  The memo (_verified_ids) holds each needle's sorted id list,
        or None when the set is too large -- _rescue_frames then keeps its
        lazy verify scan in the plan.  A verified set is a subset of its
        candidates, so a memoized needle never needs its candidates again.
        One needle costs at most one candidate collect and one verify
        collect, and so do B needles."""
        ex_key = bool(ex_fn)
        memo = self._verified_ids
        cold = sorted({t for t in needles if (t, ex_key) not in memo})
        if not cold:
            return
        if len(memo) + len(cold) > self._VERIFIED_NEEDLE_CAP:
            # make room for the WHOLE call up front: a call may exceed the
            # cap transiently, but never evicts needles it resolves
            memo.clear()
            cold = sorted(set(needles))
        cap = self._ISIN_CAP
        picks = {t: self._tri_pick(t) for t in cold}
        cands = self._tri_candidates(picks)
        branches: list[DataFrame] = []
        for t in cold:
            c = cands.get(t)
            if picks[t] == [] or (isinstance(c, list) and not c):
                # refuted, or trigrams present but never co-located
                memo[(t, ex_key)] = []
                continue
            branch = self._verify_scan(t, c, ex_key)
            if not isinstance(c, list):  # lazy candidates or a plain scan
                branch = branch.limit(cap + 1)
            branches.append(branch)
        if not branches:
            return
        got: dict[str, list[int]] = {}
        for r in _union_all(branches).collect():
            got.setdefault(r["term"], []).append(int(r["doc_id"]))
        for t in cold:
            if (t, ex_key) not in memo:
                ids = sorted(got.get(t, []))
                memo[(t, ex_key)] = ids if len(ids) <= cap else None

    def _rescue_frames(
        self, needles: list[str], ex_fn: bool
    ) -> DataFrame | None:
        """ONE (term, doc_id, tf=1) containment-match frame for the rescue
        ``needles``, resolved through warm_rescue_needles: literal rows for
        the memoized id lists, plus the lazy verify scan of each needle
        too large to memoize.  None when no doc contains any needle."""
        import pyarrow as pa

        self.warm_rescue_needles(needles, ex_fn)
        ex_key = bool(ex_fn)
        lit_terms: list[str] = []
        lit_ids: list[int] = []
        large: list[str] = []
        for t in sorted(set(needles)):
            ids = self._verified_ids[(t, ex_key)]
            if ids is None:
                large.append(t)
            else:
                lit_terms += [t] * len(ids)
                lit_ids += ids
        # too large to memoize: the verify scan stays in the plan, over
        # the lazy candidate frame (more than _ISIN_CAP candidates)
        cands = self._tri_candidates({t: self._tri_pick(t) for t in large})
        frames = [self._verify_scan(t, cands.get(t), ex_key) for t in large]
        if lit_ids:
            frames.insert(
                0,
                self.spark.createDataFrame(
                    pa.table(
                        {
                            "term": pa.array(lit_terms, pa.string()),
                            "doc_id": pa.array(lit_ids, pa.int64()),
                        }
                    )
                ),
            )
        if not frames:
            return None
        return _union_all(frames).select(
            "term", "doc_id", F.lit(1).cast("int").alias("tf")
        )

    def _postings_rows(self, terms, exclude_filenames: bool) -> DataFrame:
        """The postings rows of ``terms``.  -n (exclude_filenames) drops
        url-token-only matches (tf_url = url-token share of tf, written at
        build time); the surviving rows keep the FULL tf for scoring (see
        search() docstring)."""
        post = self._postings_df.filter(_term_in("term", terms))
        if not exclude_filenames:
            return post
        if "tf_url" not in self._postings_df.columns:
            raise ValueError(
                "exclude_filenames needs the tf_url postings column; "
                "this index predates it -- rebuild with build_index()"
            )
        return post.filter((F.col("tf") - F.col("tf_url")) > 0)

    def _term_rows(
        self, plan: QueryPlan, terms: list[str], *, exclude_filenames: bool
    ) -> DataFrame:
        """(term, doc_id, tf, doc_len) rows for the GIVEN terms only, with
        the containment rescue applied to those that are rescue terms
        (lets WandEngine fetch just the excluded-term rows)."""
        post = self._postings_rows(terms, exclude_filenames).select(
            "term", "doc_id", "tf", "doc_len"
        )
        rescues = sorted(t for t in oracle.rescue_terms(plan) if t in terms)
        if not rescues:
            return post
        scan_df = self._rescue_frames(rescues, exclude_filenames)
        if scan_df is None:
            # every rescue term was refuted or verified empty corpus-wide:
            # no doc contains any of them, token postings alone decide
            return post
        if self._doc_lens_df is not None:
            # rescue hits need doc_len for BM25 -- join the slim lengths
            # table (only the matched doc_ids flow into the join)
            scan_df = scan_df.join(self._doc_lens_df, "doc_id", "left").select(
                "term", "doc_id", "tf", "doc_len"
            )
        else:  # legacy layout: doc store carried doc_len
            scan_df = scan_df.join(
                self._docs_df.select("doc_id", "doc_len"), "doc_id", "left"
            ).select("term", "doc_id", "tf", "doc_len")
        # token tf wins over the rescue tf=1 (file_processing.rs:1350-1358
        # only appends when the token is absent)
        return (
            post.unionByName(scan_df)
            .groupBy("term", "doc_id")
            .agg(F.max("tf").alias("tf"), F.first("doc_len").alias("doc_len"))
        )

    def term_dfs(self, terms: list[str]) -> dict[str, int]:
        """Global df per term from the dictionary: driver cache first,
        term-pruned parquet lookup for misses (memoized)."""
        out = {t: self._df_cache[t] for t in terms if t in self._df_cache}
        missing = [t for t in terms if t not in out]
        if missing and not self._full_dict:
            out.update(self._dict_lookup("_terms_df", "term", missing))
            for t in missing:  # absent from dictionary => df 0, memoize too
                self._df_cache[t] = out.get(t, 0)
        return out

    def _query_dfs(
        self, plan: QueryPlan, cand: DataFrame, *, exclude_filenames: bool
    ) -> dict[str, int]:
        """Global df per query term: regular terms from the terms dictionary
        (driver cache / term-pruned parquet); rescue terms from the
        candidate rows (their containment scan defines their df).

        PURELY-excluded rescue terms skip the df job: their idf only gates
        the drop decision (a doc is dropped iff its excluded total > 0,
        i.e. tf > 0 and idf > 0 -- oracle.score_expr), and kept docs have
        tf = 0 for them, so ANY positive df yields identical results while
        saving a full doc-store containment scan action (the same
        observation the WAND engine applies to its synthetic exclusion
        blocks)."""
        rescues = oracle.rescue_terms(plan)
        regular = [t for t in plan.term_indices if t not in rescues]
        out: dict[str, int] = {}
        if regular:
            out.update(self.term_dfs(regular))
        excl_only = self._excl_only_rescues(plan)
        for t in excl_only:
            out[t] = 1
        scored_rescues = sorted(rescues - excl_only)
        ex_key = bool(exclude_filenames)
        for t in list(scored_rescues):
            if (t, ex_key) in self._rescue_df_cache:
                # a rescue term's df is a corpus-wide constant of the index
                # (invalidated with the other caches on refresh): the count
                # action is only paid on the term's first sighting
                out[t] = self._rescue_df_cache[(t, ex_key)]
                scored_rescues.remove(t)
        if scored_rescues:
            rows = (
                cand.filter(F.col("term").isin(scored_rescues))
                .groupBy("term")
                .agg(F.count(F.lit(1)).alias("df"))
                .collect()
            )
            got = {r["term"]: int(r["df"]) for r in rows}
            for t in scored_rescues:
                d = got.get(t, 0)
                out[t] = d
                self._rescue_df_cache[(t, ex_key)] = d
        return out

    @staticmethod
    def _excl_only_rescues(plan: QueryPlan) -> set[str]:
        """Rescue terms that are excluded and never positive -- the ones
        whose df is substitutable (see _query_dfs)."""
        rescues = oracle.rescue_terms(plan)
        pos_kws = (
            {
                kw
                for t in walk_terms(plan.ast)
                if not t.excluded
                for kw in t.lowercase_keywords
            }
            if plan.ast is not None
            else set()
        )
        return {
            t for t in rescues if t in plan.excluded_terms and t not in pos_kws
        }

    # -- driver lane ---------------------------------------------------------

    def _driver_hits(
        self,
        plan: QueryPlan,
        k: int,
        *,
        boost_coverage: bool,
        exclude_filenames: bool,
    ) -> list[tuple[int, float]] | None:
        """Top-k [(doc_id, score)] served on the driver with no Spark job,
        or None when the Spark plan serves the query: it is universal or
        has a rescue term, a table's footers lack a needed column, or a
        read exceeds the driver budget (pruned_read).  Postings come from
        the row groups whose footer term range covers a query term; field
        filters read doc_id/lang/url of the candidate docs; the scorer is
        lanes.eval_and_score, on the numpy backend where the Spark plan
        runs its Column backend, so the rows are the Spark plan's."""
        import numpy as np
        import pyarrow.compute as pc

        if plan.is_universal_query or oracle.rescue_terms(plan):
            return None
        cols = ["term", "doc_id", "tf", "doc_len"]
        if exclude_filenames:
            cols.append("tf_url")
        rows = self._pruned(self._postings_path, "term", plan.term_indices, cols)
        if rows is None:
            return None
        if exclude_filenames:
            # -n: url-token-only matches drop out, as in _term_rows
            rows = rows.filter(
                pc.greater(pc.subtract(rows["tf"], rows["tf_url"]), 0)
            )
        if any(_filter_values(plan)):
            ok = self._driver_filter(plan, pc.unique(rows["doc_id"]))
            if ok is None:
                return None
            rows = rows.filter(pc.is_in(rows["doc_id"], value_set=ok))
        dfs = self.term_dfs(list(plan.term_indices))
        idfs = {
            t: oracle.idf(self.n_docs, dfs.get(t, 0)) for t in plan.term_indices
        }
        ids, sc = score_rows(
            rows,
            plan.ast,
            dict(plan.term_indices),
            self.avgdl,
            idfs,
            self.params,
            boost_coverage,
        )
        return [(int(ids[i]), float(sc[i])) for i in np.lexsort((ids, -sc))[:k]]

    def _driver_filter(self, plan: QueryPlan, ids):
        """The ``ids`` that pass the query's field filters, as an Arrow
        array, from a pruned read of the doc store; None over the budget.
        Same semantics as _filtered_docs: alias-normalized lang equality,
        lowercase url containment, oracle.url_extension; a null label
        never passes its filter."""
        import pyarrow as pa

        from probe_spark.config import normalize_lang

        lang_vals, url_subs, ext_vals = _filter_values(plan)
        cols = ["doc_id"]
        if lang_vals:
            cols.append("lang")
        if url_subs or ext_vals:
            cols.append("url")
        docs = self._pruned(self._docs_path, "doc_id", ids.to_pylist(), cols)
        if docs is None:
            return None
        col = {c: docs[c].to_pylist() for c in cols}
        none = [None] * docs.num_rows

        def passes(lang, url) -> bool:
            if lang_vals and (lang is None or normalize_lang(lang) not in lang_vals):
                return False
            if url_subs or ext_vals:
                if url is None or not all(x in url.lower() for x in url_subs):
                    return False
                if ext_vals and oracle.url_extension(url) not in ext_vals:
                    return False
            return True

        return pa.array(
            [
                d
                for d, lang, url in zip(
                    col["doc_id"], col.get("lang", none), col.get("url", none)
                )
                if passes(lang, url)
            ],
            type=docs.schema.field("doc_id").type,
        )

    # -- public API ----------------------------------------------------------

    def search(
        self,
        query: str,
        k: int = 10,
        exact: bool = False,
        boost_coverage: bool = False,
        with_matches: bool = False,
        exclude_filenames: bool = False,
    ) -> DataFrame:
        """Top-k results as a DataFrame (rank, doc_id, url, score).
        exclude_filenames (reference -n, cli.rs:31-33 / issue #527): a term
        only matches a doc when it appears in the TEXT -- url-token-only
        credit is dropped from matching (tf for scoring keeps the full
        index value, mirroring the reference whose ranking tokenization is
        unconditionally filename-inclusive, file_processing.rs:1337).
        boost_coverage applies the R7 coverage boost (see oracle.py).
        with_matches adds the reference's rich-result columns
        (models.rs:34-88): matched_keywords (query keywords present in the
        doc, sorted) and score_breakdown (keyword -> its BM25 contribution,
        6dp) -- hydrated for the top-k rows only, one extra postings lookup
        bounded by k."""
        self.check_refresh()
        plan = elastic.create_query_plan(query, exact)
        if not with_matches:
            # driver lane: a local relation; only a url read over the
            # budget runs a Spark job (_urls)
            hits = self._driver_hits(
                plan,
                k,
                boost_coverage=boost_coverage,
                exclude_filenames=exclude_filenames,
            )
            if hits is not None:
                return self._hits_frame({"": hits}).drop("query_id")
        extra = ("matched_keywords", "score_breakdown") if with_matches else ()
        scored, cand, idfs, zero_score = self._match_frames(
            plan,
            boost_coverage=boost_coverage,
            exclude_filenames=exclude_filenames,
        )

        if zero_score:
            # universal / stopword-only / only-excluded: score-0 docs in
            # doc_id order
            hits = scored.orderBy(F.asc("doc_id")).limit(k)
            return self._ranked(_empty_matches(hits) if with_matches else hits, extra)

        hits = self._topk_hits(scored, k)
        if with_matches:
            hits = self._hydrate_matches(hits, cand, idfs)
        return self._ranked(hits, extra)

    def _hits_frame(
        self, hits: dict[str, list[tuple[int, float]]]
    ) -> DataFrame:
        """(query_id, rank, doc_id, url, score) of per-query top-k ``hits``
        ({query_id: [(doc_id, score)]}, rank = position in the list), rows
        in (query_id, rank) order, with every url from ONE _urls lookup.
        The frame is a local relation built from an Arrow table, so
        collecting it runs no Spark job."""
        import pyarrow as pa

        rows = [
            (qid, rank, d, sc)
            for qid in sorted(hits)
            for rank, (d, sc) in enumerate(hits[qid], 1)
        ]
        qids, ranks, ids, scores = zip(*rows) if rows else ((),) * 4
        url = self._urls(sorted(set(ids)))
        schema = pa.schema(
            [
                ("query_id", pa.string()),
                pa.field("rank", pa.int32(), nullable=False),
                ("doc_id", pa.int64()),
                ("url", pa.string()),
                ("score", pa.float64()),
            ]
        )
        return self.spark.createDataFrame(
            pa.table(
                [qids, ranks, ids, [url.get(d) for d in ids], scores],
                schema=schema,
            )
        )

    def _urls(self, ids: list[int]) -> dict[int, str]:
        """{doc_id: url} of ``ids`` from the doc store: a footer-pruned
        pyarrow read, or over the driver budget ONE Spark read filtered on
        the ids."""
        if not ids:
            return {}
        docs = self._pruned(self._docs_path, "doc_id", ids, ["doc_id", "url"])
        if docs is not None:
            return dict(
                zip(docs["doc_id"].to_pylist(), docs["url"].to_pylist())
            )
        rows = (
            self._docs_df.filter(
                F.expr("doc_id IN (%s)" % ",".join(map(str, ids)))
            )
            .select("doc_id", "url")
            .collect()
        )
        return {r["doc_id"]: r["url"] for r in rows}

    def _topk_hits(
        self, scored: DataFrame, k: int, exclude_doc_id: int | None = None
    ) -> DataFrame:
        """Deterministic top-k hydration shared by search / more_like_this /
        prefix_search: (score desc, doc_id asc) cut, url join on the k
        survivors only, re-sorted after the join (joins don't preserve
        order)."""
        if exclude_doc_id is not None:
            scored = scored.filter(F.col("doc_id") != exclude_doc_id)
        return (
            scored.orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
            .join(self._docs_df.select("doc_id", "url"), "doc_id", "left")
            .select("doc_id", "url", "score")
            .orderBy(F.desc("score"), F.asc("doc_id"))
        )

    def more_like_this(
        self,
        url: str,
        k: int = 10,
        max_terms: int = 8,
        min_term_len: int = 3,
        max_df_frac: float = 0.5,
    ) -> DataFrame:
        """More-like-this (the Elasticsearch MLT analog; the reference has
        no direct equivalent -- this is the index-native 'find similar
        pages' query a web-search deployment serves).  Scale shape: ONE
        doc-store fetch for the seed (url-keyed), ONE term-dictionary
        lookup for its candidate terms, then the standard disjunctive-bag
        postings query -- never a corpus scan, exactly like re-analyzing
        the seed doc when term vectors aren't stored.

        Term selection is integer-deterministic so a SQL oracle reproduces
        it exactly: candidates are the seed's tokens with
        ``len(term) >= min_term_len`` and dictionary
        ``df <= floor(max_df_frac * n_docs)`` (the df cap drops
        quasi-stopwords), ranked (seed tf desc, df asc, term asc), top
        ``max_terms``.  A float tf-idf ranking could flip ulp-ties across
        engines; the integer ordering cannot."""
        self.check_refresh()
        row = (
            self._docs_text()
            .filter(F.col("url") == url)
            .select("doc_id", "text")
            .head()
        )
        if row is None:
            raise KeyError(f"more_like_this: url not indexed: {url!r}")
        seed_id, text = int(row["doc_id"]), row["text"] or ""
        if self._tokenizer == "simple":
            toks = [t for t in text.split(" ") if t]
        else:
            from probe_spark.textkit import tokenize

            toks = tokenize(text)
        counts: dict[str, int] = {}
        for t in toks:
            counts[t] = counts.get(t, 0) + 1
        cand = sorted(t for t in counts if len(t) >= min_term_len)
        dfs = self.term_dfs(cand)
        df_cap = int(max_df_frac * self.n_docs)
        eligible = [t for t in cand if 0 < dfs.get(t, 0) <= df_cap]
        sel = sorted(eligible, key=lambda t: (-counts[t], dfs[t], t))
        sel = sel[:max_terms]
        if not sel:
            return self.spark.createDataFrame(
                [], "rank int, doc_id long, url string, score double"
            )
        plan = elastic.plan_from_index_terms(sel)
        scored, _cand, _idfs, _zero = self._match_frames(plan)
        return self._ranked(self._topk_hits(scored, k, exclude_doc_id=seed_id))

    def suggest(
        self,
        term: str,
        max_dist: int = 2,
        limit: int = 5,
        use_buckets: bool | None = None,
    ) -> DataFrame:
        """Spelling suggestion from the term DICTIONARY (did-you-mean):
        terms within levenshtein ``max_dist`` of the query, ranked
        (distance asc, df desc, term asc) -- all integer columns, so the
        ranking is reproducible bit-for-bit by a SQL oracle.

        Two lanes, identical rows.  Brute: one JVM-side levenshtein pass
        over the dictionary behind a ``|len(term) - len(q)| <= max_dist``
        prefilter -- vocabulary-sized, never corpus-sized.  SymSpell
        (``symspell.build_suggest_buckets``): the query's own delete
        variants (driver-side, <= 1+L+L(L-1)/2 strings) IN-filter the
        precomputed delete-neighborhood table -- parquet min/max prunes
        the sorted table to a handful of row groups -- then the exact
        levenshtein verifies candidates only.  The delete bound makes the
        candidate set a superset of every true match, so both lanes rank
        the same rows; at a web-scale vocabulary the bucket lookup is the
        only shape that doesn't scan the dictionary per keystroke.
        ``use_buckets``: None = auto (buckets when present, fresh, and
        built deep enough for ``max_dist``)."""
        self.check_refresh()
        # case-insensitive comparison (both sides folded) so a
        # case-preserving simple-tokenizer dictionary still suggests
        # 'Mango' for 'mangp'; the DISPLAYED term keeps its stored case.
        # Probe-tokenizer dictionaries are already lowercase -- no-op.
        # (The bucket table stores lower(term) variants for the same
        # reason, so both lanes fold identically.)
        q = term.lower()
        from probe_spark.symspell import delete_variants

        if use_buckets is None:
            # auto prefers brute for very long queries: past the
            # SESSION'S parquet IN-pushdown threshold (exact count vs the
            # live conf -- a user-supplied session may run the Spark
            # default of 10) the variant list would collapse to a
            # [min,max] range and the bucket scan loses its pruning --
            # still correct, but strictly worse than one dictionary pass
            threshold = int(
                self.spark.conf.get(
                    "spark.sql.parquet.pushdown.inFilterThreshold", "10"
                )
            )
            use_buckets = (
                self._suggest_buckets_df is not None
                and max_dist <= self._suggest_max_dist
                and len(delete_variants(q, max_dist)) <= threshold
            )
        if use_buckets:
            if (
                self._suggest_buckets_df is None
                or max_dist > self._suggest_max_dist
            ):
                raise ValueError(
                    "suggest(use_buckets=True): no fresh suggest_buckets "
                    f"table built for max_dist={max_dist} under "
                    f"{self.index_dir} (symspell.build_suggest_buckets)"
                )
            cand = (
                self._suggest_buckets_df.filter(
                    F.col("variant").isin(delete_variants(q, max_dist))
                )
                # (variant, term) pairs collapse to candidate terms; df is
                # a per-term constant so any surviving row carries it
                .dropDuplicates(["term"]).select("term", "df")
            )
        else:
            # prefilter on the FOLDED length: lower() can change a term's
            # length (Turkish dotted I), and dist below compares folded
            # forms -- a raw-length prefilter would drop rows the bucket
            # lane (built on lower(term)) keeps, breaking lane identity
            cand = self._terms_df.select(
                "term", F.col("df").cast("long").alias("df")
            ).filter(
                F.abs(F.length(F.lower("term")) - F.lit(len(q))) <= max_dist
            )
        return (
            cand.withColumn(
                "dist",
                F.levenshtein(F.lower(F.col("term")), F.lit(q)).cast("long"),
            )
            .filter(F.col("dist") <= max_dist)
            .orderBy(F.asc("dist"), F.desc("df"), F.asc("term"))
            .limit(limit)
        )

    def prefix_search(
        self, prefix: str, max_terms: int = 4, k: int = 10
    ) -> DataFrame:
        """Prefix / trailing-wildcard query (``prefix*``) served entirely
        from the index: the term DICTIONARY expands the prefix to its top
        ``max_terms`` concrete terms (df desc, term asc -- Lucene's
        top-terms-N rewrite, all-integer so a SQL oracle reproduces the
        selection exactly), then the standard disjunctive BM25 bag serves
        the expanded terms from the postings.  Scale shape: the dictionary
        is written range-partitioned + sorted by term
        (indexer.sorted_dictionary), so the StringStartsWith predicate
        pushes to the parquet scan and min/max prunes the expansion to
        the row groups spanning the prefix -- vocabulary row groups, not
        the vocabulary; and an over-broad wildcard can never explode the
        scoring plan because the rewrite is capped at ``max_terms`` terms
        -- the same guard Lucene's rewrite applies."""
        self.check_refresh()
        # case-fold the user prefix to match the index's vocabulary case:
        # the probe tokenizer stores lowercase terms, the simple tokenizer
        # preserves case (so 'Ma' must match dictionary term 'Mango')
        p = prefix.rstrip("*")
        if self._tokenizer != "simple":
            p = p.lower()
        if not p:
            raise ValueError("prefix_search: empty prefix")
        rows = (
            self._terms_df.select(
                "term", F.col("df").cast("long").alias("df")
            )
            .filter(F.col("term").startswith(p))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(max_terms)
            .collect()
        )
        sel = [r["term"] for r in rows]
        if not sel:
            return self.spark.createDataFrame(
                [], "rank int, doc_id long, url string, score double"
            )
        plan = elastic.plan_from_index_terms(sel)
        scored, _cand, _idfs, _zero = self._match_frames(plan)
        return self._ranked(self._topk_hits(scored, k))

    def facets(
        self,
        query: str,
        meta: DataFrame,
        top_per_facet: int = 3,
    ) -> DataFrame:
        """Faceted result grouping (the Elasticsearch terms-aggregation +
        top_hits analog; the reference's outline format groups hits by
        directory, search_output.rs:2658+ -- grouping by a page-metadata
        dimension is the web-corpus analog): score ALL docs matching
        ``query`` through the index, join the caller's ``meta`` table
        ((url, facet) -- lang, source domain, crawl snapshot, ...), and
        return per-facet match counts plus the top ``top_per_facet`` hits
        per facet by (6dp-rounded score desc, doc_id asc).  Scores are
        rounded BEFORE ranking so summation-order ulps can't flip a facet
        rank across engines.  Scale shape: the scored set stays
        distributed end to end -- one url-keyed join, one hash aggregate
        for the counts, one window partitioned by facet; nothing corpus-
        sized is collected, and a hot facet costs one window partition,
        not a driver loop."""
        from pyspark.sql.window import Window

        self.check_refresh()
        plan = elastic.create_query_plan(query, False)
        scored, _cand, _idfs, zero = self._match_frames(plan)
        if zero:
            m = scored.select("doc_id", F.lit(0.0).alias("score"))
        else:
            m = scored.select("doc_id", F.round("score", 6).alias("score"))
        j = m.join(self._docs_df.select("doc_id", "url"), "doc_id").join(
            meta.select("url", "facet"), "url"
        )
        # counts and ranks as two window functions over the SAME facet
        # partitioning: one exchange, one pass of the scoring pipeline (a
        # separate groupBy+join would re-run the candidate-match + BM25
        # chain a second time -- different exchange, no shuffle reuse)
        w = Window.partitionBy("facet").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        wc = Window.partitionBy("facet")
        return (
            j.withColumn("n_docs", F.count(F.lit(1)).over(wc).cast("long"))
            .withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= top_per_facet)
            .select("facet", "n_docs", "rank", "url", "score")
        )

    def search_batch(
        self,
        queries: dict[str, str],
        k: int = 10,
        exact: bool = False,
        boost_coverage: bool = False,
        exclude_filenames: bool = False,
    ) -> DataFrame:
        """Per-query top-k of a whole query SET as one frame: (query_id,
        rank, doc_id, url, score), sorted by (query_id, rank).  Rows are
        value-identical to per-query ``search()`` calls.

        Every query is parsed once, the batch's rescue needles resolve in
        ONE warm_rescue_needles call, and each query takes one of two
        lanes:

        - fused: the left-deep single-keyword chains _fused_chain_gates
          classifies (bags, "+required optional", conjunctive AND chains,
          "-excluded" tails), when boost_coverage is off, become DATA in
          one queries-as-data join (_fused_topk): one postings scan and
          one shuffle however many queries fuse;
        - single-query: every other query runs _local_hits, the lane of
          search_local (the driver lane, else one Spark top-k collect);
          rank is the position in its top-k list, and the urls of all
          these hits come from ONE _urls lookup.

        Measured on 4 cores over the sf0.1 perfbench corpus (5000 docs):
        at driver budget 0 the fused join serves a 32-query batch_log log
        in 1.8-2.5 s and 7 jobs, where a search_local loop takes
        9.0-10.0 s and 87-89 jobs; the branch-union plan (one scoring
        branch per query, a shared top-k window and url join) that served
        the other shapes before took 4.2-4.5 s and 21 jobs on the 17
        reference queries that do not fuse, where a search_local loop
        takes 1.8-2.9 s and 9 jobs."""
        if not queries:
            raise ValueError("search_batch: empty query set")
        self.check_refresh()
        plans = {
            qid: elastic.create_query_plan(q, exact)
            for qid, q in queries.items()
        }
        # one resolver call for the union of all rescue needles
        needles = sorted(
            {t for p in plans.values() for t in oracle.rescue_terms(p)}
        )
        if needles:
            self.warm_rescue_needles(needles, bool(exclude_filenames))
        gates_by_q: dict[str, list[str]] = {}
        if not boost_coverage:
            for qid, p in plans.items():
                g = _fused_chain_gates(p, self._excl_only_rescues(p))
                if g is not None:
                    gates_by_q[qid] = g
        loop = sorted(set(plans) - set(gates_by_q))
        frames = []
        if loop:
            frames.append(
                self._hits_frame(
                    {
                        qid: self._local_hits(
                            plans[qid],
                            k,
                            boost_coverage=boost_coverage,
                            exclude_filenames=exclude_filenames,
                        )
                        for qid in loop
                    }
                )
            )
            if not gates_by_q:
                return frames[0]
        frames.append(
            self._fused_topk(plans, gates_by_q, k, exclude_filenames)
        )
        return _union_all(frames).orderBy(F.asc("query_id"), F.asc("rank"))

    # bench.py and perfbench call the batch by this name
    search_batch_fused = search_batch

    def _fused_topk(
        self,
        plans: dict[str, QueryPlan],
        gates_by_q: dict[str, list[str]],
        k: int,
        exclude_filenames: bool,
    ) -> DataFrame:
        """search_batch's fused lane: (query_id, rank, doc_id, url, score)
        of the queries in ``gates_by_q`` ({query_id: _fused_chain_gates
        result}) from ONE queries-as-data join.

        The queries become DATA instead of plans: a broadcast (query_id,
        term, idf, pos) table is joined once against the term-pruned
        postings, scored per (query_id, doc_id) with the SAME
        keyword-order f64 sum as the lane scorer's left-deep AST, and
        top-k'd with one window -- one postings scan and one shuffle
        REGARDLESS of batch size, where a plan per query schedules O(B)
        stages, a driver cost more cores cannot absorb.

        Required / conjunctive matching fuses as a GATE COUNT: the
        broadcast query-term table carries a per-term gate flag and the
        per-query gate total, and docs survive iff they matched every
        gating term (one extra agg column, no extra shuffle).  Exclusions
        fuse as DATA in the same aggregation: each excluded term's match
        rows (postings union memoized containment frames, exactly
        _match_bag_excluded's drop set) ride the same broadcast
        query-term table as idf-0 marker rows, and max(excl) applies the
        drop rule -- no anti-join, no second sort of the scored set;
        marker rows never enter the score array (null-skipped by
        collect_list) so kept docs' scores stay f64-identical.  All
        excluded needles of the batch come from ONE _rescue_frames call.
        Rows are value-identical to per-query search() -- f64-exact: a
        one-element ordered sum is 0.0 + x == x for the single-term case
        and the multi-term association mirrors the lane scorer's --
        pinned by test_search_batch_identity."""
        fused = sorted(gates_by_q)
        # per-query split: positives feed the scoring join, excluded
        # terms become idf-0 marker rows in the same join (empty for
        # pure bags)
        pos_terms_by_q: dict[str, list[str]] = {}
        excl_terms_by_q: dict[str, list[str]] = {}
        for qid in fused:
            p = plans[qid]
            excl = set(p.excluded_terms)
            pos_terms_by_q[qid] = [
                t for t in p.term_indices if t not in excl
            ]
            excl_terms_by_q[qid] = [
                t for t in p.term_indices if t in excl
            ]
        all_terms = sorted(
            {t for qid in fused for t in pos_terms_by_q[qid]}
        )
        dfs = self.term_dfs(all_terms)
        qt_rows = []
        for qid in fused:
            p = plans[qid]
            gates = set(gates_by_q[qid])
            kws = [
                kw
                for t in walk_terms(p.ast)
                if not t.excluded
                for kw in t.lowercase_keywords
            ]
            for pos, kw in enumerate(kws):
                qt_rows.append(
                    (
                        qid,
                        kw,
                        oracle.idf(self.n_docs, dfs.get(kw, 0)),
                        pos,
                        1 if kw in gates else 0,
                        len(gates),
                        0,
                    )
                )
        # exclusions fuse as DATA in the same shuffle: each excluded
        # term contributes MARKER rows (idf 0, pos -1, excl 1) from
        # its token postings union its containment-match frames, and
        # the per-(query, doc) agg adds one max(excl) column -- a doc
        # survives iff no marker row reached it.  The 0.0 marker
        # contributions keep the ordered f64 sum bit-identical
        # (0.0 + 0.0 == 0.0 precedes every real term), and the
        # pre-refactor LeftAnti sort-merge join over the full scored
        # set -- the measured serving bottleneck -- disappears.
        ex_fn = bool(exclude_filenames)
        all_excl = sorted(
            {t for qid in fused for t in excl_terms_by_q[qid]}
        )
        xt_rows = sorted(
            (qid, t) for qid in fused for t in excl_terms_by_q[qid]
        )
        for qid, t in xt_rows:
            qt_rows.append(
                (qid, t, 0.0, -1, 0, len(set(gates_by_q[qid])), 1)
            )
        qt = self.spark.createDataFrame(
            qt_rows,
            "query_id string, term string, idf double, pos int, "
            "gate int, n_gate int, excl int",
        )
        post = self._postings_rows(
            sorted(set(all_terms) | set(all_excl)), exclude_filenames
        ).select(
            "term",
            "doc_id",
            "tf",
            "doc_len",
            F.lit(0).alias("src"),
        )
        # every excluded needle of the batch resolves in one resolver
        # call (two collects for all cold needles, not two per needle)
        hits = self._rescue_frames(all_excl, ex_fn) if all_excl else None
        if hits is not None:
            # markers never score, so doc_len is a placeholder; src=1
            # restricts these rows to marker qt rows below (a
            # containment hit is part of a term's DROP set, never of
            # its scoring postings)
            post = post.unionByName(
                hits.select(
                    "term",
                    "doc_id",
                    F.col("tf").cast(post.schema["tf"].dataType).alias("tf"),
                    F.lit(1)
                    .cast(post.schema["doc_len"].dataType)
                    .alias("doc_len"),
                    F.lit(1).alias("src"),
                )
            )
        tfp = tf_part(
            F.col("tf").cast("double"),
            F.col("doc_len").cast("double"),
            self.avgdl,
            self.params,
        )
        joined = post.join(F.broadcast(qt), "term").filter(
            # containment-marker rows (src=1) pair only with marker qt
            # rows; token postings pair with both (a token hit both
            # scores a positive term and drops an excluded one)
            ~((F.col("src") == 1) & (F.col("excl") == 0))
        )
        scored = (
            joined.select(
                "query_id",
                "doc_id",
                "pos",
                "gate",
                "n_gate",
                "excl",
                # marker rows contribute NULL (collect_list skips
                # nulls, so they never enter the score array; a 0.0
                # prefix would sum identically -- 0.0 + 0.0 == 0.0 --
                # but bloats every dropped doc's array for nothing)
                F.when(
                    F.col("excl") == 0, F.col("idf") * tfp
                ).alias("term_score"),
            )
            .groupBy("query_id", "doc_id")
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.when(
                            F.col("excl") == 0,
                            F.struct("pos", "term_score"),
                        )
                    )
                ).alias("arr"),
                F.sum("gate").alias("gates_hit"),
                F.first("n_gate").alias("n_gate"),
                F.max("excl").alias("excl_hit"),
            )
            # gate-count match rule: required / conjunctive-AND chains
            # need every gating term present (postings are unique per
            # (term, doc_id), so gates_hit counts present gate terms);
            # pure bags have n_gate 0 and pass through.  excl_hit = 1
            # means some excluded term's postings or containment set
            # reached this doc: the boolean drop rule, applied in the
            # SAME shuffle
            .filter(
                (F.col("gates_hit") == F.col("n_gate"))
                & (F.col("excl_hit") == 0)
            )
            .select(
                "query_id",
                "doc_id",
                F.aggregate(
                    "arr", F.lit(0.0), lambda acc, s: acc + s["term_score"]
                ).alias("score"),
            )
            .filter(F.col("score") > 0.0)
        )
        from pyspark.sql.window import Window

        w = Window.partitionBy("query_id").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        topk = scored.withColumn("rank", F.row_number().over(w)).filter(
            F.col("rank") <= k
        )
        return topk.join(
            self._docs_df.select("doc_id", "url"), "doc_id", "left"
        ).select("query_id", "rank", "doc_id", "url", "score")

    def files_only(
        self, query: str, exact: bool = False, exclude_filenames: bool = False
    ) -> DataFrame:
        """All matching docs as (doc_id, url) in doc_id order, NO ranking
        -- the reference's --files-only mode skips AST/ranking and emits
        unique files (search_runner.rs:699-735, cli.rs:24-26).  Unlimited
        by design (the reference returns every candidate file); CLI-level
        --max-results still applies downstream."""
        self.check_refresh()
        plan = elastic.create_query_plan(query, exact)
        scored, _cand, _idfs, zero_score = self._match_frames(
            plan, exclude_filenames=exclude_filenames
        )
        out = scored.select("doc_id")
        if zero_score:
            out = scored.select("doc_id", "url")
        else:
            out = out.join(self._docs_df.select("doc_id", "url"), "doc_id", "left")
        return out.select("doc_id", "url").orderBy(F.asc("doc_id"))

    def _match_frames(
        self,
        plan: QueryPlan,
        *,
        boost_coverage: bool = False,
        exclude_filenames: bool = False,
    ) -> tuple[DataFrame, DataFrame | None, dict[str, float] | None, bool]:
        """Shared match+score pipeline: returns (frame, cand, idfs,
        zero_score).  zero_score=True frames are (doc_id, url, score=0)
        doc sets (universal / stopword-only / only-excluded); otherwise
        the frame is (doc_id, score) of ALL matching docs, unranked and
        unlimited -- search() applies top-k, files_only() doesn't.  The
        query options arrive as arguments and are passed down; the engine
        itself holds no per-query state, so concurrent queries on one
        engine cannot see each other's options."""
        fdocs = self._filtered_docs(plan)

        if plan.is_universal_query:
            docs = fdocs if fdocs is not None else self._docs_df
            return (
                docs.select("doc_id", "url").withColumn("score", F.lit(0.0)),
                None,
                None,
                True,
            )

        if not plan.term_indices:
            # all keywords were stop words: no-match path (FIXTURES q18)
            return (
                self._docs_df
                .select("doc_id", "url")
                .withColumn("score", F.lit(0.0))
                .limit(0),
                None,
                None,
                True,
            )

        if _bag_plus_exclusions(plan) and oracle.rescue_terms(
            plan
        ) == self._excl_only_rescues(plan):
            return self._match_bag_excluded(
                plan, fdocs, boost_coverage, exclude_filenames
            )

        cand = self._term_rows(
            plan, list(plan.term_indices), exclude_filenames=exclude_filenames
        )

        if plan.has_only_excluded_terms:
            # everything NOT containing the excluded terms, score 0,
            # doc_id order (ranking.rs:239-245 + only-excluded fast path)
            docs = fdocs if fdocs is not None else self._docs_df
            return (
                docs.join(cand.select("doc_id").distinct(), "doc_id", "leftanti")
                .select("doc_id", "url")
                .withColumn("score", F.lit(0.0)),
                None,
                None,
                True,
            )

        # global df BEFORE field filters narrow the candidate set -- stats
        # are corpus-wide (SURVEY.md SS7.0), filters only restrict results
        dfs = self._query_dfs(plan, cand, exclude_filenames=exclude_filenames)

        if fdocs is not None:
            cand = cand.join(fdocs.select("doc_id"), "doc_id", "leftsemi")
        idfs = {t: oracle.idf(self.n_docs, dfs.get(t, 0)) for t in plan.term_indices}

        scored = self._score_lanes(
            cand, plan, list(plan.term_indices), idfs, boost_coverage
        )
        return scored, cand, idfs, False

    def _match_bag_excluded(
        self,
        plan: QueryPlan,
        fdocs: DataFrame | None,
        boost_coverage: bool,
        exclude_filenames: bool,
    ) -> tuple[DataFrame, DataFrame, dict[str, float], bool]:
        """Fast path for "keywords -noise" queries (_bag_plus_exclusions):
        positives scored by the lane scorer straight off the postings (no
        rescue union, no groupBy merge; excluded terms get no lane, which
        the scorer treats as absent), exclusions applied
        as ONE anti-join against the excluded terms' match rows (token
        postings ∪ containment, usually a memoized literal frame after
        the needle's first sighting).  Kept docs receive exactly 0.0 from
        every excluded term, so scores are f64-identical to the lane
        scorer; the q-set rank-identity suite pins this."""
        excl = set(plan.excluded_terms)
        pos_terms = [t for t in plan.term_indices if t not in excl]
        excl_terms = [t for t in plan.term_indices if t in excl]
        # positives are plain bag terms (never rescues): postings only
        pos_cand = self._term_rows(
            plan, pos_terms, exclude_filenames=exclude_filenames
        )
        dfs = self.term_dfs(pos_terms)
        idfs = {
            t: oracle.idf(self.n_docs, dfs.get(t, 0)) for t in pos_terms
        }
        for t in excl_terms:
            # excluded idf only gates the drop decision (tf>0) -- any
            # positive df is equivalent; mirror _query_dfs's substitution
            idfs[t] = oracle.idf(self.n_docs, 1)
        if fdocs is not None:
            pos_cand = pos_cand.join(
                fdocs.select("doc_id"), "doc_id", "leftsemi"
            )
        scored = self._score_lanes(
            pos_cand, plan, pos_terms, idfs, boost_coverage
        )
        # drop set = token postings ∪ containment matches of the excluded
        # terms, doc_id only -- no doc_len join, no (term, doc_id) merge:
        # the anti-join neither needs tf nor cares about duplicate rows
        drop = self._postings_rows(excl_terms, exclude_filenames).select(
            "doc_id"
        )
        hits = self._rescue_frames(sorted(excl_terms), exclude_filenames)
        if hits is not None:
            drop = drop.unionByName(hits.select("doc_id"))
        scored = scored.join(drop, "doc_id", "leftanti")
        return scored, pos_cand, idfs, False

    def _ranked(self, hits: DataFrame, extra: tuple[str, ...] = ()) -> DataFrame:
        from pyspark.sql.window import Window

        w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
        return hits.withColumn("rank", F.row_number().over(w)).select(
            "rank", "doc_id", "url", "score", *extra
        )

    def _hydrate_matches(
        self, hits: DataFrame, cand: DataFrame, idfs: dict[str, float]
    ) -> DataFrame:
        """Rich-result columns for the top-k rows (reference SearchResult,
        models.rs:34-88): matched_keywords = sorted query keywords with a
        posting for the doc; score_breakdown = keyword -> idf * tf_part
        (6dp).  One bounded lookup: candidate rows are semi-joined to the
        <= k hit doc_ids before aggregating, so the hydration cost tracks
        k, not the corpus.  When the engine applies a coverage boost (R7)
        the per-term entries are rescaled by score/sum(raw contributions)
        so the breakdown always sums to the REPORTED score."""
        tfp = tf_part(
            F.col("tf").cast("double"),
            F.col("doc_len").cast("double"),
            self.avgdl,
            self.params,
        )
        if idfs:
            idf_map = F.create_map(
                *[x for t, v in sorted(idfs.items()) for x in (F.lit(t), F.lit(v))]
            )
            contrib = F.coalesce(idf_map[F.col("term")], F.lit(0.0)) * tfp
        else:  # empty literal map would be void-typed and fail analysis
            contrib = F.lit(0.0)
        mk = (
            cand.join(hits.select("doc_id"), "doc_id", "leftsemi")
            .select("doc_id", "term", contrib.alias("c"))
            .groupBy("doc_id")
            .agg(
                F.array_sort(F.collect_list(F.struct("term", "c"))).alias("e")
            )
        )
        joined = hits.join(mk, "doc_id", "left")
        # rescale contributions to the reported score (identity when no
        # coverage boost; with boost, each entry carries its share of the
        # multiplier so the map still sums to `score`)
        rawsum = F.aggregate("e", F.lit(0.0), lambda acc, s: acc + s["c"])
        factor = F.when(rawsum > 0.0, F.col("score") / rawsum).otherwise(F.lit(1.0))
        joined = joined.select(
            *[c for c in joined.columns if c != "e"],
            F.transform("e", lambda s: s["term"]).alias("matched_keywords"),
            F.map_from_entries(
                F.transform(
                    "e", lambda s: F.struct(s["term"], F.round(s["c"] * factor, 6))
                )
            ).alias("score_breakdown"),
        )
        return joined.withColumn(
            "matched_keywords",
            F.coalesce("matched_keywords", F.array().cast("array<string>")),
        ).withColumn(
            "score_breakdown",
            F.coalesce(
                "score_breakdown",
                F.map_from_arrays(
                    F.array().cast("array<string>"), F.array().cast("array<double>")
                ),
            ),
        )

    def _score_lanes(
        self,
        cand: DataFrame,
        plan: QueryPlan,
        terms: list[str],
        idfs: dict[str, float],
        boost_coverage: bool,
    ) -> DataFrame:
        """(doc_id, score) of the docs the query keeps: lanes.eval_and_score
        on its Column backend, one Catalyst expression with no Python node.
        Each of ``terms`` becomes a tf lane column (0 where the doc has no
        row); a query term outside ``terms`` has no lane and counts as
        absent.  Rank identity vs the scalar oracle (evaluate +
        score_expr) is pinned bit-for-bit by tests/test_lanes.py and the
        q01-q25 suite."""
        if len(terms) == 1:
            # one row per doc already: postings are unique per (term,
            # doc_id) and the rescue merge groups by (term, doc_id) -- no
            # pivot, no shuffle, straight scan -> score -> top-k
            wide = cand.select("doc_id", "doc_len", F.col("tf").alias("_tf0"))
        else:
            # ONE conditional aggregation pivots the candidate rows into
            # per-term tf columns (the only shuffle)
            wide = cand.groupBy("doc_id").agg(
                F.first("doc_len").alias("doc_len"),
                *[
                    F.coalesce(
                        F.max(F.when(F.col("term") == t, F.col("tf"))),
                        F.lit(0),
                    ).alias(f"_tf{i}")
                    for i, t in enumerate(terms)
                ],
            )
        keep, score = eval_and_score(
            plan.ast,
            dict(plan.term_indices),
            {t: F.col(f"_tf{i}") for i, t in enumerate(terms)},
            F.col("doc_len"),
            self.avgdl,
            idfs,
            self.params,
            boost_terms=len(plan.term_indices) if boost_coverage else 0,
            ops=COLUMNS,
        )
        return wide.filter(keep).select("doc_id", score.alias("score"))

    def search_local(
        self,
        query: str,
        k: int = 10,
        exact: bool = False,
        timeout: float | None = None,
        boost_coverage: bool = False,
        exclude_filenames: bool = False,
    ) -> list[tuple[int, float]]:
        """Collect top-k as [(doc_id, score)] -- the oracle-comparable shape.
        ``timeout`` (seconds) cancels the query's Spark job group at the
        deadline and raises QueryTimeoutError, leaving the session usable
        (reference src/search/timeout.rs:1-43; probe_spark.watchdog).

        Serving fast path (guide SS1.2: don't compute what you throw
        away): this entry point returns (doc_id, score) only, so it skips
        search()'s url hydration join and the global rank window and
        collects the top-k cut straight off the scored frame -- one
        TakeOrderedAndProject action for single-term queries instead of
        the 2-3 jobs the hydrated DataFrame path pays.  The k rows and
        their order are identical to search(): same scored frame, same
        (score desc, doc_id asc) cut.  Rescue-free queries under the driver
        budget skip Spark altogether (_driver_hits, module docstring step
        0).  ``boost_coverage`` and ``exclude_filenames`` are search()'s
        options."""
        from probe_spark.watchdog import query_deadline

        with query_deadline(self.spark, timeout):
            self.check_refresh()
            return self._local_hits(
                elastic.create_query_plan(query, exact),
                k,
                boost_coverage=boost_coverage,
                exclude_filenames=exclude_filenames,
            )

    def _local_hits(
        self,
        plan: QueryPlan,
        k: int,
        *,
        boost_coverage: bool,
        exclude_filenames: bool,
    ) -> list[tuple[int, float]]:
        """search_local's top-k [(doc_id, score)] of a parsed query: the
        driver lane (_driver_hits), else one Spark collect of the top-k
        cut of _match_frames' scored frame."""
        hits = self._driver_hits(
            plan,
            k,
            boost_coverage=boost_coverage,
            exclude_filenames=exclude_filenames,
        )
        if hits is not None:
            return hits
        scored, _cand, _idfs, zero_score = self._match_frames(
            plan,
            boost_coverage=boost_coverage,
            exclude_filenames=exclude_filenames,
        )
        order = (
            [F.asc("doc_id")]
            if zero_score
            else [F.desc("score"), F.asc("doc_id")]
        )
        rows = (
            scored.orderBy(*order).limit(k).select("doc_id", "score").collect()
        )
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]
