"""Driver-contract query suite: one entry per operator family.

Each entry pairs a Spark DataFrame implementation with an ANSI-SQL oracle
string that DuckDB runs on the same parquet tables (see __spark_entry__.py).
Where the full probe tokenizer is involved (stemming, compound splits) SQL
cannot express the semantics; those entries omit the oracle and are covered
instead by the pytest rank-identity suite against the pure-Python oracle
(tests/test_spark_engine.py).

SQL-checked entries use a *shared simple tokenizer* -- split on single
spaces -- which is exact for the synthetic ``documents`` table (lowercase,
single-spaced, no punctuation).  That isolates the verification of the
TF/DF/IDF/BM25/boolean MATH from the verification of tokenization, which has
its own parity suite (tests/test_textkit.py).

Floating-point outputs are rounded to 6 decimals on BOTH sides so the
driver's value-hash compare is robust to summation-order ulp differences.

Operator labels reference SURVEY.md SS2 (e.g. A1 = per-doc TF, R1 = BM25).
"""

from __future__ import annotations

import math
import os
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BM25_K1 = 1.2
BM25_B = 0.75

# fixed demo query terms present in the documents vocabulary
TERMS2 = ("spark", "join")
TERMS3 = ("spark", "join", "window")


# (path, mtime) -> inferred Spark schema.  spark.read.parquet without a
# schema runs a footer-inference JOB on every call (~0.1 s of pure fixed
# cost per operator invocation); caching the INFERRED schema and passing
# it back via .schema() makes repeat reads job-free.  Metadata only --
# never rows -- and keyed by the newest mtime of the path and every file
# under it, so a table re-infers when a part file is added, removed or
# rewritten in place (a rewrite leaves the directory's own mtime alone).
_SCHEMA_CACHE: dict[tuple[str, float], object] = {}


def _pq_mtime(path: str) -> float:
    root = Path(path)
    files = root.rglob("*") if root.is_dir() else ()
    return max(f.stat().st_mtime for f in (root, *files))


def _read_pq(spark: SparkSession, path: str) -> DataFrame:
    try:
        key = (path, _pq_mtime(path))
    except OSError:
        return spark.read.parquet(path)
    sch = _SCHEMA_CACHE.get(key)
    if sch is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(sch).parquet(path)


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read_pq(spark, f"{sf_dir}/documents.parquet")


def _spread(spark: SparkSession, df: DataFrame, key: str = "doc_id") -> DataFrame:
    """Hash-repartition ``df`` by ``key`` to the session's core count when
    the source scan has FEWER partitions than that (guide SS2.5 "input
    skew": the sf documents/embeddings tables are single-file single-
    row-group parquet, so their scans are unsplittable one-task stages and
    every map-side operator after them runs on one core).  The shuffled
    payload is the small table itself (a few MB), and the key keeps the
    assignment deterministic under retries (never rand()).  At production
    scale the scan has natural parallelism (many files / row groups) and
    this is a no-op -- the condition, not the partition count, is what
    makes it scale-safe."""
    target = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, key)


def _table_rows(spark: SparkSession, sf_dir: str, table: str) -> int:
    """Exact row count from parquet footers (driver-side, no Spark job --
    the same pattern engine._read_stats uses).  Falls back to a Spark
    count if a footer is unreadable."""
    import pyarrow.parquet as pq

    p = Path(f"{sf_dir}/{table}.parquet")
    try:
        files = [p] if p.is_file() else sorted(p.rglob("*.parquet"))
        return sum(pq.ParquetFile(str(f)).metadata.num_rows for f in files)
    except Exception:
        return spark.read.parquet(str(p)).count()


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _read_pq(spark, f"{sf_dir}/embeddings.parquet")


def _vec_by_id(spark: SparkSession, sf_dir: str, vec_id: int) -> list[float]:
    """ONE embedding row.  On the driver when the read is bounded: only
    the row groups whose vec_id footer min/max cover the id are read with
    pyarrow (engine.pruned_read, under indexer.DRIVER_READ_BYTES);
    otherwise a Spark filter.  The float32 -> Python-float widening is
    exact on both paths.  Raises KeyError for an id the table lacks."""
    from probe_spark.engine import pruned_read, read_footers

    path = f"{sf_dir}/embeddings.parquet"
    t = pruned_read(read_footers(path), "vec_id", [vec_id], ["vec_id", "embedding"])
    if t is not None:
        rows = t.column("embedding").to_pylist()
    else:
        rows = [
            r["embedding"]
            for r in _emb(spark, sf_dir)
            .filter(F.col("vec_id") == vec_id)
            .select("embedding")
            .limit(1)
            .collect()
        ]
    if not rows:
        raise KeyError(f"vec_id {vec_id} is not in {path}")
    return [float(x) for x in rows[0]]


def _tokens(docs: DataFrame) -> DataFrame:
    """Simple tokenizer: one row per token occurrence (term order lost --
    only multiset semantics are used downstream)."""
    return docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("term")
    ).filter(F.col("term") != "")


_SQL_TOKENS = (
    "SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents"
)


# ---------------------------------------------------------------------------
# Search-core aggregations (SURVEY.md SS2.6) -- SQL-checked
# ---------------------------------------------------------------------------


def a1_term_tf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: per-doc term frequency for fixed query terms (ranking.rs:692-731)."""
    toks = _tokens(_docs(spark, sf_dir))
    return (
        toks.filter(F.col("term").isin(list(TERMS3)))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


A1_SQL = f"""
WITH tok AS ({_SQL_TOKENS})
SELECT doc_id, term, count(*)::BIGINT AS tf
FROM tok WHERE term IN {TERMS3!r} GROUP BY doc_id, term
"""


def a2_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: document frequency per term (ranking.rs:746-768)."""
    toks = _tokens(_docs(spark, sf_dir))
    return toks.distinct().groupBy("term").agg(
        F.count(F.lit(1)).alias("df")
    )


A2_SQL = f"""
WITH tok AS ({_SQL_TOKENS})
SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tok GROUP BY term
"""


def a3_doc_len(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: token count per doc (ranking.rs:729,735)."""
    toks = _tokens(_docs(spark, sf_dir))
    return toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("doc_len"))


A3_SQL = f"""
WITH tok AS ({_SQL_TOKENS})
SELECT doc_id, count(*)::BIGINT AS doc_len FROM tok GROUP BY doc_id
"""


def a4_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: corpus stats N + avgdl (compute_avgdl, ranking.rs:64-72)."""
    dl = a3_doc_len(spark, sf_dir)
    return dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("doc_len"), 6).alias("avgdl"),
    )


A4_SQL = f"""
WITH tok AS ({_SQL_TOKENS}),
dl AS (SELECT doc_id, count(*)::BIGINT AS doc_len FROM tok GROUP BY doc_id)
SELECT count(*)::BIGINT AS n_docs, round(avg(doc_len), 6) AS avgdl FROM dl
"""


def a5_idf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: IDF = ln(1 + (N - df + 0.5)/(df + 0.5)) (ranking.rs:117-146)."""
    docs = _docs(spark, sf_dir)
    n = docs.count()
    toks = _tokens(docs)
    df = (
        toks.filter(F.col("term").isin(list(TERMS3)))
        .distinct()
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
    )
    return df.select(
        "term",
        "df",
        F.round(
            F.log(1.0 + (F.lit(float(n)) - F.col("df") + 0.5) / (F.col("df") + 0.5)),
            6,
        ).alias("idf"),
    )


A5_SQL = f"""
WITH tok AS ({_SQL_TOKENS}),
n AS (SELECT count(*)::BIGINT AS n FROM documents),
df AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tok
       WHERE term IN {TERMS3!r} GROUP BY term)
SELECT term, df, round(ln(1 + (n.n - df + 0.5)/(df + 0.5)), 6) AS idf
FROM df, n
"""


# ---------------------------------------------------------------------------
# Ranking (SURVEY.md SS2.7) -- SQL-checked with the simple tokenizer
# ---------------------------------------------------------------------------

_BM25_CTE = f"""
WITH tok AS ({_SQL_TOKENS}),
dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tok GROUP BY doc_id),
st AS (SELECT (SELECT count(*) FROM documents)::BIGINT AS n, avg(dl) AS avgdl FROM dl),
tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tok
       WHERE term IN {{terms}} GROUP BY doc_id, term),
df AS (SELECT term, count(DISTINCT doc_id)::BIGINT AS df FROM tf GROUP BY term),
sc AS (SELECT tf.doc_id,
         sum( ln(1 + (st.n - df.df + 0.5)/(df.df + 0.5))
              * (tf.tf * ({BM25_K1} + 1))
              / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * dl.dl / st.avgdl))
         ) AS score
       FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN st
       GROUP BY tf.doc_id)
"""


def _bm25_scores(spark: SparkSession, sf_dir: str, terms: tuple[str, ...]) -> DataFrame:
    # ONE-ACTION shape (guide SS1.2/SS2.4): the old form spent three driver
    # actions (count job, stats collect, final query) with the corpus
    # tokenized twice across them.  Now (a) N comes from parquet footers
    # (driver-side, no job), (b) avgdl + per-term df stay a one-row
    # DataFrame that rides into the score as a broadcast crossJoin, so the
    # caller's single action computes everything, and (c) the per_doc
    # exchange is IDENTICAL in the stats and scoring subtrees, so
    # ReuseExchange materializes the tokenize+aggregate once.  The scan is
    # _spread first: the single-row-group file otherwise pins the
    # token-explode Generate to one core.  idf/tfp move from Python-float
    # literals to the same formulas as JVM column math; both sides round
    # to 6dp at the end (the declared cross-engine ulp guard), verified
    # value-exact vs the DuckDB oracle at sf0.01/0.1/1.0.
    docs = _spread(spark, _docs(spark, sf_dir))
    n = _table_rows(spark, sf_dir, "documents")
    toks = _tokens(docs)
    per_doc = toks.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("dl"),
        *[
            F.sum(F.when(F.col("term") == t, 1).otherwise(0))
            .cast("long")
            .alias(f"tf_{i}")
            for i, t in enumerate(terms)
        ],
    )
    # ONE tokenize pass (guide SS2.4): the broadcast-crossJoin form kept
    # the stats and scoring subtrees as two consumers BELOW the exchange,
    # so the Generate+HashAggregate ran twice (the shuffle, not the work
    # above it, is what ReuseExchange dedupes).  localCheckpoint
    # materializes the per-doc aggregate -- 1 narrow row per doc, the
    # scale-bounded intermediate -- and both the one-row stats (driver
    # head(), exact f64 over py4j) and the scoring projection read it.
    # idf/avgdl become Catalyst literals; ConstantFolding evaluates the
    # identical JVM expressions, so scores are bit-equal to the per-row
    # broadcast-column form (verified value-exact vs the DuckDB oracle at
    # sf0.01/0.1/1.0).
    per_doc = per_doc.localCheckpoint()
    srow = per_doc.agg(
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
            for i in range(len(terms))
        ],
    ).head()
    avgdl = float(srow["avgdl"])

    def tfp(tf_col):
        return (tf_col * (BM25_K1 + 1.0)) / (
            tf_col
            + BM25_K1
            * (1.0 - BM25_B + BM25_B * F.col("dl") / F.lit(avgdl))
        )

    score = None
    for i in range(len(terms)):
        df_i = float(srow[f"df_{i}"])
        idf_c = F.log(
            1.0
            + (F.lit(float(n)) - F.lit(df_i) + 0.5)
            / (F.lit(df_i) + 0.5)
        )
        part = F.when(
            F.col(f"tf_{i}") > 0, idf_c * tfp(F.col(f"tf_{i}"))
        ).otherwise(F.lit(0.0))
        score = part if score is None else score + part
    matched = None
    for i in range(len(terms)):
        cond = F.col(f"tf_{i}") > 0
        matched = cond if matched is None else matched | cond
    return per_doc.filter(matched).select("doc_id", score.alias("score"))


def r1_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R1+R3: BM25 top-10 for the OR-bag query {terms}, global stats,
    tie-break (score desc, doc_id asc) (ranking.rs:186-276,408-420)."""
    sc = _bm25_scores(spark, sf_dir, TERMS2)
    return (
        sc.select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )


R1_SQL = (
    _BM25_CTE.format(terms=repr(TERMS2))
    + "SELECT doc_id, round(score, 6) AS score FROM sc "
    "ORDER BY score DESC, doc_id ASC LIMIT 10"
)


def r2_boolean_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R2: boolean expression scoring '+spark +join -window': required terms
    must match, excluded term drops the doc, score = sum of required-term
    BM25 (ranking.rs:228-276)."""
    sc = _bm25_scores(spark, sf_dir, TERMS2)
    toks = _tokens(_docs(spark, sf_dir))
    has_both = (
        toks.filter(F.col("term").isin(list(TERMS2)))
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("k"))
        .filter(F.col("k") == 2)
        .select("doc_id")
    )
    has_window = toks.filter(F.col("term") == "window").select("doc_id").distinct()
    return (
        sc.join(has_both, "doc_id", "leftsemi")
        .join(has_window, "doc_id", "leftanti")
        .select("doc_id", F.round("score", 6).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(10)
    )


R2_SQL = (
    _BM25_CTE.format(terms=repr(TERMS2))
    + f"""
, req AS (SELECT doc_id FROM tf GROUP BY doc_id HAVING count(DISTINCT term) = 2),
exc AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'window')
SELECT sc.doc_id, round(sc.score, 6) AS score
FROM sc JOIN req USING (doc_id)
WHERE sc.doc_id NOT IN (SELECT doc_id FROM exc)
ORDER BY score DESC, doc_id ASC LIMIT 10
"""
)

# disjunctive bag + exclusion ('spark join -window'): ANY positive term
# matches, docs holding the excluded token are dropped; score = sum of the
# matched positive terms' BM25.  Containment == token semantics on this
# corpus (no vocabulary superstrings of 'window'; doc:// urls share no
# letters with it), so the token anti-join is the full exclusion set.
BAGEXCL_SQL = (
    _BM25_CTE.format(terms=repr(TERMS2))
    + """
, exc AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'window')
SELECT sc.doc_id, round(sc.score, 6) AS score
FROM sc
WHERE sc.doc_id NOT IN (SELECT doc_id FROM exc)
ORDER BY score DESC, doc_id ASC LIMIT 10
"""
)


# ---------------------------------------------------------------------------
# Boolean set operations (SURVEY.md SS2.8-2.9) -- SQL-checked
# ---------------------------------------------------------------------------


def u3_posting_intersection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U3/J3: AND = posting-list intersection via semi-joins
    (simd_ranking.rs:129-171)."""
    toks = _tokens(_docs(spark, sf_dir)).distinct()
    a = toks.filter(F.col("term") == TERMS2[0]).select("doc_id")
    b = toks.filter(F.col("term") == TERMS2[1]).select("doc_id")
    return a.join(b, "doc_id", "leftsemi")


U3_SQL = f"""
WITH tok AS ({_SQL_TOKENS})
SELECT DISTINCT doc_id FROM tok WHERE term = '{TERMS2[0]}'
INTERSECT
SELECT DISTINCT doc_id FROM tok WHERE term = '{TERMS2[1]}'
"""


def j4_exclusion_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: NOT = anti-join on the excluded term's postings
    (ranking.rs:239-245)."""
    docs = _docs(spark, sf_dir).select("doc_id")
    toks = _tokens(_docs(spark, sf_dir))
    has = toks.filter(F.col("term") == "vector").select("doc_id").distinct()
    return docs.join(has, "doc_id", "leftanti")


J4_SQL = f"""
WITH tok AS ({_SQL_TOKENS})
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM tok WHERE term = 'vector')
"""


def f1_field_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1/F3: lang: field filter + term match (filters.rs:98-368)."""
    docs = _docs(spark, sf_dir)
    toks = _tokens(docs.filter(F.col("lang") == "de"))
    hits = toks.filter(F.col("term") == TERMS2[0]).select("doc_id").distinct()
    return docs.join(hits, "doc_id", "leftsemi").select("doc_id", "lang")


F1_SQL = f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
             FROM documents WHERE lang = 'de')
SELECT DISTINCT d.doc_id, d.lang FROM documents d
JOIN tok t ON d.doc_id = t.doc_id AND t.term = '{TERMS2[0]}'
"""


def s5_grep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: grep mode -- regex match count per lang (grep.rs:13-29)."""
    docs = _docs(spark, sf_dir)
    return (
        docs.filter(F.col("text").rlike("(join|merge) (scan|sort)"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("matches"))
    )


S5_SQL = """
SELECT lang, count(*)::BIGINT AS matches FROM documents
WHERE regexp_matches(text, '(join|merge) (scan|sort)')
GROUP BY lang
"""


# ---------------------------------------------------------------------------
# Deduplication operators (training-data pipeline) -- SQL-checked
# ---------------------------------------------------------------------------


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5(text) group; keeps the min doc_id as canonical,
    reports group size per hash."""
    docs = _docs(spark, sf_dir)
    return (
        docs.select("doc_id", F.md5(F.col("text")).alias("h"))
        .groupBy("h")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("group_size"),
        )
    )


DEDUP_EXACT_SQL = """
SELECT md5(text) AS h, min(doc_id) AS canonical_doc_id,
       count(*)::BIGINT AS group_size
FROM documents GROUP BY md5(text)
"""

_SHINGLES_SPARK_N = 3


def _shingles(docs: DataFrame, n: int = _SHINGLES_SPARK_N) -> DataFrame:
    """Word n-gram shingles -- ONE implementation shared with the dedup
    module (probe_spark.dedup._shingles), so optimizer workarounds and
    shingle-definition changes land in one place (the round-4
    explode_outer fix originally needed two commits for two copies)."""
    from probe_spark.dedup import _shingles as _dedup_shingles

    return _dedup_shingles(docs, n)


_SQL_SHINGLES = f"""
SELECT DISTINCT doc_id, array_to_string(w[i:i+{_SHINGLES_SPARK_N - 1}], ' ') AS shingle
FROM (SELECT doc_id, w, unnest(range(1, len(w) - {_SHINGLES_SPARK_N} + 2)) AS i
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents))
"""


# per-task cap on the shingle->digest memo below: corpora with boilerplate
# repeat the same shingles endlessly (this one draws from a tiny vocabulary),
# but a 100-TB task stream of unique text must not grow the dict unboundedly
_MINHASH_MEMO_CAP = 1 << 20


def _minhash_sig_kernel(batches):
    """mapInArrow kernel for dedup_minhash: per doc, min over the shingle
    set of md5(seed || shingle) for 4 seeds.  Digests compare as 16-byte
    strings -- the same order as the hex comparison the oracle does.
    Everything is exact string/byte math: no float, no ulp.

    Two per-task optimizations (guide SS4.2/SS4.5, measured 1.19 s ->
    ~0.5 s at sf1.0):
      * shingles are SLICES of the original text (tokens are split on a
        single space, so ``' '.join(toks[i:i+n])`` == ``t[off[i] :
        off[i+n]-1]``) -- no per-shingle join/encode;
      * a per-task shingle->4-digest memo (size-capped) computes each
        distinct shingle's md5s once per task instead of once per
        occurrence; min() over duplicates is unchanged, so dropping the
        DISTINCT set build is free.
    """
    import pyarrow as pa
    from hashlib import md5

    n = _SHINGLES_SPARK_N
    pres = [f"{s}:".encode() for s in range(4)]
    memo: dict[str, tuple[bytes, bytes, bytes, bytes]] = {}
    for b in batches:
        ids = b.column("doc_id").to_pylist()
        texts = b.column("text").to_pylist()
        out_id = []
        outs = [[], [], [], []]
        band = []
        for did, t in zip(ids, texts):
            t = t or ""
            toks = t.split(" ")
            if len(toks) < n:
                continue
            # char offset of each token's start in t (single-space join
            # round-trips exactly, including empty tokens from runs of
            # spaces)
            offs = [0]
            for tok in toks:
                offs.append(offs[-1] + len(tok) + 1)
            m0 = m1 = m2 = m3 = None
            for i in range(len(toks) - n + 1):
                sh = t[offs[i] : offs[i + n] - 1]
                d = memo.get(sh)
                if d is None:
                    shb = sh.encode()
                    d = tuple(md5(pre + shb).digest() for pre in pres)
                    if len(memo) < _MINHASH_MEMO_CAP:
                        memo[sh] = d
                if m0 is None:
                    m0, m1, m2, m3 = d
                else:
                    if d[0] < m0:
                        m0 = d[0]
                    if d[1] < m1:
                        m1 = d[1]
                    if d[2] < m2:
                        m2 = d[2]
                    if d[3] < m3:
                        m3 = d[3]
            h0, h1 = m0.hex(), m1.hex()
            out_id.append(did)
            outs[0].append(h0[:8])
            outs[1].append(h1[:8])
            outs[2].append(m2.hex()[:8])
            outs[3].append(m3.hex()[:8])
            band.append(md5((h0 + h1).encode()).hexdigest()[:8])
        yield pa.RecordBatch.from_arrays(
            [pa.array(out_id, pa.int64())]
            + [pa.array(o, pa.string()) for o in outs]
            + [pa.array(band, pa.string())],
            ["doc_id", "mh0", "mh1", "mh2", "mh3", "band0"],
        )


def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (4 hashes) + one LSH band bucket per doc:
    minhash_s = lexicographic min of md5(seed || shingle).

    Shape (guide SS2.4 + SS4.2): min() is duplicate-insensitive, so
    neither the shingle DISTINCT nor the groupBy(doc_id) shuffle of the
    old explode formulation is needed -- the signature is doc-local
    math.  The old plan materialized ~tokens-per-doc generated rows
    into a per-partition Sort + SortAggregate + Exchange (min over
    strings cannot hash-aggregate; 5.5 s at sf1.0); this one is a
    single mapInArrow pass handing whole Arrow batches to C md5
    (hashlib), with _spread supplying the parallelism the one-row-group
    scan lacks (0.97 s at sf1.0; rows bit-identical -- strings only).
    A doc with < n tokens yields no shingles hence no row, exactly like
    the oracle's empty range().  The 100-TB story is unchanged: one
    pass over the corpus, zero shuffles beyond the (conditional) spread
    of a pathologically under-partitioned source."""
    return (
        _spread(spark, _docs(spark, sf_dir))
        .select("doc_id", "text")
        .mapInArrow(
            _minhash_sig_kernel,
            "doc_id long, mh0 string, mh1 string, mh2 string, "
            "mh3 string, band0 string",
        )
    )


DEDUP_MINHASH_SQL = f"""
WITH sh AS ({_SQL_SHINGLES}),
sig AS (SELECT doc_id,
        min(md5('0:' || shingle)) AS mh0, min(md5('1:' || shingle)) AS mh1,
        min(md5('2:' || shingle)) AS mh2, min(md5('3:' || shingle)) AS mh3
        FROM sh GROUP BY doc_id)
SELECT doc_id, substr(mh0,1,8) AS mh0, substr(mh1,1,8) AS mh1,
       substr(mh2,1,8) AS mh2, substr(mh3,1,8) AS mh3,
       substr(md5(mh0 || mh1),1,8) AS band0
FROM sig
"""


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash (60-bit, distinct-term weighted): per-bit majority vote over
    term hashes; hash = first 15 hex chars of md5(term) as int.  Computed in
    ONE vectorized mapInPandas pass (numpy bit matrix, probe_spark.dedup) --
    no 60-row-per-term explosion before a shuffle; the long-format
    definition survives only in the oracle."""
    from probe_spark.dedup import simhash_signatures

    return simhash_signatures(_docs(spark, sf_dir))


DEDUP_SIMHASH_SQL = f"""
WITH tok AS (SELECT DISTINCT doc_id, term FROM ({_SQL_TOKENS})),
hv AS (SELECT doc_id, ('0x' || substr(md5(term), 1, 15))::UBIGINT::BIGINT AS h
       FROM tok),
bits AS (SELECT doc_id, h, unnest(range(60)) AS b FROM hv),
vote AS (SELECT doc_id, b,
         sum(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) AS s
         FROM bits GROUP BY doc_id, b)
SELECT doc_id,
       sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
FROM vote GROUP BY doc_id
"""


# drop shingles shared by more than this many docs from near-dup joins: a
# boilerplate 3-gram in 10^6 docs would otherwise create 10^12 candidate
# pairs in ONE skewed join key; hot shingles carry no near-dup signal
_SHINGLE_DF_CAP = 50


def _capped_shingles(docs: DataFrame) -> DataFrame:
    sh = _shingles(docs)
    hot = (
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("sdf"))
        .filter(F.col("sdf") > _SHINGLE_DF_CAP)
        .select("shingle")
    )
    # the hot list is heavy-hitters only -- small by construction, so the
    # anti-join broadcasts instead of shuffling the full shingle table
    return sh.join(F.broadcast(hot), "shingle", "leftanti")


_SQL_CAPPED_SHINGLES = f"""
SELECT * FROM sh WHERE shingle NOT IN (
  SELECT shingle FROM sh GROUP BY shingle HAVING count(*) > {_SHINGLE_DF_CAP})
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram Jaccard near-dup pairs: candidate pairs share a (df-capped)
    shingle, jaccard = |A inter B| / |A union B| over the capped shingle
    space, threshold 0.5.  The df cap bounds the hottest join key (see
    _SHINGLE_DF_CAP) -- without it one boilerplate shingle explodes the
    self-join quadratically at web scale."""
    sh = _capped_shingles(_spread(spark, _docs(spark, sf_dir)))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    pairs = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        pairs.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6
            ),
        )
        .filter(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
    )


DEDUP_JACCARD_SQL = f"""
WITH sh AS ({_SQL_SHINGLES}),
shc AS ({_SQL_CAPPED_SHINGLES}),
sizes AS (SELECT doc_id, count(*)::BIGINT AS n FROM shc GROUP BY doc_id),
pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS inter
          FROM shc a JOIN shc b USING (shingle)
          WHERE a.doc_id < b.doc_id GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b,
       round(inter / (sa.n + sb.n - inter), 6) AS jaccard
FROM pairs
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter / (sa.n + sb.n - inter) >= 0.5
"""


_CONTAINMENT_MIN = 0.8  # |A inter B| / |A| threshold


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC containment pairs (Broder's containment coefficient):
    doc_a is flagged as contained in doc_b when
    |shingles(A) inter shingles(B)| / |shingles(A)| >= 0.8 -- the
    quote-inclusion / aggregator-page case symmetric Jaccard misses (a
    short doc quoted inside a long one has low Jaccard but containment
    ~1; training pipelines drop the contained copy, e.g. Dolma's
    paragraph-level dedup).  Directional: (a,b) and (b,a) are distinct
    verdicts.  Same scale guards as the Jaccard entry: the self-join key
    is a df-capped shingle, never the corpus."""
    sh = _capped_shingles(_spread(spark, _docs(spark, sf_dir)))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    pairs = (
        sh.alias("a")
        .join(sh.alias("b"), "shingle")
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        pairs.join(
            sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed(
                "n", "na"
            ),
            "doc_a",
        )
        # filter on the RAW ratio (matching the SQL's WHERE) -- filtering
        # on the rounded column would admit ratios in [MIN - 5e-7, MIN)
        # that the oracle rejects; rounding is display-only
        .filter(F.col("inter") / F.col("na") >= _CONTAINMENT_MIN)
        .withColumn(
            "containment", F.round(F.col("inter") / F.col("na"), 6)
        )
        .select("doc_a", "doc_b", "containment")
    )


DEDUP_CONTAINMENT_SQL = f"""
WITH sh AS ({_SQL_SHINGLES}),
shc AS ({_SQL_CAPPED_SHINGLES}),
sizes AS (SELECT doc_id, count(*)::BIGINT AS n FROM shc GROUP BY doc_id),
pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*)::BIGINT AS inter
          FROM shc a JOIN shc b USING (shingle)
          WHERE a.doc_id <> b.doc_id GROUP BY a.doc_id, b.doc_id)
SELECT doc_a, doc_b, round(inter / sa.n, 6) AS containment
FROM pairs JOIN sizes sa ON sa.doc_id = doc_a
WHERE inter / sa.n >= {_CONTAINMENT_MIN}
"""


def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE near-dup pair pipeline with both scale guards
    (probe_spark.dedup): exact-text collapse (lossless -- a mass-duplicate
    flood contributes ONE row per band bucket), 8 minhashes -> 4 bands x 2
    rows over the representatives, per-bucket cap (keep lowest doc_ids,
    mirrored in the oracle), exact-Jaccard verify on candidates only, then
    expansion back to document pairs (cross pairs inherit the rep verdict,
    intra-group pairs are jaccard 1).  The join key is always a band bucket
    of DISTINCT texts bounded by the cap -- never the corpus, never a
    10^6-copy cluster."""
    from probe_spark.dedup import minhash_pairs

    return minhash_pairs(_docs(spark, sf_dir))


def _sql_shingles_from(rel: str) -> str:
    n = _SHINGLES_SPARK_N
    return f"""SELECT DISTINCT doc_id, array_to_string(w[i:i+{n - 1}], ' ') AS shingle
FROM (SELECT doc_id, w, unnest(range(1, len(w) - {n} + 2)) AS i
      FROM (SELECT doc_id, string_split(text, ' ') AS w FROM {rel}))"""


def _sql_minhash_rep_pairs() -> str:
    """CTE chain (memb -> repdocs -> ... -> reppairs) mirroring
    dedup.minhash_rep_pairs over exact-collapsed representatives, including
    the band-bucket cap."""
    from probe_spark.dedup import BAND_BUCKET_CAP

    kept = ",\n".join(
        f"""k{i} AS (SELECT doc_id, b{i} FROM (
  SELECT doc_id, b{i}, row_number() OVER (PARTITION BY b{i} ORDER BY doc_id) AS rn
  FROM bands) WHERE rn <= {BAND_BUCKET_CAP})"""
        for i in range(4)
    )
    cand = "\n  UNION\n".join(
        f"""  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b FROM k{i} x JOIN k{i} y
    ON x.b{i} = y.b{i} AND x.doc_id < y.doc_id"""
        for i in range(4)
    )
    return f"""memb AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS rep
         FROM documents),
repdocs AS (SELECT d.doc_id, d.text FROM documents d
            JOIN memb m ON m.doc_id = d.doc_id WHERE m.rep = d.doc_id),
sh AS ({_sql_shingles_from("repdocs")}),
sig AS (SELECT doc_id,
        min(md5('0:' || shingle)) AS mh0, min(md5('1:' || shingle)) AS mh1,
        min(md5('2:' || shingle)) AS mh2, min(md5('3:' || shingle)) AS mh3,
        min(md5('4:' || shingle)) AS mh4, min(md5('5:' || shingle)) AS mh5,
        min(md5('6:' || shingle)) AS mh6, min(md5('7:' || shingle)) AS mh7
        FROM sh GROUP BY doc_id),
bands AS (SELECT doc_id, md5(mh0 || mh1) AS b0, md5(mh2 || mh3) AS b1,
                 md5(mh4 || mh5) AS b2, md5(mh6 || mh7) AS b3 FROM sig),
{kept},
cand AS (
{cand}),
sizes AS (SELECT doc_id, count(*)::BIGINT AS n FROM sh GROUP BY doc_id),
inter AS (SELECT c.doc_a, c.doc_b, count(*)::BIGINT AS inter
          FROM cand c
          JOIN sh sa ON sa.doc_id = c.doc_a
          JOIN sh sb ON sb.doc_id = c.doc_b AND sb.shingle = sa.shingle
          GROUP BY c.doc_a, c.doc_b),
reppairs AS (SELECT doc_a, doc_b,
                    round(inter / (sa.n + sb.n - inter), 6) AS jaccard
             FROM inter
             JOIN sizes sa ON sa.doc_id = doc_a
             JOIN sizes sb ON sb.doc_id = doc_b
             WHERE inter / (sa.n + sb.n - inter) >= 0.5)"""


# document-level pairs = rep pairs expanded through the exact-collapse map
_SQL_MINHASH_PAIRS_BODY = f"""
WITH {_sql_minhash_rep_pairs()}
SELECT least(ma.doc_id, mb.doc_id) AS doc_a,
       greatest(ma.doc_id, mb.doc_id) AS doc_b, p.jaccard
FROM reppairs p
JOIN memb ma ON ma.rep = p.doc_a
JOIN memb mb ON mb.rep = p.doc_b
UNION ALL
SELECT a.doc_id, b.doc_id, round(1.0, 6)
FROM memb a JOIN memb b ON a.rep = b.rep AND a.doc_id < b.doc_id
"""

DEDUP_MINHASH_PAIRS_SQL = _SQL_MINHASH_PAIRS_BODY


def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS (the consumer the signature alone lacks):
    60-bit signature -> 4 bands x 15 bits -> candidate pairs share >= 1
    band bucket -> popcount verify hamming <= 3.

    Pigeonhole makes the blocking recall-LOSSLESS at this threshold: a pair
    within Hamming distance 3 differs in at most 3 of the 4 bands, so at
    least one band matches exactly.  Output is therefore EXACTLY the set of
    pairs with hamming <= 3, and the DuckDB oracle checks the exhaustive
    all-pairs definition -- a stronger gate than mirroring the bands.

    Scale guards (probe_spark.dedup, both LOSSLESS so the exhaustive oracle
    still holds): docs with identical signatures collapse to one
    representative before banding (a mass-duplicate flood is ONE band row),
    and band buckets larger than the cap are re-split by a second pigeonhole
    over the remaining 45 bits (4 sub-bands; <=3 differing bits touch at
    most 3, so one sub-band always matches)."""
    from probe_spark.dedup import simhash_pairs

    return simhash_pairs(_docs(spark, sf_dir))


# exhaustive oracle: every pair with hamming <= 3 (see dedup_simhash_pairs
# docstring for why banding provably finds all of them)
DEDUP_SIMHASH_PAIRS_SQL = f"""
WITH siga AS ({DEDUP_SIMHASH_SQL}), sigb AS ({DEDUP_SIMHASH_SQL})
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::INT AS hamming
FROM siga a JOIN sigb b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
"""


# ---------------------------------------------------------------------------
# Near-dup cluster resolution + end-to-end corpus dedup -- SQL-checked
# (pairs are an intermediate; clusters/canonical docs are what a training
#  pipeline actually consumes)
# ---------------------------------------------------------------------------

# recursive reachability closure: label L is reachable from node V; the
# component id is min(L).  Mirrors dedup.connected_components exactly (both
# compute min-reachable-id over the undirected pair graph).
_SQL_CC = """
edges AS (SELECT doc_a AS src, doc_b AS dst FROM {pairs}
          UNION ALL SELECT doc_b, doc_a FROM {pairs}),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM {nodes}
  UNION
  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.node),
cc AS (SELECT node, min(label) AS cluster_id FROM reach GROUP BY node)
"""


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTER resolution -- the consumer the pair operators feed:
    connected components over the minhash near-dup pair edges
    (dedup_minhash_pairs semantics), every document labeled with the min
    doc_id of its component (singletons keep their own id).  Spark side is
    min-label propagation (one shuffle per round, rounds = graph diameter
    -- LSH dup clusters are clique-like, so 2-3 rounds; see
    probe_spark.dedup.connected_components); the oracle computes the same
    fixpoint with a recursive CTE."""
    from probe_spark.dedup import connected_components, minhash_pairs

    docs = _docs(spark, sf_dir)
    pairs = minhash_pairs(docs)
    cc = connected_components(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
        docs.select(F.col("doc_id").alias("node")),
    )
    return cc.select(F.col("node").alias("doc_id"), "cluster_id")


DEDUP_CLUSTERS_SQL = f"""
WITH RECURSIVE {_sql_minhash_rep_pairs()},
pairs AS (
  SELECT least(ma.doc_id, mb.doc_id) AS doc_a,
         greatest(ma.doc_id, mb.doc_id) AS doc_b
  FROM reppairs p
  JOIN memb ma ON ma.rep = p.doc_a
  JOIN memb mb ON mb.rep = p.doc_b
  UNION ALL
  SELECT a.doc_id, b.doc_id
  FROM memb a JOIN memb b ON a.rep = b.rep AND a.doc_id < b.doc_id),
{_SQL_CC.format(pairs="pairs", nodes="documents")}
SELECT node AS doc_id, cluster_id::BIGINT AS cluster_id FROM cc
"""

# quality gate applied to the deduplicated corpus (pipeline_dedup_corpus):
# document keeps only if it has enough tokens and enough lexical diversity
_PIPE_MIN_TOKENS = 15
_PIPE_MIN_TTR = 0.3


def pipeline_dedup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END corpus prep: raw docs -> exact dedup (md5 collapse) ->
    banded minhash near-dup pairs over representatives (capped buckets) ->
    connected-component clusters -> keep the canonical doc (min doc_id) per
    cluster -> quality filter (>= 15 tokens, type-token ratio >= 0.3).
    Output: one row per surviving document with
    n_docs = how many raw documents it represents (exact + near dups) --
    the operator a 100-TB training-data pipeline runs daily, chained from
    the same guarded building blocks the pair entries verify."""
    from probe_spark.dedup import (
        _rep_docs,
        connected_components,
        exact_member_map,
        minhash_rep_pairs,
    )

    docs = _docs(spark, sf_dir)
    memb = exact_member_map(docs)
    repd = _rep_docs(docs, memb)
    rp = minhash_rep_pairs(repd)
    cc = connected_components(
        rp.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
        repd.select(F.col("doc_id").alias("node")),
    )
    gsz = memb.groupBy("rep").agg(F.count(F.lit(1)).alias("g"))
    csz = (
        cc.join(gsz, cc["node"] == gsz["rep"])
        .groupBy("cluster_id")
        .agg(F.sum("g").cast("long").alias("n_docs"))
    )
    kept = docs.join(csz, docs["doc_id"] == csz["cluster_id"])
    w = F.split("text", " ")
    n = F.size(w).cast("double")
    ttr = F.size(F.array_distinct(w)).cast("double") / n
    return (
        kept.select(
            "doc_id",
            "n_docs",
            F.size(w).cast("long").alias("n_tokens"),
        )
        .filter((F.col("n_tokens") >= _PIPE_MIN_TOKENS) & (ttr >= _PIPE_MIN_TTR))
    )


PIPELINE_DEDUP_SQL = f"""
WITH RECURSIVE {_sql_minhash_rep_pairs()},
{_SQL_CC.format(pairs="reppairs", nodes="repdocs")},
gsz AS (SELECT rep, count(*)::BIGINT AS g FROM memb GROUP BY rep),
csz AS (SELECT cc.cluster_id, sum(g.g)::BIGINT AS n_docs
        FROM cc JOIN gsz g ON g.rep = cc.node GROUP BY cc.cluster_id)
SELECT d.doc_id, c.n_docs,
       len(string_split(d.text, ' '))::BIGINT AS n_tokens
FROM documents d JOIN csz c ON c.cluster_id = d.doc_id
WHERE len(string_split(d.text, ' ')) >= {_PIPE_MIN_TOKENS}
  AND len(list_distinct(string_split(d.text, ' ')))
      / len(string_split(d.text, ' '))::DOUBLE >= {_PIPE_MIN_TTR}
"""


# ---------------------------------------------------------------------------
# Similarity search over embeddings -- SQL-checked
# ---------------------------------------------------------------------------


def sim_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 neighbors of vec_id = 0 (the baseline ANN
    path; F.aggregate/zip_with keeps the dot product JVM-side)."""
    # the query vector is ONE bounded row: fetch it driver-side (parquet
    # pushdown on vec_id) and inline it as a literal array -- removes the
    # broadcast exchange + second scan the crossJoin shape paid, and the
    # per-row recomputation of the constant ||q||.  Float math identical:
    # the Python fold below adds x*x in the same left-to-right order as
    # the F.aggregate it replaces, and math.sqrt == JVM sqrt (both
    # correctly-rounded IEEE), so sqrt(n2)*qnorm is the same product.
    emb = _emb(spark, sf_dir)
    qv = _vec_by_id(spark, sf_dir, 0)
    qn2 = 0.0
    for x in qv:
        qn2 += x * x
    qnorm = math.sqrt(qn2)
    qlit = F.array(*[F.lit(x) for x in qv])
    dot = F.aggregate(
        F.zip_with("embedding", qlit, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    n2 = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        _spread(spark, emb.filter(F.col("vec_id") != 0), "vec_id")
        .select(
            "vec_id",
            F.round(dot / (F.sqrt(n2) * F.lit(qnorm)), 6).alias("cos"),
        )
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(10)
    )


SIM_COSINE_SQL = """
WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id = 0),
e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings WHERE vec_id <> 0)
SELECT vec_id,
       round(list_dot_product(ev, qe)
             / (sqrt(list_dot_product(ev, ev))
                * sqrt(list_dot_product(qe, qe))), 6) AS cos
FROM e, q
ORDER BY cos DESC, vec_id ASC LIMIT 10
"""


def dedup_embed_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos >= 0.35 on the synthetic
    embeddings, whose max off-diagonal cosine is ~0.51).  Exhaustive
    self-join here (exact, oracle-comparable); the scale path buckets with
    sim_lsh_buckets / sim_ivf_topk first and verifies only colliding pairs
    -- an exhaustive pair join is quadratic and does not survive 100TB."""
    e = _emb(spark, sf_dir).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    e = e.withColumn(
        "n",
        F.sqrt(
            F.aggregate(
                F.transform("v", lambda x: x * x),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
        ),
    )
    a = e.select(
        F.col("vec_id").alias("a"), F.col("v").alias("va"), F.col("n").alias("na")
    )
    b = e.select(
        F.col("vec_id").alias("b"), F.col("v").alias("vb"), F.col("n").alias("nb")
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        a.join(b, F.col("a") < F.col("b"))
        .select(
            "a",
            "b",
            F.round(dot / (F.col("na") * F.col("nb")), 6).alias("cos"),
        )
        .filter(F.col("cos") >= 0.35)
        .orderBy("a", "b")
    )


DEDUP_EMBED_COSINE_SQL = """
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS a, b.vec_id AS b,
       round(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(b.v, b.v))), 6) AS cos
FROM e a JOIN e b ON a.vec_id < b.vec_id
WHERE round(list_dot_product(a.v, b.v)
            / (sqrt(list_dot_product(a.v, a.v))
               * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.35
ORDER BY a, b
"""


def sim_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH (8 deterministic integer hyperplanes):
    bucket = 8 sign bits; the scale path for ANN (bucket-join instead of
    brute force)."""
    from probe_spark.dedup import lsh_band_signatures

    emb = _emb(spark, sf_dir)
    # ONE band of 8 sign bits == the 8-bit bucket: served by the same
    # vectorized matmul as the ANN/pair paths (one numpy projection per
    # Arrow batch, map-only) -- the 64-rows-per-vector posexplode +
    # plane-table join survives only in the SQL oracle below
    return lsh_band_signatures(emb, n_planes=8, r=8).select(
        "vec_id", F.col("bv").alias("bucket")
    )


SIM_LSH_SQL = """
WITH pw AS (SELECT p, i, ((i * 31 + p * 17) % 7 - 3)::DOUBLE AS w
            FROM (SELECT unnest(range(8))::INT AS p),
                 (SELECT unnest(range(64))::INT AS i)),
ed AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
              unnest(embedding) AS v
       FROM embeddings),
proj AS (SELECT vec_id, p, sum(v::DOUBLE * w) AS s
         FROM ed JOIN pw USING (i) GROUP BY vec_id, p)
SELECT vec_id, sum(CASE WHEN s > 0 THEN (1 << p) ELSE 0 END)::BIGINT AS bucket
FROM proj GROUP BY vec_id
"""


def _lsh_bands(emb: DataFrame, n_planes: int = 24, r: int = 6):
    """(bands, ed, vnorm) for multi-band hyperplane LSH: ``n_planes``
    deterministic integer hyperplanes (same weight formula as
    sim_lsh_buckets), grouped into bands of ``r`` sign bits.  ``bands`` is
    (vec_id, bi, bv) computed by ONE vectorized numpy matmul per Arrow
    batch (dedup.lsh_band_signatures -- map-only, no 64-rows-per-vector
    explode before a shuffle; the long-format projection survives only in
    the SQL oracle); ``ed`` the exploded (vec_id, i, v) doubles; ``vnorm``
    per-vector L2 norms -- shared by the ANN query path (sim_lsh_topk) and
    the near-dup pair path (dedup_embed_lsh)."""
    from probe_spark.dedup import lsh_band_signatures

    bands = lsh_band_signatures(emb, n_planes=n_planes, r=r)
    ed = (
        emb.select("vec_id", F.posexplode("embedding").alias("i", "v"))
        .select("vec_id", "i", F.col("v").cast("double").alias("v"))
    )
    vnorm = ed.groupBy("vec_id").agg(
        F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("vn")
    )
    return bands, ed, vnorm


# shared SQL prefix mirroring _lsh_bands (24 planes, 4 bands x 6 bits)
_SQL_LSH_BANDS = """
pw AS (SELECT p, i, ((i * 31 + p * 17) % 7 - 3)::DOUBLE AS w
       FROM (SELECT unnest(range(24))::INT AS p),
            (SELECT unnest(range(64))::INT AS i)),
ed AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
              unnest(embedding)::DOUBLE AS v FROM embeddings),
proj AS (SELECT vec_id, p, sum(v * w) AS s
         FROM ed JOIN pw USING (i) GROUP BY vec_id, p),
bands AS (SELECT vec_id, (p // 6)::INT AS bi,
                 sum(CASE WHEN s > 0 THEN (1 << (p % 6)) ELSE 0 END)::BIGINT AS bv
          FROM proj GROUP BY vec_id, bi),
vn AS (SELECT vec_id, sqrt(sum(v * v)) AS vn FROM ed GROUP BY vec_id)
"""


def lsh_topk(
    spark: SparkSession,
    emb: DataFrame,
    query_vec_id: int = 0,
    topk: int = 5,
) -> DataFrame:
    """Multi-band LSH ANN: 4 bands x 6 sign bits; candidates share >= 1
    whole band signature with the query; exact cosine rerank within the
    candidates.  Collision prob for angle theta is 1-(1-(1-theta/pi)^6)^4
    -- banding OR trades recall for candidate count, and the verify stage
    makes returned scores exact.  The bucket join's key multiplicity is a
    band bucket, so candidate generation never goes quadratic at scale.
    Recall on clustered data is pinned by tests/test_ivf_recall.py."""
    bands, ed, vnorm = _lsh_bands(emb)
    qb = bands.filter(F.col("vec_id") == query_vec_id).select("bi", "bv")
    cand = (
        bands.filter(F.col("vec_id") != query_vec_id)
        .join(F.broadcast(qb), ["bi", "bv"], "leftsemi")
        .select("vec_id")
        .distinct()
    )
    qd = ed.filter(F.col("vec_id") == query_vec_id).select(
        "i", F.col("v").alias("qv")
    )
    qn = vnorm.filter(F.col("vec_id") == query_vec_id).select(
        F.col("vn").alias("qn")
    )
    return (
        ed.join(cand, "vec_id", "leftsemi")
        .join(F.broadcast(qd), "i")
        .groupBy("vec_id")
        .agg(F.sum(F.col("v") * F.col("qv")).alias("dot"))
        .join(vnorm, "vec_id")
        .crossJoin(F.broadcast(qn))
        .select(
            "vec_id",
            F.round(F.col("dot") / (F.col("vn") * F.col("qn")), 6).alias("cos"),
        )
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(topk)
    )


def sim_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry: multi-band LSH ANN for vec 0, top-5 (see lsh_topk)."""
    return lsh_topk(spark, _emb(spark, sf_dir))


SIM_LSH_TOPK_SQL = f"""
WITH {_SQL_LSH_BANDS},
qb AS (SELECT bi, bv FROM bands WHERE vec_id = 0),
cand AS (SELECT DISTINCT b.vec_id FROM bands b JOIN qb USING (bi, bv)
         WHERE b.vec_id <> 0),
q AS (SELECT i, v AS qv FROM ed WHERE vec_id = 0),
qn AS (SELECT vn AS qn FROM vn WHERE vec_id = 0),
dq AS (SELECT ed.vec_id, sum(ed.v * q.qv) AS dot
       FROM ed JOIN cand USING (vec_id) JOIN q USING (i)
       GROUP BY ed.vec_id)
SELECT dq.vec_id, round(dq.dot / (vn.vn * qn.qn), 6) AS cos
FROM dq JOIN vn USING (vec_id) CROSS JOIN qn
ORDER BY cos DESC, vec_id ASC LIMIT 5
"""


def _lsh_candidate_cos(emb: DataFrame) -> DataFrame:
    """Shared LSH candidate machinery (dedup_embed_lsh, sim_knn_join):
    capped band buckets -> distinct candidate pairs (share >= 1 band,
    a < b) -> exact 6dp-rounded cosine per candidate pair.  Returns
    (a, b, cos) UNFILTERED -- callers threshold or rank."""
    from probe_spark.dedup import capped_bands

    bands, ed, vnorm = _lsh_bands(emb)
    bands = capped_bands(bands)
    cand = (
        bands.alias("x")
        .join(bands.alias("y"), ["bi", "bv"])
        .filter(F.col("x.vec_id") < F.col("y.vec_id"))
        .select(F.col("x.vec_id").alias("a"), F.col("y.vec_id").alias("b"))
        .distinct()
    )
    # ARRAY-form dot per candidate pair (the dedup_embed_cosine pattern;
    # guide SS2.3 "shuffle fewer bytes"): the long-format form joined 64
    # exploded rows per pair per side through two sort-merge joins and a
    # shuffle-order sum -- dim x pair-count join rows for values the
    # vector arrays already carry in one row.  zip_with folds in
    # ascending i, deterministic; the 6dp rounding below is the declared
    # cross-engine ulp guard (oracle sums in DuckDB scan order).
    ev = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )
    dots = (
        cand.join(
            ev.select(F.col("vec_id").alias("a"), F.col("e").alias("ea")),
            "a",
        )
        .join(
            ev.select(F.col("vec_id").alias("b"), F.col("e").alias("eb")),
            "b",
        )
        .select(
            "a",
            "b",
            F.aggregate(
                F.zip_with("ea", "eb", lambda x, y: x * y),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("dot"),
        )
    )
    na = vnorm.select(F.col("vec_id").alias("a"), F.col("vn").alias("na"))
    nb = vnorm.select(F.col("vec_id").alias("b"), F.col("vn").alias("nb"))
    return (
        dots.join(na, "a")
        .join(nb, "b")
        .select(
            "a",
            "b",
            F.round(F.col("dot") / (F.col("na") * F.col("nb")), 6).alias("cos"),
        )
    )


def dedup_embed_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs at scale: LSH band buckets -> candidate
    pairs (share >= 1 band) -> exact cosine verify >= 0.35.  The scale
    replacement for dedup_embed_cosine's exhaustive self-join: the pair
    join runs on band buckets capped at BAND_BUCKET_CAP lowest vec_ids
    (probe_spark.dedup.capped_bands, mirrored in the oracle -- the residual
    guard against a flood of near-identical embeddings saturating one
    bucket), verification touches candidates only.  Recall < 1 by design
    (the LSH curve), so the oracle mirrors the banding + cap rather than
    the exhaustive definition."""
    return _lsh_candidate_cos(_emb(spark, sf_dir)).filter(F.col("cos") >= 0.35)


def sim_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed k-NN SELF-join: top-3 approximate nearest neighbours
    for EVERY vector at once -- the batch primitive behind hard-negative
    mining, diversity analysis, and graph-based curation (single-query
    ANN is sim_lsh_topk / sim_ivf_topk; pipelines need all rows scored
    in one job, not a driver loop).  Candidates come from the SAME
    capped LSH band buckets as dedup_embed_lsh (`_lsh_candidate_cos`),
    symmetrized, then ranked per vector by (cos desc, nbr asc); vectors
    with no band collision simply emit no rows (the LSH recall curve,
    mirrored in the oracle).

    Scale plan: candidate generation is bucket-join + cap -- NEVER the
    corpus-quadratic cross join a naive knn-join does; the top-k is a
    window partitioned by vec_id, never a global sort; at 100TB band
    width/count tune recall exactly as in dedup_embed_lsh."""
    return knn_join(_emb(spark, sf_dir), k=3)


def knn_join(emb: DataFrame, k: int = 3) -> DataFrame:
    """Parameterized core of sim_knn_join over any (vec_id, embedding)
    frame -- also the surface the recall gate drives on clustered
    fixtures (tests/test_ivf_recall.py)."""
    from pyspark.sql.window import Window

    K = k
    cc = _lsh_candidate_cos(emb)
    # symmetrize via ONE explode of a two-struct array, not a union of two
    # selects over cc -- a union would evaluate the whole candidate-cosine
    # subtree once per branch
    sym = (
        cc.select(
            _explode_nn(
                F.array(
                    F.struct(
                        F.col("a").alias("vec_id"), F.col("b").alias("nbr")
                    ),
                    F.struct(
                        F.col("b").alias("vec_id"), F.col("a").alias("nbr")
                    ),
                )
            ).alias("p"),
            "cos",
        )
        .where(F.col("p").isNotNull())
        .select("p.vec_id", "p.nbr", "cos")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("nbr"))
    return (
        sym.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= K)
        .select("vec_id", F.col("rank").cast("long").alias("rank"), "nbr", "cos")
    )


def _sql_capped_bands() -> str:
    from probe_spark.dedup import BAND_BUCKET_CAP

    return f"""cbands AS (SELECT vec_id, bi, bv FROM (
  SELECT vec_id, bi, bv,
         row_number() OVER (PARTITION BY bi, bv ORDER BY vec_id) AS rn
  FROM bands) WHERE rn <= {BAND_BUCKET_CAP})"""


# shared CTE text mirroring _lsh_candidate_cos (capped-band candidate
# pairs -> exact 6dp cosine); composed into both DEDUP_EMBED_LSH_SQL and
# SIM_KNN_SQL
_SQL_LSH_CAND_COS = """cand AS (SELECT DISTINCT x.vec_id AS a, y.vec_id AS b
         FROM cbands x JOIN cbands y USING (bi, bv)
         WHERE x.vec_id < y.vec_id),
dots AS (SELECT c.a, c.b, sum(ea.v * eb.v) AS dot
         FROM cand c
         JOIN ed ea ON ea.vec_id = c.a
         JOIN ed eb ON eb.vec_id = c.b AND eb.i = ea.i
         GROUP BY c.a, c.b),
cc AS (SELECT d.a, d.b, round(d.dot / (na.vn * nb.vn), 6) AS cos
       FROM dots d JOIN vn na ON na.vec_id = d.a
                   JOIN vn nb ON nb.vec_id = d.b)"""


DEDUP_EMBED_LSH_SQL = f"""
WITH {_SQL_LSH_BANDS},
{_sql_capped_bands()},
{_SQL_LSH_CAND_COS}
SELECT a, b, cos FROM cc WHERE cos >= 0.35
"""


# same capped-band candidate machinery as DEDUP_EMBED_LSH_SQL, then
# symmetrize and rank per vector (sim_knn_join)
SIM_KNN_SQL = f"""
WITH {_SQL_LSH_BANDS},
{_sql_capped_bands()},
{_SQL_LSH_CAND_COS},
sym AS (SELECT a AS vec_id, b AS nbr, cos FROM cc
        UNION ALL
        SELECT b AS vec_id, a AS nbr, cos FROM cc),
r AS (SELECT vec_id, nbr, cos,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cos DESC, nbr ASC) AS rank
      FROM sym)
SELECT vec_id, rank::BIGINT AS rank, nbr, cos FROM r WHERE rank <= 3
"""


# hard-negative band: similar enough to be an informative contrastive
# negative, safely below the near-dup threshold family (dedup_embed_*
# uses cos >= 0.35 as DUPLICATE on this synthetic corpus; the band
# straddles it deliberately -- negatives are mined BEFORE dedup drops
# the top of the band)
HARD_NEG_LO, HARD_NEG_HI = 0.30, 0.45
HARD_NEG_K = 3


def sim_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive hard-negative mining: for each anchor vector (vec_id
    0..4) the top-3 candidates by cosine INSIDE [0.30, 0.45] -- the band
    where a negative is similar enough to teach the model something but
    not a near-duplicate (SimCLR/DPR-style curation).  Banding and
    ranking use the 6dp-ROUNDED cosine so both engines order identical
    values.

    Scale shape: the anchor set is broadcast, the corpus is scanned ONCE
    (map-side dot products via zip_with -- JVM, no Python), and the
    per-anchor top-k is a window partitioned by anchor, never a global
    sort.  When the anchor set grows past broadcast size, candidate
    generation moves to the IVF/LSH lanes (sim_ivf_topk, sim_knn_join)
    and only in-band candidates reach this ranking."""
    from pyspark.sql.window import Window

    emb = _emb(spark, sf_dir)
    anchors = emb.filter(F.col("vec_id") <= 4).select(
        F.col("vec_id").alias("anchor_id"), F.col("embedding").alias("q")
    )
    joined = emb.crossJoin(F.broadcast(anchors)).filter(
        F.col("vec_id") != F.col("anchor_id")
    )
    dot = F.aggregate(
        F.zip_with(
            "embedding", "q", lambda x, y: x.cast("double") * y.cast("double")
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    n2 = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    qn2 = F.aggregate(
        F.transform("q", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cos"), F.asc("vec_id")
    )
    return (
        joined.select(
            "anchor_id",
            "vec_id",
            F.round(dot / (F.sqrt(n2) * F.sqrt(qn2)), 6).alias("cos"),
        )
        .filter(
            (F.col("cos") >= HARD_NEG_LO) & (F.col("cos") <= HARD_NEG_HI)
        )
        .withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= HARD_NEG_K)
        .orderBy("anchor_id", "rank")
    )


SIM_HARD_NEG_SQL = f"""
WITH q AS (SELECT vec_id AS anchor_id, embedding::DOUBLE[] AS qe
           FROM embeddings WHERE vec_id <= 4),
e AS (SELECT vec_id, embedding::DOUBLE[] AS ev FROM embeddings),
c AS (SELECT q.anchor_id, e.vec_id,
             round(list_dot_product(ev, qe)
                   / (sqrt(list_dot_product(ev, ev))
                      * sqrt(list_dot_product(qe, qe))), 6) AS cos
      FROM e, q WHERE e.vec_id <> q.anchor_id),
r AS (SELECT anchor_id, vec_id, cos,
             row_number() OVER (PARTITION BY anchor_id
                                ORDER BY cos DESC, vec_id ASC) AS rank
      FROM c WHERE cos BETWEEN {HARD_NEG_LO} AND {HARD_NEG_HI})
SELECT anchor_id, vec_id, cos, rank::BIGINT AS rank
FROM r WHERE rank <= {HARD_NEG_K}
ORDER BY anchor_id, rank
"""


#: trained-centroid cache keyed by (corpus key, k_cells, iters).  The
#: centroids are PLAIN PYTHON floats (k x dim values, 6dp-rounded), a
#: pure deterministic function of the input table -- caching them is the
#: "train the quantizer once, reuse it everywhere" discipline every
#: production IVF/SemDeDup pipeline follows (FAISS trains on a sample,
#: then encodes the corpus with frozen codebooks).  Keys are input PATHS:
#: callers must not mutate a directory's embeddings between calls within
#: one process (the test corpora are immutable).
_CENTROID_CACHE: dict[tuple[str, int, int], list[tuple[int, int, float]]] = {}

#: trained PQ codebooks keyed by (corpus key, k_codes, sub_dim) -- same
#: rationale and same immutable-input contract as _CENTROID_CACHE.
_PQ_CODEBOOK_CACHE: dict[
    tuple[str, int, int], list[tuple[int, int, int, float]]
] = {}


def _round_half_away(x, digits: int):
    """Sign-aware round-half-away-from-zero on an ndarray -- the tie
    mode Spark's HALF_UP BigDecimal round and DuckDB's round() share on
    doubles; np.round's half-to-even would be a third mode at exact
    half boundaries.  Non-finite values pass through unchanged."""
    import numpy as np

    scale = 10.0 ** digits
    with np.errstate(invalid="ignore"):
        return np.where(
            np.isfinite(x),
            np.copysign(np.floor(np.abs(x) * scale + 0.5), x) / scale,
            x,
        )


def _cached_rows(cache: dict, key, train):
    """The ONE get/train/store policy point for the trained-state memos
    (_CENTROID_CACHE / _PQ_CODEBOOK_CACHE): a future change to the
    caching contract -- a lock for a concurrent driver, mtime-keyed
    invalidation lifting the immutable-input restriction -- lands here
    once.  ``key`` None bypasses the cache entirely so ad-hoc inputs
    never collide."""
    rows = cache.get(key) if key is not None else None
    if rows is None:
        rows = train()
        if key is not None:
            cache[key] = rows
    return rows


def _quantizer_sims(
    emb: DataFrame, k_cells: int, iters: int, cache_key: str | None = None
):
    """Trained coarse quantizer shared by ivf_topk and semantic_dedup:
    k-means over the corpus (strata init on vec_id % k, ``iters`` Lloyd
    iterations of assign-by-cosine -> per-dimension mean).  Assignment
    is a VECTORIZED Arrow matmul per batch (see assign_sims below); the
    equivalent long-format join algebra survives only in the DuckDB
    oracle (_QUANTIZER_CTES).  Determinism across hosts and
    summation orders: centroid components round to 6dp, assignment
    similarities to 9dp with (sim desc, cell asc) tie-breaks.

    Each Lloyd iteration MATERIALIZES its k x dim centroid table on the
    driver (an audited small collect: k_cells * dim rows of 6dp-rounded
    doubles -- bit-exact through collect/re-literal) and feeds the next
    iteration a broadcast LITERAL.  Leaving the iterations lazy nests
    every centroid subtree inside the next plan, and each consumer
    references its centroids twice (norms + dots), so the strata-init agg
    would re-execute ~2^iters times inside the one final plan; with
    literals every corpus-sized agg runs exactly once.  This is also how
    Lloyd runs on a real cluster: rank state that fits the driver stays
    on the driver.  With ``cache_key`` (an input path) the trained
    centroids are reused across operators in the same process via
    _CENTROID_CACHE -- SemDeDup / IVF / prototype-prune / cluster-report
    share one training run, which is the amortization their docstrings
    promise.

    Returns ``(ed, vnorm, sims, w)`` where ``ed`` (long-format vectors)
    and ``sims`` (final-iteration vec x cell cosine) are PERSISTED -- the
    caller must unpersist both after materializing its answer."""
    from pyspark.sql.window import Window

    ed = emb.select(
        "vec_id", F.posexplode("embedding").alias("i", "v")
    ).select("vec_id", "i", F.col("v").cast("double").alias("v"))
    ed = ed.persist()
    vnorm = ed.groupBy("vec_id").agg(
        F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("vn")
    )

    def assign_sims(rows: list[tuple[int, int, float]]) -> DataFrame:
        """Vectorized assignment: ONE Arrow matmul per batch against the
        driver-built centroid matrix (k x dim doubles, tiny), emitting
        the same (vec_id, cell, sim-9dp) rows as the SQL oracle's
        long-format join computes -- the long form survives ONLY in the
        oracle, exactly the dedup.lsh_band_signatures pattern.  The
        per-dimension join form multiplied rows by k x dim (N x k x dim
        rows per assignment -- unpayable once cell count scales with
        the corpus); here assignment is O(N) rows out and the centroids
        ride the closure.  9dp rounding (sign-aware half-away-from-zero
        via _round_half_away -- the mode Spark's HALF_UP and DuckDB's
        round() share here, where np.round's half-to-even would be a
        third mode) absorbs summation-order differences between the
        matmul, the Spark long sum, and DuckDB.  Edge parity with the
        oracle: NULL / wrong-length embeddings emit no rows (unnest of
        NULL unnests nothing), and a zero-norm vector or all-zero
        degenerate centroid yields a NULL sim (DuckDB double x/0.0 is
        NULL, sorting LAST under desc, so a degenerate cell never wins
        assignment) -- the replaced long-format Spark division would
        have THROWN under ANSI mode on that input."""
        import numpy as np

        cells = sorted({r[0] for r in rows})
        dim = 1 + max(r[1] for r in rows)
        cmat = np.zeros((len(cells), dim), dtype=np.float64)
        idx = {c: j for j, c in enumerate(cells)}
        for cell, i, c in rows:
            cmat[idx[cell], i] = c
        cn = np.sqrt((cmat * cmat).sum(axis=1))
        cell_arr = np.array(cells, dtype=np.int32)

        def run(it):
            import pandas as pd

            for pdf in it:
                keep = pdf["embedding"].map(
                    lambda x: x is not None and len(x) == dim
                )
                pdf = pdf[keep]
                if not len(pdf):
                    continue
                e = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                vn = np.sqrt((e * e).sum(axis=1))
                with np.errstate(divide="ignore", invalid="ignore"):
                    raw = (e @ cmat.T) / (vn[:, None] * cn[None, :])
                n, k = raw.shape
                vals = _round_half_away(raw, 9).ravel()
                # inf/nan (zero-norm divisions) -> pandas NA -> Spark NULL
                yield pd.DataFrame(
                    {
                        "vec_id": np.repeat(
                            pdf["vec_id"].to_numpy(), k
                        ),
                        "cell": np.tile(cell_arr, n),
                        "sim": pd.array(
                            np.where(np.isfinite(vals), vals, np.nan),
                            dtype="Float64",
                        ),
                    }
                )

        return emb.mapInPandas(run, "vec_id long, cell int, sim double")

    w = Window.partitionBy("vec_id").orderBy(F.desc("sim"), F.asc("cell"))
    def _train() -> list[tuple[int, int, float]]:
        rows = [
            (r["cell"], r["i"], r["c"])
            for r in (
                ed.withColumn("cell", (F.col("vec_id") % k_cells).cast("int"))
                .groupBy("cell", "i")
                .agg(F.round(F.avg("v"), 6).alias("c"))
                .collect()
            )
        ]
        for _ in range(iters):
            assign = (
                assign_sims(rows)
                .withColumn("rn", F.row_number().over(w))
                .filter(F.col("rn") == 1)
                .select("vec_id", "cell")
            )
            rows = [
                (r["cell"], r["i"], r["c"])
                for r in (
                    ed.join(assign, "vec_id")
                    .groupBy("cell", "i")
                    .agg(F.round(F.avg("v"), 6).alias("c"))
                    .collect()
                )
            ]
        return rows

    key = (cache_key, k_cells, iters) if cache_key is not None else None
    rows = _cached_rows(_CENTROID_CACHE, key, _train)
    sims = assign_sims(rows).persist()
    return ed, vnorm, sims, w


def ivf_topk(
    spark: SparkSession,
    emb: DataFrame,
    query_vec_id: int = 0,
    k_cells: int = 8,
    nprobe: int = 2,
    topk: int = 5,
    iters: int = 2,
    cache_key: str | None = None,
) -> DataFrame:
    """IVF ANN with a TRAINED coarse quantizer (``_quantizer_sims``),
    probing the ``nprobe`` cells nearest the query and reranking exactly
    by cosine within them.

    On clustered data recall is high at small nprobe
    (tests/test_ivf_recall.py pins >= 0.9); on uniform random vectors NO
    coarse quantizer beats the probed-fraction baseline (curse of
    dimensionality) -- the synthetic fixture embeddings are uniform, so the
    entry's recall there reflects the data, not the machinery, and
    nprobe=k_cells reproduces brute force exactly (also pinned)."""
    ed, vnorm, sims, w = _quantizer_sims(emb, k_cells, iters, cache_key)
    assign = (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell")
    )
    probe = (
        sims.filter(F.col("vec_id") == query_vec_id)
        .orderBy(F.desc("sim"), F.asc("cell"))
        .limit(nprobe)
        .select("cell")
    )
    cand = assign.filter(F.col("vec_id") != query_vec_id).join(
        probe, "cell", "leftsemi"
    )
    qd = ed.filter(F.col("vec_id") == query_vec_id).select(
        "i", F.col("v").alias("qv")
    )
    qn = vnorm.filter(F.col("vec_id") == query_vec_id).select(
        F.col("vn").alias("qn")
    )
    result = (
        ed.join(cand.select("vec_id"), "vec_id", "leftsemi")
        .join(F.broadcast(qd), "i")
        .groupBy("vec_id")
        .agg(F.sum(F.col("v") * F.col("qv")).alias("dot"))
        .join(vnorm, "vec_id")
        .crossJoin(F.broadcast(qn))
        .select(
            "vec_id",
            F.round(F.col("dot") / (F.col("vn") * F.col("qn")), 6).alias("cos"),
        )
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(topk)
    )
    # materialize the (tiny, <= topk) answer so the caches backing the
    # iterative quantizer can be released -- returning the lazy plan would
    # leak ed/sims persisted partitions on every call in a long session
    try:
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        ed.unpersist()
        sims.unpersist()


def sim_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN entry: trained 8-cell quantizer (2 Lloyd iterations), probe
    the 2 cells nearest vec 0, exact cosine top-5 within them (see
    ivf_topk for the scale/recall discussion)."""
    return ivf_topk(spark, _emb(spark, sf_dir), cache_key=sf_dir)


# shared quantizer CTE chain mirroring _quantizer_sims exactly: strata
# init, 2 unrolled Lloyd iterations (assign by 9dp-rounded cosine,
# 6dp-rounded per-dim means); consumers append their own a2 projection
_QUANTIZER_CTES = """
WITH ed AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
                   unnest(embedding)::DOUBLE AS v FROM embeddings),
vn AS (SELECT vec_id, sqrt(sum(v*v)) AS vn FROM ed GROUP BY vec_id),
c0 AS (SELECT cell, i, round(avg(v), 6) AS c
       FROM (SELECT (vec_id % 8)::INT AS cell, i, v FROM ed)
       GROUP BY cell, i),
n0 AS (SELECT cell, sqrt(sum(c*c)) AS cn FROM c0 GROUP BY cell),
d0 AS (SELECT ed.vec_id, c0.cell, sum(ed.v * c0.c) AS dot
       FROM ed JOIN c0 USING (i) GROUP BY ed.vec_id, c0.cell),
s0 AS (SELECT vec_id, cell, round(dot / (vn.vn * n0.cn), 9) AS sim
       FROM d0 JOIN vn USING (vec_id) JOIN n0 USING (cell)),
a0 AS (SELECT vec_id, cell FROM (
         SELECT vec_id, cell, row_number() OVER (
           PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn FROM s0)
       WHERE rn = 1),
c1 AS (SELECT a0.cell, ed.i, round(avg(ed.v), 6) AS c
       FROM ed JOIN a0 USING (vec_id) GROUP BY a0.cell, ed.i),
n1 AS (SELECT cell, sqrt(sum(c*c)) AS cn FROM c1 GROUP BY cell),
d1 AS (SELECT ed.vec_id, c1.cell, sum(ed.v * c1.c) AS dot
       FROM ed JOIN c1 USING (i) GROUP BY ed.vec_id, c1.cell),
s1 AS (SELECT vec_id, cell, round(dot / (vn.vn * n1.cn), 9) AS sim
       FROM d1 JOIN vn USING (vec_id) JOIN n1 USING (cell)),
a1 AS (SELECT vec_id, cell FROM (
         SELECT vec_id, cell, row_number() OVER (
           PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn FROM s1)
       WHERE rn = 1),
c2 AS (SELECT a1.cell, ed.i, round(avg(ed.v), 6) AS c
       FROM ed JOIN a1 USING (vec_id) GROUP BY a1.cell, ed.i),
n2 AS (SELECT cell, sqrt(sum(c*c)) AS cn FROM c2 GROUP BY cell),
d2 AS (SELECT ed.vec_id, c2.cell, sum(ed.v * c2.c) AS dot
       FROM ed JOIN c2 USING (i) GROUP BY ed.vec_id, c2.cell),
s2 AS (SELECT vec_id, cell, round(dot / (vn.vn * n2.cn), 9) AS sim
       FROM d2 JOIN vn USING (vec_id) JOIN n2 USING (cell)),
"""


# mirrors ivf_topk exactly: the shared quantizer chain, probe 2 cells,
# exact rerank in the probed cells
SIM_IVF_SQL = f"""{_QUANTIZER_CTES}
a2 AS (SELECT vec_id, cell FROM (
         SELECT vec_id, cell, row_number() OVER (
           PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn FROM s2)
       WHERE rn = 1),
probe AS (SELECT cell FROM s2 WHERE vec_id = 0
          ORDER BY sim DESC, cell ASC LIMIT 2),
cand AS (SELECT vec_id FROM a2
         WHERE vec_id <> 0 AND cell IN (SELECT cell FROM probe)),
q AS (SELECT i, v AS qv FROM ed WHERE vec_id = 0),
qn AS (SELECT vn AS qn FROM vn WHERE vec_id = 0),
dq AS (SELECT ed.vec_id, sum(ed.v * q.qv) AS dot
       FROM ed JOIN cand USING (vec_id) JOIN q USING (i)
       GROUP BY ed.vec_id)
SELECT dq.vec_id, round(dq.dot / (vn.vn * qn.qn), 6) AS cos
FROM dq JOIN vn USING (vec_id) CROSS JOIN qn
ORDER BY cos DESC, vec_id ASC LIMIT 5
"""


def pq_topk(
    spark: SparkSession,
    emb: DataFrame,
    query_vec_id: int = 0,
    k_codes: int = 4,
    sub_dim: int = 16,
    rerank_pool: int = 20,
    topk: int = 5,
    cache_key: str | None = None,
) -> DataFrame:
    """Product-quantization ANN with asymmetric distance computation
    (Jegou et al. 2011, 'Product Quantization for Nearest Neighbor
    Search') -- the MEMORY-bounded ANN path: each vector is stored as
    dim/``sub_dim`` codebook ids (here 4 codes over 16-dim subspaces; at
    production sizes 8-16 bytes/vector instead of 256 raw bytes, which
    is what makes a 1e12-vector index fit a cluster at all).

    Train: per-subspace k-means (strata init vec_id % k, ONE Lloyd
    iteration of assign-by-L2 -> per-dimension mean -- PQ quantizes by
    Euclidean distance, not cosine).  Encode: nearest centroid per
    subspace.  Query (ADC): ONE m x k table of partial query-centroid
    dot products; approx dot(q, x) = sum over subspaces of
    table[sub, code(x, sub)], ranked as approx cosine with the TRUE
    stored norms; the best ``rerank_pool`` candidates rerank exactly.

    Determinism across engines and summation orders: centroids round to
    6dp, L2 assignment distances and ADC partials to 9dp with
    (dist asc, cell asc) / (score desc, vec_id asc) tie-breaks, final
    cosine to 6dp -- the same discipline as _quantizer_sims.

    Scale plan: training touches a SAMPLE at production scale (here the
    full tiny corpus); the codebooks are m x k x sub_dim values --
    broadcast everywhere.  Encoding is one map-side join + per (vec,
    sub) argmin.  SERVING never touches raw vectors until rerank: the
    ADC table is m x k rows broadcast onto the CODES table (m small
    rows per vector, not d), one groupBy(vec_id) over those, and the
    exact rerank reads <= rerank_pool raw vectors.  On uniform random
    fixtures PQ recall reflects the data, not the machinery (see
    ivf_topk's note); tests pin recall on clustered data and exact
    brute-force equality when rerank_pool covers the corpus."""
    from pyspark.sql.window import Window

    eds = (
        emb.select("vec_id", F.posexplode("embedding").alias("i", "v"))
        .select(
            "vec_id",
            "i",
            F.col("v").cast("double").alias("v"),
            (F.col("i") / sub_dim).cast("int").alias("sub"),
        )
        .persist()
    )
    vnorm = eds.groupBy("vec_id").agg(
        F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("vn")
    )

    def assign(rows: list[tuple[int, int, int, float]]) -> DataFrame:
        """(vec_id, sub) -> nearest cell by 9dp-rounded L2^2, ties to
        the lowest cell id -- VECTORIZED: one numpy pass per Arrow batch
        against the driver-built per-subspace codebooks (the long-format
        join form is N x dim x k rows per assignment, unpayable at
        production k=256 codes/subspace; it survives only in the SQL
        oracle).  9dp half-away-from-zero rounding (_round_half_away)
        absorbs summation-order differences, the same discipline as
        _quantizer_sims.assign_sims; argmin over cell-ascending columns
        reproduces the lowest-cell tie-break.  Distances run one CELL at
        a time (O(n x width) temporaries, never the n x k x width
        broadcast cube -- 330 MB/batch at production k=256); the
        trailing subspace may be narrower than sub_dim and is sliced to
        its true width.  NULL / wrong-length embeddings emit no rows,
        matching the oracle's unnest-of-NULL behavior."""
        import numpy as np

        dim = 1 + max(r[2] for r in rows)
        subs = sorted({r[0] for r in rows})
        cb = {}
        for s in subs:
            width = min(sub_dim, dim - s * sub_dim)
            cells = sorted({r[1] for r in rows if r[0] == s})
            mat = np.zeros((len(cells), width), dtype=np.float64)
            cidx = {c: j for j, c in enumerate(cells)}
            for (rs, cell, i, c) in rows:
                if rs == s:
                    mat[cidx[cell], i - s * sub_dim] = c
            cb[s] = (np.array(cells, dtype=np.int32), mat)

        def run(it):
            import pandas as pd

            for pdf in it:
                keep = pdf["embedding"].map(
                    lambda x: x is not None and len(x) == dim
                )
                pdf = pdf[keep]
                if not len(pdf):
                    continue
                e = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
                vids = pdf["vec_id"].to_numpy()
                out_v, out_s, out_c = [], [], []
                for s in subs:
                    cells, mat = cb[s]
                    es = e[:, s * sub_dim : s * sub_dim + mat.shape[1]]
                    dist = np.empty((len(es), len(cells)))
                    for j in range(len(cells)):
                        d = es - mat[j]
                        dist[:, j] = (d * d).sum(axis=1)
                    dist = _round_half_away(dist, 9)
                    best = dist.argmin(axis=1)  # first min = lowest cell
                    out_v.append(vids)
                    out_s.append(np.full(len(vids), s, dtype=np.int32))
                    out_c.append(cells[best])
                yield pd.DataFrame(
                    {
                        "vec_id": np.concatenate(out_v),
                        "sub": np.concatenate(out_s),
                        "cell": np.concatenate(out_c),
                    }
                )

        return emb.mapInPandas(run, "vec_id long, sub int, cell int")

    # codebooks are m x k x sub_dim values -- driver-materialized per
    # Lloyd step (audited small collect, 6dp-rounded doubles are
    # collect/re-literal bit-exact) so the training subtree never nests
    # inside the encode/ADC plans (c1 feeds both `codes` and `pdot`; left
    # lazy it would re-execute its corpus aggs once per consumer), and
    # cached per input path: train once, encode everywhere -- the frozen-
    # codebook discipline of production PQ (see _CENTROID_CACHE).
    def _lit_cb(rows: list[tuple[int, int, int, float]]) -> DataFrame:
        return spark.createDataFrame(
            rows, "sub int, cell int, i int, c double"
        )

    def _train() -> list[tuple[int, int, int, float]]:
        c0_rows = [
            (r["sub"], r["cell"], r["i"], r["c"])
            for r in (
                eds.withColumn(
                    "cell", (F.col("vec_id") % k_codes).cast("int")
                )
                .groupBy("sub", "cell", "i")
                .agg(F.round(F.avg("v"), 6).alias("c"))
                .collect()
            )
        ]
        a0 = assign(c0_rows)
        return [
            (r["sub"], r["cell"], r["i"], r["c"])
            for r in (
                eds.join(a0, ["vec_id", "sub"])
                .groupBy("sub", "cell", "i")
                .agg(F.round(F.avg("v"), 6).alias("c"))
                .collect()
            )
        ]

    key = (cache_key, k_codes, sub_dim) if cache_key is not None else None
    c1_rows = _cached_rows(_PQ_CODEBOOK_CACHE, key, _train)
    c1 = _lit_cb(c1_rows)  # the ADC pdot join still reads the literal table
    codes = assign(c1_rows)
    q = eds.filter(F.col("vec_id") == query_vec_id).select(
        "i", F.col("v").alias("qv")
    )
    qn = vnorm.filter(F.col("vec_id") == query_vec_id).select(
        F.col("vn").alias("qn")
    )
    # ADC lookup table: m x k partial dot products, rounded 9dp
    pdot = (
        c1.join(F.broadcast(q), "i")
        .groupBy("sub", "cell")
        .agg(F.round(F.sum(F.col("qv") * F.col("c")), 9).alias("pdot"))
    )
    approx = (
        codes.filter(F.col("vec_id") != query_vec_id)
        .join(F.broadcast(pdot), ["sub", "cell"])
        .groupBy("vec_id")
        .agg(F.round(F.sum("pdot"), 9).alias("adot"))
        .join(vnorm, "vec_id")
        .crossJoin(F.broadcast(qn))
        .select(
            "vec_id",
            F.round(F.col("adot") / (F.col("vn") * F.col("qn")), 9).alias(
                "ascore"
            ),
        )
        .orderBy(F.desc("ascore"), F.asc("vec_id"))
        .limit(rerank_pool)
    )
    result = (
        eds.join(approx.select("vec_id"), "vec_id", "leftsemi")
        .join(F.broadcast(q), "i")
        .groupBy("vec_id")
        .agg(F.sum(F.col("v") * F.col("qv")).alias("dot"))
        .join(vnorm, "vec_id")
        .crossJoin(F.broadcast(qn))
        .select(
            "vec_id",
            F.round(F.col("dot") / (F.col("vn") * F.col("qn")), 6).alias("cos"),
        )
        .orderBy(F.desc("cos"), F.asc("vec_id"))
        .limit(topk)
    )
    # materialize the (<= topk) answer so the persisted long-format frame
    # backing the iterative trainer can be released (same rationale as
    # ivf_topk)
    try:
        rows = result.collect()
        return spark.createDataFrame(rows, result.schema)
    finally:
        eds.unpersist()


def sim_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC ANN entry: 4 subspaces x 16 dims, 4-code codebooks, 1 Lloyd
    iteration, 20-candidate ADC pool, exact cosine top-5 rerank (see
    pq_topk for the memory/scale discussion)."""
    return pq_topk(spark, _emb(spark, sf_dir), cache_key=sf_dir)


# mirrors pq_topk exactly: per-subspace strata init + one Lloyd
# iteration by 9dp L2, ADC table from the query, approx-cosine pool of
# 20, exact rerank to top-5
SIM_PQ_SQL = """
WITH ed AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
                   unnest(embedding)::DOUBLE AS v FROM embeddings),
eds AS (SELECT vec_id, i, v, (i // 16)::INT AS sub FROM ed),
vn AS (SELECT vec_id, sqrt(sum(v*v)) AS vn FROM ed GROUP BY vec_id),
c0 AS (SELECT sub, cell, i, round(avg(v), 6) AS c
       FROM (SELECT sub, (vec_id % 4)::INT AS cell, i, v FROM eds)
       GROUP BY sub, cell, i),
d0 AS (SELECT eds.vec_id, eds.sub, c0.cell,
              round(sum((eds.v - c0.c) * (eds.v - c0.c)), 9) AS dist
       FROM eds JOIN c0 ON eds.i = c0.i
       GROUP BY eds.vec_id, eds.sub, c0.cell),
a0 AS (SELECT vec_id, sub, cell FROM (
         SELECT vec_id, sub, cell, row_number() OVER (
           PARTITION BY vec_id, sub ORDER BY dist ASC, cell ASC) AS rn
         FROM d0) WHERE rn = 1),
c1 AS (SELECT eds.sub, a0.cell, eds.i, round(avg(eds.v), 6) AS c
       FROM eds JOIN a0 ON eds.vec_id = a0.vec_id AND eds.sub = a0.sub
       GROUP BY eds.sub, a0.cell, eds.i),
d1 AS (SELECT eds.vec_id, eds.sub, c1.cell,
              round(sum((eds.v - c1.c) * (eds.v - c1.c)), 9) AS dist
       FROM eds JOIN c1 ON eds.i = c1.i
       GROUP BY eds.vec_id, eds.sub, c1.cell),
codes AS (SELECT vec_id, sub, cell FROM (
            SELECT vec_id, sub, cell, row_number() OVER (
              PARTITION BY vec_id, sub ORDER BY dist ASC, cell ASC) AS rn
            FROM d1) WHERE rn = 1),
q AS (SELECT i, v AS qv FROM eds WHERE vec_id = 0),
qn AS (SELECT vn AS qn FROM vn WHERE vec_id = 0),
pd AS (SELECT c1.sub, c1.cell, round(sum(q.qv * c1.c), 9) AS pdot
       FROM c1 JOIN q ON c1.i = q.i GROUP BY c1.sub, c1.cell),
appr AS (SELECT codes.vec_id, round(sum(pd.pdot), 9) AS adot
         FROM codes JOIN pd ON codes.sub = pd.sub AND codes.cell = pd.cell
         WHERE codes.vec_id <> 0 GROUP BY codes.vec_id),
pool AS (SELECT appr.vec_id,
                round(appr.adot / (vn.vn * qn.qn), 9) AS ascore
         FROM appr JOIN vn USING (vec_id) CROSS JOIN qn
         ORDER BY ascore DESC, vec_id ASC LIMIT 20),
ex AS (SELECT eds.vec_id, sum(eds.v * q.qv) AS dot
       FROM eds JOIN pool USING (vec_id) JOIN q ON eds.i = q.i
       GROUP BY eds.vec_id)
SELECT ex.vec_id, round(ex.dot / (vn.vn * qn.qn), 6) AS cos
FROM ex JOIN vn USING (vec_id) CROSS JOIN qn
ORDER BY cos DESC, vec_id ASC LIMIT 5
"""


def events_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured column extraction + rollup: parse the events
    ``props`` JSON string with a TYPED schema (from_json -- JVM-side,
    whole-stage codegen; never a Python UDF) and aggregate the extracted
    field per event_type.  Web-crawl pipelines carry exactly this shape
    -- WARC/WET metadata, fetch headers, classifier outputs -- as JSON
    side columns that queries must reach into without a schema
    migration.

    Scale plan: the parse is map-only and columnar; the only shuffle is
    the groupBy(event_type), bounded by the type cardinality, with
    map-side partial aggregation.  Integer sum + min/max are summation-
    order-independent, so no rounding discipline is even needed."""
    from pyspark.sql.types import LongType, StructField, StructType

    ev = _spread(
        spark, _read_pq(spark, f"{sf_dir}/events.parquet"), "event_id"
    )
    schema = StructType([StructField("k", LongType())])
    k = F.from_json("props", schema)["k"]
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").cast("long").alias("min_k"),
            F.max("k").cast("long").alias("max_k"),
        )
    )


EVENTS_JSON_SQL = """
WITH x AS (
  -- mirror from_json's null-on-mismatch leniency: invalid JSON rows and
  -- non-integer k values become NULL instead of raising / rounding
  -- (json_extract keeps JSON syntax, so a quoted "7" stays '"7"' and
  -- try_cast rejects it exactly like Spark's strict LongType parse)
  SELECT event_type,
         CASE WHEN json_valid(props)
              THEN try_cast(json_extract(props, '$.k')::VARCHAR AS BIGINT)
         END AS k
  FROM events)
SELECT event_type, count(*)::BIGINT AS n,
       sum(k)::BIGINT AS sum_k,
       min(k)::BIGINT AS min_k,
       max(k)::BIGINT AS max_k
FROM x GROUP BY event_type
"""


def events_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation over the events stream table
    (batch form; the streaming module handles live ingestion)."""
    ev = _read_pq(spark, f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(
            F.date_format(
                F.date_trunc("hour", F.col("ts")), "yyyy-MM-dd HH:00:00"
            ).alias("hour"),
            F.col("event_type"),
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            # min/max are order-independent (exact across engines); avg's
            # summation order can differ by 1 ulp and flip a round() at a
            # .5 boundary (observed at sf0.1)
            F.round(F.min("value"), 6).alias("min_value"),
            F.round(F.max("value"), 6).alias("max_value"),
        )
    )


EVENTS_WINDOW_SQL = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
       event_type,
       count(*)::BIGINT AS n,
       round(min(value), 6) AS min_value,
       round(max(value), 6) AS max_value
FROM events GROUP BY 1, 2
"""


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based per-user sessions (batch form of the stateful streaming
    operator streaming/events.py::sessionize_stream): a 2h event-time gap
    closes a session.  min/max/count only -- order-independent, exact
    across engines."""
    from probe_spark.streaming.events import sessionize_batch

    ev = _read_pq(spark, f"{sf_dir}/events.parquet").select(
        "user_id", "ts", "value"
    )
    sess = sessionize_batch(spark, ev, gap_seconds=7200)
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return (
        sess.select(
            "user_id",
            F.date_format("session_start", fmt).alias("session_start"),
            F.date_format("session_end", fmt).alias("session_end"),
            F.col("n_events").cast("long").alias("n_events"),
        )
        .orderBy("user_id", "session_start")
    )


# gap comparison at MICROSECOND precision on both sides (same as the
# stateful streaming operator's state math)
EVENTS_SESSIONIZE_SQL = """
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN epoch_us(ts)
                   - lag(epoch_us(ts)) OVER
                       (PARTITION BY user_id ORDER BY ts) > 7200000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events),
s AS (
  SELECT user_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sid
  FROM g)
SELECT user_id,
       strftime(min(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
       count(*)::BIGINT AS n_events
FROM s GROUP BY user_id, sid
ORDER BY user_id, session_start
"""


def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered 3-step funnel (view -> click -> purchase): a user counts
    for step N only if their earliest step-N event STRICTLY follows
    their qualifying step-(N-1) time.  The standard product-analytics
    rollup, and the classic trap for distributed engines -- naive
    per-user event replay is a Python UDF over collect_list.

    Spark-first plan: each step is min-timestamp aggregate on user_id,
    then an equi-join back to the (pre-filtered, column-pruned) next
    event type.  All three shuffles hash the SAME key (user_id), so the
    exchanges after step 1 reuse the partitioning; no window over the
    raw event stream, no per-user arrays.  At 100 TB the event-type
    filters push to the parquet scan and each join's build side is
    one row per surviving user, shrinking monotonically down the
    funnel."""
    ev = _read_pq(spark, f"{sf_dir}/events.parquet").select(
        "user_id", "event_type", "ts"
    )
    s1 = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("t1"))
    )
    s2 = (
        ev.filter(F.col("event_type") == "click")
        .join(s1, "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    s3 = (
        ev.filter(F.col("event_type") == "purchase")
        .join(s2, "user_id")
        .filter(F.col("ts") > F.col("t2"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t3"))
    )

    def _count(df, idx, name):
        return df.agg(
            F.lit(idx).cast("int").alias("step_idx"),
            F.lit(name).alias("step"),
            F.count(F.lit(1)).cast("long").alias("n_users"),
        )

    return (
        _count(s1, 1, "view")
        .unionAll(_count(s2, 2, "click"))
        .unionAll(_count(s3, 3, "purchase"))
        .orderBy("step_idx")
    )


EVENTS_FUNNEL_SQL = """
WITH s1 AS (
  SELECT user_id, min(ts) AS t1 FROM events
  WHERE event_type = 'view' GROUP BY user_id),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t2 FROM events e
  JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY e.user_id),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t3 FROM events e
  JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY e.user_id)
SELECT 1::INT AS step_idx, 'view' AS step, count(*)::BIGINT AS n_users FROM s1
UNION ALL
SELECT 2::INT, 'click', count(*)::BIGINT FROM s2
UNION ALL
SELECT 3::INT, 'purchase', count(*)::BIGINT FROM s3
ORDER BY step_idx
"""


def events_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: bucket users by the DAY of their first
    event (the cohort), then for offsets 0..7 days count how many of
    that cohort were active again on cohort_day + offset.  The second
    classic event-analytics rollup next to the funnel.

    Plan: one min-date aggregate on user_id (cohort assignment), one
    distinct over (user_id, day) -- both shuffle the same user_id key,
    so the cohort join after them is co-partitioned -- then a bounded
    groupBy(cohort_day, offset).  Active-day distinct happens BEFORE the
    join, so the join input is one row per user-day, not per event."""
    ev = _read_pq(spark, f"{sf_dir}/events.parquet").select(
        "user_id", F.to_date("ts").alias("day")
    )
    cohort = ev.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    active = ev.distinct()
    return (
        active.join(cohort, "user_id")
        .withColumn("day_offset", F.datediff("day", "cohort_day"))
        .filter(F.col("day_offset") <= 7)
        .groupBy("cohort_day", "day_offset")
        .agg(F.count(F.lit(1)).cast("long").alias("n_active"))
        .select(
            F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
            F.col("day_offset").cast("int").alias("day_offset"),
            "n_active",
        )
        .orderBy("cohort_day", "day_offset")
    )


EVENTS_RETENTION_SQL = """
WITH cohort AS (
  SELECT user_id, min(ts::DATE) AS cohort_day FROM events GROUP BY user_id),
active AS (
  SELECT DISTINCT user_id, ts::DATE AS day FROM events)
SELECT strftime(c.cohort_day, '%Y-%m-%d') AS cohort_day,
       (a.day - c.cohort_day)::INT AS day_offset,
       count(*)::BIGINT AS n_active
FROM active a JOIN cohort c ON a.user_id = c.user_id
WHERE a.day - c.cohort_day <= 7
GROUP BY c.cohort_day, a.day - c.cohort_day
ORDER BY cohort_day, day_offset
"""


def events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p95/p99 of the event value per type -- the latency-SLO
    rollup every event pipeline publishes.  Uses Spark's EXACT
    ``percentile`` aggregate (not percentile_approx): the bench/oracle
    contract here is exactness; at 100 TB a user would flip the same
    entry to percentile_approx(value, p, accuracy) and keep the plan --
    one bounded shuffle keyed by the low-cardinality event_type.  Both
    engines interpolate linearly (index p*(n-1)); rounded to 6dp under
    the shared convention."""
    ev = _read_pq(spark, f"{sf_dir}/events.parquet")
    return (
        ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.round(F.percentile("value", 0.5), 6).alias("p50"),
            F.round(F.percentile("value", 0.95), 6).alias("p95"),
            F.round(F.percentile("value", 0.99), 6).alias("p99"),
        )
        .orderBy("event_type")
    )


EVENTS_PERCENTILES_SQL = """
SELECT event_type, count(*)::BIGINT AS n,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       round(quantile_cont(value, 0.99), 6) AS p99
FROM events GROUP BY event_type ORDER BY event_type
"""


def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type anomaly counts via median absolute deviation:
    flag value > median + 3 * 1.4826 * MAD (the normal-consistent MAD
    estimator).  Unlike mean/stddev z-scores, the threshold itself is
    outlier-proof -- the standard first-pass data-quality screen over
    petabyte event feeds.

    Plan: two exact-median aggregates keyed by the tiny event_type
    domain (second one over |value - median| after a broadcast-size
    join back), then one conditional count.  Output is integers, so the
    cross-engine gate is immune to float formatting."""
    ev = _read_pq(spark, f"{sf_dir}/events.parquet").select(
        "event_type", "value"
    )
    med = ev.groupBy("event_type").agg(F.median("value").alias("med"))
    dev = ev.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    stats = dev.groupBy("event_type").agg(
        F.min("med").alias("med"), F.median("adev").alias("mad")
    )
    thresh = F.col("med") + 3 * 1.4826 * F.col("mad")
    return (
        ev.join(F.broadcast(stats), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum((F.col("value") > thresh).cast("long"))
            .cast("long")
            .alias("n_outliers"),
        )
        .orderBy("event_type")
    )


EVENTS_ANOMALY_SQL = """
WITH m AS (
  SELECT event_type, median(value) AS med FROM events GROUP BY event_type),
s AS (
  SELECT e.event_type, min(m.med) AS med,
         median(abs(e.value - m.med)) AS mad
  FROM events e JOIN m USING (event_type) GROUP BY e.event_type)
SELECT e.event_type, count(*)::BIGINT AS n,
       sum(CASE WHEN e.value > s.med + 3 * 1.4826 * s.mad
                THEN 1 ELSE 0 END)::BIGINT AS n_outliers
FROM events e JOIN s USING (event_type)
GROUP BY e.event_type ORDER BY e.event_type
"""


def filter_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocklist-word density filter (the CCNet/RefinedWeb "bad words"
    screen): count blocklist-token hits per document and drop documents
    whose hit density exceeds 5%, reporting kept/dropped per source.
    The density test is INTEGER math (hits * 20 > n_tokens) so both
    engines compare exactly -- no float division in the gate.

    Plan: the token filter is a JVM higher-order function over the
    split array (whole-stage codegen, no Python); the only shuffle is
    the bounded groupBy(source).  At 100 TB the real blocklist (a few
    thousand terms) broadcasts as a literal IN set exactly like this
    three-word stand-in."""
    docs = _docs(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    hits = F.size(
        F.filter(toks, lambda t: t.isin("slow", "merge", "panic"))
    )
    return (
        docs.select(
            "source",
            hits.alias("hits"),
            F.size(toks).alias("n_tok"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum((F.col("hits") * 20 > F.col("n_tok")).cast("long"))
            .cast("long")
            .alias("n_dropped"),
            F.sum("hits").cast("long").alias("total_hits"),
        )
        .orderBy("source")
    )


FILTER_BLOCKLIST_SQL = """
WITH h AS (
  SELECT source,
         len(list_filter(string_split(text, ' '),
                         t -> t IN ('slow', 'merge', 'panic'))) AS hits,
         len(string_split(text, ' ')) AS n_tok
  FROM documents)
SELECT source, count(*)::BIGINT AS n_docs,
       sum(CASE WHEN hits * 20 > n_tok THEN 1 ELSE 0 END)::BIGINT
         AS n_dropped,
       sum(hits)::BIGINT AS total_hits
FROM h GROUP BY source ORDER BY source
"""


def events_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-active-users rollup: exact distinct user_id per day plus the
    event count.  The exact countDistinct is the oracle-comparable form;
    at 100 TB the same entry swaps to ``approx_count_distinct(user_id,
    0.01)`` (HLL++, one pass, mergeable sketches, no second shuffle) and
    the plan is otherwise identical.  Day emitted as yyyy-MM-dd string so
    both engines hash the same representation."""
    ev = _read_pq(spark, f"{sf_dir}/events.parquet")
    return (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .orderBy("day")
    )


EVENTS_DAU_SQL = """
SELECT strftime(ts, '%Y-%m-%d') AS day,
       count(DISTINCT user_id)::BIGINT AS n_users,
       count(*)::BIGINT AS n_events
FROM events GROUP BY 1 ORDER BY 1
"""


_KMV_K = 16  # sketch size; estimate = (k-1) / k-th smallest unit hash
_KMV_SCALE = float(1 << 52)  # 16^13 -- 13 hex digits fit a double exactly


def events_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-count SKETCH per event_type: K-minimum-values (KMV /
    bottom-k, Bar-Yossef et al. 2002) with k=16 -- the k-th smallest
    md5-derived unit hash r_k gives the unbiased estimate (k-1)/r_k,
    reported next to the exact count.  Unlike HLL the sketch is fully
    DETERMINISTIC (md5, first 13 hex digits = 52 bits, exact in a
    double), so the DuckDB oracle reproduces the estimate bit-for-bit --
    the gate a sketch operator normally can't have.  Groups with fewer
    than k members ARE their own sketch (estimate = exact, the standard
    KMV small-set case).

    Scale shape: this is how you count distincts at 100 TB -- the
    per-group state is k values however hot the key (mergeable across
    partitions; Spark's built-in approx_count_distinct is the same idea
    with HLL++), where exact countDistinct shuffles every distinct
    member.  The exact column here is the oracle anchor; production
    drops it."""
    from pyspark.sql.window import Window

    ev = _read_pq(spark, f"{sf_dir}/events.parquet")
    uh = (
        ev.select(
            "event_type", F.col("user_id").cast("string").alias("u")
        )
        .distinct()
        .withColumn(
            "h",
            F.conv(F.substring(F.md5("u"), 1, 13), 16, 10).cast("double")
            / F.lit(_KMV_SCALE),
        )
    )
    w = Window.partitionBy("event_type").orderBy(F.asc("h"), F.asc("u"))
    kth = (
        uh.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == _KMV_K)
        .select("event_type", F.col("h").alias("kth"))
    )
    exact = uh.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact")
    )
    return (
        exact.join(kth, "event_type", "left")
        .select(
            "event_type",
            "n_exact",
            F.round(
                F.coalesce(
                    F.lit(float(_KMV_K - 1)) / F.col("kth"),
                    F.col("n_exact").cast("double"),
                ),
                6,
            ).alias("n_est"),
        )
        .orderBy("event_type")
    )


EVENTS_KMV_SQL = f"""
WITH uh AS (SELECT DISTINCT event_type, user_id::VARCHAR AS u FROM events),
h AS (SELECT event_type, u,
        ('0x' || substr(md5(u), 1, 13))::UBIGINT::DOUBLE / {_KMV_SCALE!r} AS h
      FROM uh),
rk AS (SELECT event_type, h,
         row_number() OVER (PARTITION BY event_type
           ORDER BY h ASC, u ASC) AS rk
       FROM h),
kth AS (SELECT event_type, h AS kth FROM rk WHERE rk = {_KMV_K}),
ex AS (SELECT event_type, count(*)::BIGINT AS n_exact FROM uh GROUP BY 1)
SELECT ex.event_type, ex.n_exact,
       round(coalesce({float(_KMV_K - 1)!r} / kth.kth,
                      ex.n_exact::DOUBLE), 6) AS n_est
FROM ex LEFT JOIN kth USING (event_type)
ORDER BY ex.event_type
"""


def dedup_cross_source_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: for every unordered source pair,
    how many duplicate fingerprints appear in BOTH sources.  This is the
    dedup-lineage report a corpus curator reads to decide which feeds
    overlap (e.g. a CC snapshot re-crawling a mirrored site).  The
    fingerprint is the md5 of the first 8 tokens -- the prefix key used
    for headline/boilerplate overlap screens (full-text md5 plugs in
    unchanged when exact-body overlap is wanted).

    Plan: distinct (fingerprint, source) first -- collapses per-source
    copies so the self-join input is bounded by (#distinct prints x
    #sources), never row count -- then a hash-keyed equi-join restricted
    to src_a < src_b.  The source domain is tiny, so the output is at
    most |sources|^2 rows regardless of corpus size."""
    docs = _docs(spark, sf_dir)
    fp = F.md5(F.concat_ws(" ", F.slice(F.split("text", " "), 1, 8)))
    hs = docs.select(fp.alias("h"), "source").distinct()
    a, b = hs.alias("a"), hs.alias("b")
    return (
        a.join(b, "h")
        .where(F.col("a.source") < F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_hashes"))
        .orderBy("src_a", "src_b")
    )


CROSS_SOURCE_SQL = """
WITH hs AS (
  SELECT DISTINCT
    md5(array_to_string(string_split(text, ' ')[1:8], ' ')) AS h, source
  FROM documents)
SELECT a.source AS src_a, b.source AS src_b,
       count(*)::BIGINT AS n_shared_hashes
FROM hs a JOIN hs b USING (h)
WHERE a.source < b.source
GROUP BY 1, 2 ORDER BY 1, 2
"""


def corpus_vocab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-growth (Heaps-law) statistics per source: docs, token
    occurrences, distinct terms, and hapax legomena (terms seen exactly
    once in that source).  The hapax share is the standard first look at
    how noisy / OCR-damaged a feed is; distinct-vs-total is the Heaps
    curve point used to size term dictionaries before an index build.

    Plan: one shuffle to (source, term) for per-term counts, then a
    bounded groupBy(source) rollup -- the same two-level aggregation the
    index build's DF pass uses, so partial (map-side) aggregation absorbs
    the token explosion before any data moves."""
    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "source", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = tok.groupBy("source", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    stats = tf.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("tf").cast("long").alias("n_tokens"),
        F.sum((F.col("tf") == 1).cast("long")).cast("long").alias("n_hapax"),
    )
    ndocs = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
    return ndocs.join(stats, "source").orderBy("source")


VOCAB_STATS_SQL = """
WITH tok AS (
  SELECT source, unnest(string_split(text, ' ')) AS term FROM documents),
tf AS (
  SELECT source, term, count(*) AS tf FROM tok
  WHERE term <> '' GROUP BY source, term),
stats AS (
  SELECT source, count(*)::BIGINT AS n_terms, sum(tf)::BIGINT AS n_tokens,
         sum(CASE WHEN tf = 1 THEN 1 ELSE 0 END)::BIGINT AS n_hapax
  FROM tf GROUP BY source)
SELECT d.source, count(*)::BIGINT AS n_docs, min(s.n_terms) AS n_terms,
       min(s.n_tokens) AS n_tokens, min(s.n_hapax) AS n_hapax
FROM documents d JOIN stats s ON d.source = s.source
GROUP BY d.source ORDER BY d.source
"""


def pipeline_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking with overlap (size 50 tokens, stride 40):
    the context-window shaper that turns documents into overlapping
    training sequences, unlike pipeline_pack_chunks which packs disjoint
    greedy chunks.  Emits one row per chunk with its start offset and
    token length -- all-integer output, so the cross-engine gate is
    exact.

    Plan: chunk starts are a ``sequence()`` array built from each doc's
    own token count (whole-stage codegen), exploded map-side -- zero
    shuffle, and at 100 TB this stays a narrow map over the scan.

    A start s > 0 is emitted only while the PREVIOUS chunk was truncated
    (s + size - stride < n_tok, i.e. s <= n_tok - 11): otherwise the
    tail chunk would be a strict subset of its predecessor and those
    tokens would enter the training mix twice."""
    size, stride = 50, 40
    docs = _spread(spark, _docs(spark, sf_dir))
    n = F.size(F.split("text", " "))
    starts = F.sequence(
        F.lit(0),
        F.greatest(n - F.lit(size - stride + 1), F.lit(0)),
        F.lit(stride),
    )
    return (
        docs.select("doc_id", n.alias("n_tok"), starts.alias("starts"))
        .select(
            "doc_id",
            "n_tok",
            F.posexplode("starts").alias("chunk_idx", "start"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("long").alias("chunk_idx"),
            F.col("start").cast("long").alias("start"),
            F.least(F.lit(size), F.col("n_tok") - F.col("start"))
            .cast("long")
            .alias("chunk_len"),
        )
    )


CHUNK_OVERLAP_SQL = """
WITH n AS (
  SELECT doc_id, len(string_split(text, ' ')) AS n_tok FROM documents),
s AS (
  SELECT doc_id, n_tok,
         unnest(range(0, greatest(n_tok - 11, 0) + 1, 40)) AS start
  FROM n)
SELECT doc_id, (row_number() OVER (PARTITION BY doc_id ORDER BY start)
                - 1)::BIGINT AS chunk_idx,
       start::BIGINT AS start,
       least(50, n_tok - start)::BIGINT AS chunk_len
FROM s
"""


def text_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top-20 adjacent-token bigrams by pointwise
    mutual information, PMI = ln((n12 * N * N) / (B * n1 * n2)) with a
    min-count-3 support floor -- the standard multiword-expression
    detector run over a corpus before tokenizer/vocab decisions.

    Plan: bigrams come from an index-aware ``transform`` over the split
    array (map-side, no self-join on position); two count aggregations
    (unigram, bigram) plus two singleton totals broadcast into the final
    scoring join.  Both engines compute the PMI expression with the SAME
    association order, and the sort key is the 6dp-ROUNDED pmi with
    (w1, w2) tiebreak, so top-20 boundary rows cannot flip on a ulp."""
    docs = _spread(spark, _docs(spark, sf_dir))
    tok = docs.select(F.split("text", " ").alias("tok"))
    uni = (
        tok.select(F.explode("tok").alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairs = tok.select(
        F.explode(
            F.expr(
                "transform(slice(tok, 1, greatest(size(tok)-1, 0)),"
                " (t, i) -> struct(t AS w1, tok[i+1] AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    bi = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    n_tok = uni.agg(F.sum("c").alias("n")).select("n")
    n_big = bi.agg(F.sum("c12").alias("b")).select("b")
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    pmi = (
        F.col("c12").cast("double")
        * F.col("n").cast("double")
        * F.col("n").cast("double")
    ) / (
        F.col("b").cast("double")
        * F.col("c1").cast("double")
        * F.col("c2").cast("double")
    )
    return (
        bi.filter(F.col("c12") >= 3)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n_tok))
        .crossJoin(F.broadcast(n_big))
        .select(
            "w1",
            "w2",
            F.col("c12").cast("long").alias("n12"),
            F.round(F.log(pmi), 6).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(20)
    )


PMI_BIGRAMS_SQL = """
WITH t AS (SELECT string_split(text, ' ') AS tok FROM documents),
b AS (SELECT unnest(tok[1:len(tok)-1]) AS w1, unnest(tok[2:len(tok)]) AS w2
      FROM t),
bi AS (SELECT w1, w2, count(*) AS c12 FROM b GROUP BY w1, w2),
uni AS (SELECT unnest(tok) AS w FROM t),
u AS (SELECT w, count(*) AS c FROM uni WHERE w <> '' GROUP BY w),
tot AS (SELECT (SELECT sum(c) FROM u) AS n, (SELECT sum(c12) FROM bi) AS b)
SELECT bi.w1, bi.w2, bi.c12::BIGINT AS n12,
       round(ln((bi.c12::DOUBLE * tot.n::DOUBLE * tot.n::DOUBLE)
                / (tot.b::DOUBLE * u1.c::DOUBLE * u2.c::DOUBLE)), 6) AS pmi
FROM bi
JOIN u u1 ON bi.w1 = u1.w
JOIN u u2 ON bi.w2 = u2.w
CROSS JOIN tot
WHERE bi.c12 >= 3
ORDER BY pmi DESC, bi.w1, bi.w2 LIMIT 20
"""


# ---------------------------------------------------------------------------
# Text analysis (training-data pipeline) -- SQL-checked
# ---------------------------------------------------------------------------


def _md5_bucket(col, mod: int):
    """Deterministic bucket in [0, mod): first 8 hex chars of
    md5(str(col)) as an integer, modulo ``mod``.  The ONE bucketing rule
    shared by the split assignment (sample_split), the temperature
    sampler's uniform draw, and the leakage report's train/eval sides --
    these MUST agree or the leakage audit inspects the wrong split."""
    return (
        F.conv(F.substring(F.md5(col.cast("string")), 1, 8), 16, 10).cast(
            "long"
        )
        % mod
    )


def sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic leakage-free train/val/test split (98/1/1) by
    md5(doc_id) bucket -- the standard assignment for training corpora
    (hashing the stable key means re-runs, resharding and incremental
    appends never move a document across splits).  Pure column math; at
    100 TB this is a map-only pass with a 3-group aggregate."""
    docs = _docs(spark, sf_dir)
    bucket = _md5_bucket(F.col("doc_id"), 100)
    split = (
        F.when(bucket < 98, F.lit("train"))
        .when(bucket < 99, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return docs.select(split.alias("split"), "doc_id").groupBy("split").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("doc_id").alias("min_id"),
        F.max("doc_id").alias("max_id"),
    )


SAMPLE_SPLIT_SQL = """
WITH assigned AS (
  SELECT doc_id,
         CASE
           WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UBIGINT::BIGINT % 100 < 98 THEN 'train'
           WHEN ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UBIGINT::BIGINT % 100 < 99 THEN 'val'
           ELSE 'test'
         END AS split
  FROM documents)
SELECT split, count(*)::BIGINT AS n,
       min(doc_id) AS min_id, max(doc_id) AS max_id
FROM assigned GROUP BY split
"""


def sample_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota sampling: keep the first K=20 docs (by doc_id) of
    every source -- the standard domain-spam control in web pipelines (one
    boilerplate farm can't dominate the training mix).  Window per source:
    the shuffle key is the source, so skew is bounded by the cap itself
    once AQE splits oversized partitions; output is the kept (source,
    doc_id) pairs plus each source's total."""
    from pyspark.sql.window import Window

    docs = _docs(spark, sf_dir).select("source", "doc_id")
    w = Window.partitionBy("source").orderBy("doc_id")
    tot = Window.partitionBy("source")
    return (
        docs.withColumn("rn", F.row_number().over(w))
        .withColumn("source_total", F.count(F.lit(1)).over(tot))
        .filter(F.col("rn") <= 20)
        .select("source", "doc_id", "source_total")
    )


SAMPLE_SOURCE_CAP_SQL = """
SELECT source, doc_id, source_total
FROM (
  SELECT source, doc_id,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn,
         count(*) OVER (PARTITION BY source)::BIGINT AS source_total
  FROM documents)
WHERE rn <= 20
"""


def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting: whitespace tokens + regex word-ish tokens."""
    docs = _docs(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+|[0-9]+"), 0))
        .cast("long")
        .alias("re_tokens"),
    )


TOKEN_COUNT_SQL = """
SELECT doc_id, len(string_split(text, ' '))::BIGINT AS ws_tokens,
       len(regexp_extract_all(text, '[a-z]+|[0-9]+'))::BIGINT AS re_tokens
FROM documents
"""


def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length, type-token ratio, mean word length,
    stopword ratio (en stoplist sample)."""
    # split ONCE into an aliased array column (its own projection so
    # CollapseProject keeps it -- the expression is referenced 6x and the
    # old single-select form re-split the text per reference in the
    # interpreted Project, ~6x the per-row work; guide SS1.2 step 2).
    # _spread engages all cores: the single-row-group scan otherwise runs
    # the whole interpreted Project on one task (1.12 s -> 0.48 s at sf1).
    docs = _spread(spark, _docs(spark, sf_dir))
    base = docs.select(
        "doc_id",
        F.length("text").alias("_len"),
        F.split("text", " ").alias("w"),
    )
    stop = F.array(*[F.lit(x) for x in ("the", "a", "of", "and")])
    n = F.size("w").cast("double")
    uniq = F.size(F.array_distinct("w")).cast("double")
    stop_n = F.size(
        F.filter("w", lambda x: F.array_contains(stop, x))
    ).cast("double")
    return base.select(
        "doc_id",
        F.size("w").cast("long").alias("n_tokens"),
        F.round(uniq / n, 6).alias("ttr"),
        F.round((F.col("_len") - (n - 1)) / n, 6).alias("mean_word_len"),
        F.round(stop_n / n, 6).alias("stopword_ratio"),
    )


QUALITY_SQL = """
SELECT doc_id,
       len(string_split(text, ' '))::BIGINT AS n_tokens,
       round(len(list_distinct(string_split(text, ' ')))
             / len(string_split(text, ' '))::DOUBLE, 6) AS ttr,
       round((length(text) - (len(string_split(text, ' ')) - 1))
             / len(string_split(text, ' '))::DOUBLE, 6) AS mean_word_len,
       round(len(list_filter(string_split(text, ' '),
                             x -> x IN ('the', 'a', 'of', 'and')))
             / len(string_split(text, ' '))::DOUBLE, 6) AS stopword_ratio
FROM documents
"""


# per-language function-word lists for the stopword-voting language
# identifier; shared words (e.g. "en", "a") may appear in several lists --
# each list votes independently and the argmax decides
_LANGID_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "and", "of", "to", "in", "is", "for", "with", "that"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "mit", "von", "zu", "ein"),
    "fr": ("le", "la", "les", "et", "est", "dans", "pour", "que", "une", "des"),
    "es": ("el", "los", "las", "y", "es", "en", "por", "para", "una", "con"),
}


def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic: per-language function-word voting over 4
    languages; pred = argmax score with deterministic (score desc, lang
    asc) tie-break, 'unknown' when no list matched.  Output is the
    confusion matrix vs the labeled lang column.  All column math
    (split/filter/array_sort) -- no UDF, whole-stage codegen at scale."""
    docs = _docs(spark, sf_dir)
    w = F.split("text", " ")
    # array of (negated score, lang) structs: ascending sort puts the
    # highest score first, ties broken by lang name ascending
    def _score(words: tuple[str, ...]):
        # closure factory: a default-arg lambda would present a 2-arg
        # signature to F.filter (which would bind the element INDEX to it)
        return F.size(F.filter(w, lambda x: x.isin(*words)))

    scored = F.array_sort(
        F.array(
            *[
                F.struct(
                    (-_score(words)).cast("long").alias("neg"),
                    F.lit(lang).alias("lang"),
                )
                for lang, words in sorted(_LANGID_STOPWORDS.items())
            ]
        )
    )
    best = scored[0]
    pred = F.when(best["neg"] < 0, best["lang"]).otherwise(F.lit("unknown"))
    return (
        docs.select("lang", pred.alias("pred"))
        .groupBy("lang", "pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _langid_score_sql(words: tuple[str, ...]) -> str:
    quoted = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter(string_split(text, ' '), x -> x IN ({quoted})))"


# argmax as a CASE chain in tie-break order (score desc, lang asc):
# de wins ties over en over es over fr, matching the Spark array_sort
LANGID_SQL = f"""
WITH scores AS (
  SELECT lang,
         {", ".join(f"{_langid_score_sql(ws)} AS s_{lang}" for lang, ws in sorted(_LANGID_STOPWORDS.items()))}
  FROM documents)
SELECT lang,
       CASE
         WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'unknown'
         WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
         WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
         WHEN s_es >= s_fr THEN 'es'
         ELSE 'fr'
       END AS pred,
       count(*)::BIGINT AS n
FROM scores GROUP BY 1, 2
"""


def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: min-hash shingle fingerprint + shingle
    cardinality (winnowing-lite)."""
    sh = _shingles(_docs(spark, sf_dir))
    return sh.groupBy("doc_id").agg(
        F.substring(F.min(F.md5("shingle")), 1, 16).alias("fingerprint"),
        F.count(F.lit(1)).alias("n_shingles"),
    )


FINGERPRINT_SQL = f"""
WITH sh AS ({_SQL_SHINGLES})
SELECT doc_id, substr(min(md5(shingle)), 1, 16) AS fingerprint,
       count(*)::BIGINT AS n_shingles
FROM sh GROUP BY doc_id
"""


_WINNOW_K = 3  # k-gram width (words)
_WINNOW_W = 4  # winnowing window (k-gram positions)


def text_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003):
    per doc the SET of selected (position, hash) fingerprints -- from
    every window of W=4 consecutive word-3-gram hashes keep the minimum,
    RIGHTMOST on ties (repeated shingles make hash ties real, so the tie
    rule must be explicit for cross-engine determinism).  Winnowing
    guarantees any match of length >= W+K-1 tokens shares at least one
    selected fingerprint, and the selection survives insertions that a
    single whole-doc minhash (text_fingerprint) does not -- this is the
    partial-plagiarism / quote-lifting detection primitive.  Hashes are
    the first 13 md5 hex digits as BIGINT (52 bits, exact everywhere).

    Scale shape: gram hashes come from ONE lead() window pass over the
    token stream (no gram self-join); window minima are a doc-LOCAL
    range join with multiplier W=4 -- keyed by doc_id, so it never
    shuffles across documents; output is bounded by ~2/(W+1) of gram
    count per doc (the winnowing density guarantee)."""
    from pyspark.sql import Window

    docs = _spread(spark, _docs(spark, sf_dir))
    toks = docs.select(
        "doc_id", F.posexplode(F.split("text", " ")).alias("p0", "tok")
    ).select("doc_id", (F.col("p0") + 1).alias("pos"), "tok")
    w = Window.partitionBy("doc_id").orderBy("pos")
    gram = F.concat_ws(
        " ",
        "tok",
        *[F.lead("tok", i).over(w) for i in range(1, _WINNOW_K)],
    )
    grams = (
        toks.select(
            "doc_id",
            "pos",
            gram.alias("gram"),
            F.lead("tok", _WINNOW_K - 1).over(w).alias("_full"),
        )
        .filter(F.col("_full").isNotNull())  # only complete k-grams
        .select(
            "doc_id",
            "pos",
            F.conv(F.substring(F.md5("gram"), 1, 13), 16, 10)
            .cast("long")
            .alias("h"),
        )
    )
    # Window minima via ONE more window pass over the same doc-local sort
    # (guide SS2.4): the previous form materialized every (window start,
    # member) pair through a doc_id-equi range join -- n_grams^2 rows per
    # doc generated by the SortMergeJoin before the range filter kept
    # 4n (measured 7.5 s at sf1.0; 125M intermediate pairs).  grams has
    # exactly one row per pos 1..m, so min(struct(h, -pos)) over
    # rowsBetween(0, W-1) IS the per-window (h asc, pos desc) winner,
    # and the start-position filter (pos <= max(m - W + 1, 1), the MOSS
    # short-doc clamp) comes from a max window over the same partition
    # -- no join, no second shuffle (same doc_id partitioning).
    wfull = Window.partitionBy("doc_id")
    wsel = (
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(0, _WINNOW_W - 1)
    )
    sel = grams.select(
        "doc_id",
        "pos",
        F.min(
            F.struct(F.col("h").alias("h"), (-F.col("pos")).alias("np"))
        )
        .over(wsel)
        .alias("w"),
        F.max("pos").over(wfull).alias("m"),
    ).filter(
        F.col("pos")
        <= F.greatest(F.col("m") - (_WINNOW_W - 1), F.lit(1))
    )
    return (
        sel.select(
            "doc_id",
            (-F.col("w.np")).cast("long").alias("pos"),
            F.col("w.h").alias("fp"),
        )
        .distinct()
        .orderBy("doc_id", "pos")
    )


WINNOW_SQL = f"""
WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
grams AS (
  SELECT doc_id, i AS pos,
         ('0x' || substr(md5(array_to_string(w[i:i+{_WINNOW_K - 1}], ' ')),
                         1, 13))::UBIGINT::BIGINT AS h
  FROM (SELECT doc_id, w,
               unnest(range(1, len(w) - {_WINNOW_K} + 2)) AS i
        FROM words)),
m AS (SELECT doc_id, max(pos) AS m FROM grams GROUP BY doc_id),
win AS (
  SELECT g.doc_id, g.pos AS s, q.pos, q.h,
         row_number() OVER (PARTITION BY g.doc_id, g.pos
                            ORDER BY q.h ASC, q.pos DESC) AS rk
  FROM grams g
  JOIN m USING (doc_id)
  JOIN grams q ON q.doc_id = g.doc_id
              AND q.pos BETWEEN g.pos AND g.pos + {_WINNOW_W - 1}
  WHERE g.pos <= greatest(m.m - {_WINNOW_W - 1}, 1))
SELECT DISTINCT doc_id, pos::BIGINT AS pos, h AS fp
FROM win WHERE rk = 1
ORDER BY doc_id, pos
"""


def _word_ngrams(w, n, k: int):
    """Array column of word ``k``-grams of ``w`` (size column ``n``),
    joined with single spaces; empty array when the doc has fewer than
    ``k`` words.  The guard matters: Spark's ``sequence(1, 0)`` counts
    DOWN (yields ``[1, 0]``), it does not return an empty range, and
    CASE WHEN evaluates only the taken branch so the descending sequence
    is never built."""
    idx = F.sequence(F.lit(1), n - (k - 1))
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(w, i + off) for off in range(k)]
        ),
    )
    return F.when(n >= k, grams).otherwise(
        F.array().cast("array<string>")
    )


def _explode_nn(col):
    """``explode_outer`` + not-null filter instead of plain ``explode``.

    Semantically identical for arrays without null elements (ours never
    hold any: concat_ws is never null), but plain explode triggers the
    optimizer's InferFiltersFromGenerate rule, which INLINES the whole
    generator-child expression into a pre-Generate ``size(..) > 0 AND
    isnotnull(..)`` Filter.  When that child is an expensive computed
    array (split + transform + array_distinct), the filter re-evaluates
    it twice more per input row -- and the CodegenFallback expressions
    drop the stage out of whole-stage codegen, so all three evaluations
    run interpreted: measured 9-12 s vs 0.5-1.4 s at sf0.1 for the
    decontamination ops.  The rule skips OUTER generates, so the array
    is built once per row and the cheap not-null filter runs on the
    exploded column instead."""
    return F.explode_outer(col)


def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/MassiveText-style per-document repetition signals (Rae et
    al. 2021, table A1): fraction of duplicated word 2-grams and 3-grams
    and the most-frequent-word mass.  Training pipelines drop documents
    above thresholds on exactly these columns (e.g. dup-2gram > 0.2).
    All doc-local array math -- a map-only pass with no shuffle, the
    shape that holds at 100 TB; the per-doc distinct x scan product in
    ``top_word_frac`` is bounded by the page length.

    The arrays are MATERIALIZED in a projection before the nested
    lambdas touch them: a lambda that closes over an expression (not a
    bound column) makes Catalyst re-evaluate that whole expression per
    outer element -- O(len^2) array builds per document, measured 14x
    slower at sf0.1."""
    docs = _spread(spark, _docs(spark, sf_dir))
    w, n = F.col("ws"), F.size("ws")
    arrs = docs.select(
        "doc_id",
        F.split("text", " ").alias("ws"),
    ).select(
        "doc_id",
        "ws",
        _word_ngrams(w, n, 2).alias("g2"),
        _word_ngrams(w, n, 3).alias("g3"),
    )

    def _dup_frac(g):
        return F.when(
            F.size(g) > 0,
            F.round(
                F.lit(1.0) - F.size(F.array_distinct(g)) / F.size(g), 6
            ),
        ).otherwise(F.lit(0.0))

    # top word count via explode + two-level aggregation instead of the
    # interpreted distinct x filter lambda product (O(distinct * len)
    # array allocations per doc; the aggregation is the same map-side-
    # combined shape text_entropy uses, and both frames are already
    # hash-partitioned by doc_id so the join adds no exchange on the
    # array side)
    top_counts = (
        arrs.select("doc_id", F.explode("ws").alias("tw"))
        .groupBy("doc_id", "tw")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy("doc_id")
        .agg(F.max("c").alias("top"))
    )
    # the map-side metrics are FINISHED before the join so the planner
    # cannot re-inline the g2/g3 expressions into the dup_frac lambdas
    # through the join projection (the per-element re-evaluation trap in
    # the docstring -- doing the select after the join measured 14x)
    base = arrs.select(
        "doc_id",
        n.cast("long").alias("n_words"),
        _dup_frac(F.col("g2")).alias("dup_2gram_frac"),
        _dup_frac(F.col("g3")).alias("dup_3gram_frac"),
        n.alias("_n"),
    )
    # left join: a null-text doc has no exploded word and keeps its row
    # with a null top_word_frac
    return base.join(top_counts, "doc_id", "left").select(
        "doc_id",
        "n_words",
        "dup_2gram_frac",
        "dup_3gram_frac",
        F.round(F.col("top") / F.col("_n"), 6).alias("top_word_frac"),
    )


REPETITION_SQL = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
g AS (SELECT doc_id, ws,
  CASE WHEN len(ws) >= 2 THEN list_transform(generate_series(1, len(ws)-1),
       i -> ws[i] || ' ' || ws[i+1]) ELSE []::VARCHAR[] END AS g2,
  CASE WHEN len(ws) >= 3 THEN list_transform(generate_series(1, len(ws)-2),
       i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
       ELSE []::VARCHAR[] END AS g3
  FROM w)
SELECT doc_id, len(ws)::BIGINT AS n_words,
  round(CASE WHEN len(g2) > 0
        THEN 1 - len(list_distinct(g2)) / len(g2)::DOUBLE
        ELSE 0.0 END, 6) AS dup_2gram_frac,
  round(CASE WHEN len(g3) > 0
        THEN 1 - len(list_distinct(g3)) / len(g3)::DOUBLE
        ELSE 0.0 END, 6) AS dup_3gram_frac,
  round(list_max(list_transform(list_distinct(ws),
        x -> len(list_filter(ws, y -> y = x)))) / len(ws)::DOUBLE, 6)
    AS top_word_frac
FROM g
"""


def sample_lang_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-based language rebalancing (the multilingual sampling
    rule of XLM-R/mBERT: p_l ~ (c_l)^alpha with alpha < 1 flattens the
    language mix so high-resource languages stop dominating).  Keeps an
    expected 50% of the corpus with per-language keep rates
    rate_l = min(1, 0.5 * total * (c_l^0.3 / sum c^0.3) / c_l), decided
    deterministically per document by an md5(doc_id) bucket -- re-runs
    and appends never flip a document's fate.  The keep decision compares
    INTEGER ppm values (rate rounded to 1e-6) so no float comparison
    crosses the engine boundary.  Scale shape: lang counts are map-side
    combined (each task emits <= n_langs rows), the 5-row rate table is
    broadcast back -- one tiny agg plus a map-only filter."""
    docs = _docs(spark, sf_dir).select("lang", "doc_id")
    c = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    s = c.agg(
        F.sum(F.pow("c", F.lit(0.3))).alias("sw"),
        F.sum("c").alias("tot"),
    )
    rate = (
        c.crossJoin(F.broadcast(s))
        .select(
            "lang",
            F.round(
                F.least(
                    F.lit(1.0),
                    0.5
                    * F.col("tot")
                    * (F.pow("c", F.lit(0.3)) / F.col("sw"))
                    / F.col("c"),
                )
                * 1e6,
                0,
            )
            .cast("long")
            .alias("rate_ppm"),
        )
    )
    u_ppm = _md5_bucket(F.col("doc_id"), 1000000)
    return (
        docs.join(F.broadcast(rate), "lang")
        .where(u_ppm < F.col("rate_ppm"))
        .select("lang", "doc_id", "rate_ppm")
    )


SAMPLE_LANG_TEMPERATURE_SQL = """
WITH c AS (SELECT lang, count(*)::DOUBLE AS c FROM documents GROUP BY lang),
s AS (SELECT sum(pow(c, 0.3)) AS sw, sum(c) AS tot FROM c),
r AS (SELECT lang,
        round(least(1.0, 0.5 * tot * (pow(c, 0.3) / sw) / c) * 1e6)::BIGINT
          AS rate_ppm
      FROM c, s)
SELECT d.lang, d.doc_id, r.rate_ppm
FROM documents d JOIN r USING (lang)
WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))::UBIGINT::BIGINT
      % 1000000 < r.rate_ppm
"""


def text_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document word-level Shannon entropy in nats -- the lexical-
    diversity quality signal that catches low-entropy template/spam text
    a type-token ratio misses (a doc repeating two words 50/50 has TTR
    0.02 but also entropy ln 2; a diverse doc has entropy near ln n).
    Computed via the one-aggregation identity

        H = ln(n) - (sum over words of c*ln(c)) / n

    so each doc needs ONE pass over its (word, count) rows; the result
    rounds to 6dp (the same float-ln-across-engines discipline as
    text_unigram_nll, gated green at both SFs).

    Scale plan: one corpus-sized groupBy(doc_id, word) with map-side
    combine (the dominant shuffle, same shape as the TF pass), then a
    per-doc agg over the (bounded) distinct-word rows.  No broadcast, no
    UDF, no global sort."""
    docs = _spread(spark, _docs(spark, sf_dir))
    c = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("w")
        )
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    return c.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_words"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.round(
            F.log(F.sum("c")) - F.sum(F.col("c") * F.log("c")) / F.sum("c"),
            6,
        ).alias("entropy_nats"),
    )


TEXT_ENTROPY_SQL = """
WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
           FROM documents),
c AS (SELECT doc_id, w, count(*)::DOUBLE AS c FROM t GROUP BY doc_id, w)
SELECT doc_id,
       sum(c)::BIGINT AS n_words,
       count(*)::BIGINT AS n_distinct,
       round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy_nats
FROM c GROUP BY doc_id
"""


def pipeline_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic output-shard assignment + manifest -- the final
    step of every training-data pipeline: route each document to one of
    S shards by the md5(doc_id) bucket (the SAME bucketing rule as the
    train/val/test split, so shard routing never fights the split), and
    emit the per-shard manifest a writer publishes next to the files:
    doc count, token count, doc_id range, and each shard's integer-ppm
    token share (the balance audit -- md5 routing balances shards
    statistically, and the manifest is where a skewed shard would show).

    Scale plan: ONE map-side-combinable groupBy(shard) over map-only
    derived columns; the share join is a window over the S manifest rows
    (bounded by the shard count, not the corpus).  Divide-before-
    multiply is avoided: share_ppm = (tokens * 1e6) div total stays in
    int64 for any corpus below ~9e12 total tokens; beyond that a real
    run widens to decimal(38,0) -- the same note as corpus_mixture."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    s = docs.select(
        _md5_bucket(F.col("doc_id"), 16).cast("int").alias("shard"),
        F.col("doc_id"),
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_tokens"),
    )
    m = s.groupBy("shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        F.min("doc_id").alias("min_doc_id"),
        F.max("doc_id").alias("max_doc_id"),
    )
    w = Window.partitionBy()
    return m.withColumn("total", F.sum("n_tokens").over(w)).select(
        "shard",
        "n_docs",
        "n_tokens",
        "min_doc_id",
        "max_doc_id",
        F.expr("(n_tokens * 1000000) div total")
        .cast("long")
        .alias("share_ppm"),
    )


SHARD_MANIFEST_SQL = """
WITH s AS (
  SELECT ('0x' || substr(md5(doc_id::VARCHAR), 1, 8))::UBIGINT::BIGINT % 16
           AS shard,
         doc_id,
         len(string_split(text, ' '))::BIGINT AS n_tokens
  FROM documents),
m AS (SELECT shard, count(*)::BIGINT AS n_docs, sum(n_tokens)::BIGINT
        AS n_tokens, min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
      FROM s GROUP BY shard)
SELECT shard::INT AS shard, n_docs, n_tokens, min_doc_id, max_doc_id,
       ((n_tokens * 1000000) // sum(n_tokens) OVER ())::BIGINT AS share_ppm
FROM m
"""


def sample_epoch_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source epoch mixing -- the data-mixing primitive behind every
    modern pretraining corpus (Llama upsamples Wikipedia ~2.4 epochs and
    books ~2.2 while Common Crawl runs ~1.0; DoReMi learns the weights):
    each source carries a target epoch count ``epochs_milli`` and every
    document is replicated floor(epochs) times plus one more copy with
    probability frac(epochs), decided deterministically by an
    md5(doc_id) bucket so re-runs and appends never flip a document's
    fate (epochs < 1.0 therefore DOWN-samples through the same rule).
    In production the weight table is an input; here it is synthesized
    deterministically from the source key (500 + md5(source) % 3000
    milli-epochs, i.e. 0.5x-3.5x -- the same non-trivial-gate injection
    pattern as text_pii_redact), exercising both the multi-copy and the
    fractional-drop paths.

    Scale shape: the weight table comes from one bounded
    distinct(source) (a shuffle whose post-combine volume is n_sources
    rows, same shape as filter_domain_spam's groupBy(source)) and is
    broadcast back; the corpus side is then ONE map-only pass -- copies
    = epochs_milli div 1000 + (md5_bucket < epochs_milli % 1000), then a
    posexplode of an array_repeat (generator input is a tiny computed
    array; OUTER variant + not-null filter sidesteps the
    InferFiltersFromGenerate re-evaluation trap, see _explode_nn).  The
    corpus itself never shuffles; the output is written partitioned
    downstream exactly like the input."""
    docs = _docs(spark, sf_dir).select("doc_id", "source")
    w = docs.select("source").distinct().select(
        "source",
        (F.lit(500) + _md5_bucket(F.col("source"), 3000))
        .cast("long")
        .alias("epochs_milli"),
    )
    j = docs.join(F.broadcast(w), "source").withColumn(
        "copies",
        (
            F.expr("epochs_milli div 1000")
            + F.when(
                _md5_bucket(F.col("doc_id"), 1000)
                < F.col("epochs_milli") % 1000,
                F.lit(1),
            ).otherwise(F.lit(0))
        ).cast("int"),
    )
    return (
        j.select(
            "doc_id",
            "source",
            "epochs_milli",
            F.posexplode_outer(F.array_repeat(F.lit(1), F.col("copies"))),
        )
        .where(F.col("pos").isNotNull())
        .select(
            "doc_id",
            "source",
            "epochs_milli",
            F.col("pos").cast("long").alias("epoch"),
        )
    )


SAMPLE_EPOCH_MIX_SQL = """
WITH w AS (
  SELECT DISTINCT source,
         (500 + ('0x' || substr(md5(source), 1, 8))::UBIGINT::BIGINT % 3000)
           ::BIGINT AS epochs_milli
  FROM documents),
j AS (
  SELECT d.doc_id, d.source, w.epochs_milli,
         (w.epochs_milli // 1000
          + CASE WHEN ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 8))
                       ::UBIGINT::BIGINT % 1000 < w.epochs_milli % 1000
                 THEN 1 ELSE 0 END)::BIGINT AS copies
  FROM documents d JOIN w USING (source))
SELECT doc_id, source, epochs_milli,
       unnest(generate_series(0, copies - 1))::BIGINT AS epoch
FROM j WHERE copies >= 1
"""


def text_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level boilerplate phrase mining: word 3-grams that recur in
    >= 5 distinct documents, with document frequency and total occurrence
    count -- the detector behind navigation/footer stripping in web
    pipelines (a 3-gram that appears verbatim across many pages is
    template text, not content).  Per-doc (ngram, count) pairs are built
    doc-locally (map-only), so the job's ONLY shuffle is the final
    groupBy(ngram) -- the aggregation is map-side combined and the df
    filter prunes the long tail before it is ever collected.  ``g3`` is
    materialized via projection BEFORE the nested count lambda reads it
    (same Catalyst re-evaluation trap as text_repetition: an expression
    closed over by a lambda is rebuilt per outer element)."""
    docs = _spread(spark, _docs(spark, sf_dir))
    w, n = F.col("ws"), F.size("ws")
    arrs = docs.select("doc_id", F.split("text", " ").alias("ws")).select(
        "doc_id", _word_ngrams(w, n, 3).alias("g3")
    )
    g3 = F.col("g3")
    pairs = F.transform(
        F.array_distinct(g3),
        lambda x: F.struct(
            x.alias("ng"),
            F.size(F.filter(g3, lambda y: y == x)).cast("long").alias("cnt"),
        ),
    )
    ex = (
        arrs.select(_explode_nn(pairs).alias("p"))
        .where(F.col("p").isNotNull())
        .select(F.col("p.ng").alias("ngram"), F.col("p.cnt").alias("cnt"))
    )
    return (
        ex.groupBy("ngram")
        .agg(
            F.count(F.lit(1)).cast("long").alias("df"),
            F.sum("cnt").cast("long").alias("total"),
        )
        .where(F.col("df") >= 5)
    )


BOILERPLATE_NGRAMS_SQL = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
h AS (SELECT doc_id,
        CASE WHEN len(ws) >= 3
          THEN list_transform(generate_series(1, len(ws)-2),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])
          ELSE []::VARCHAR[] END AS g3
      FROM w),
g AS (SELECT doc_id, unnest(g3) AS ng FROM h),
per AS (SELECT doc_id, ng, count(*) AS cnt FROM g GROUP BY 1, 2)
SELECT ng AS ngram, count(*)::BIGINT AS df, sum(cnt)::BIGINT AS total
FROM per GROUP BY ng HAVING count(*) >= 5
"""


def pipeline_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eval-set decontamination: flag training documents sharing any word
    n-gram with a held-out benchmark set -- the standard pre-training
    hygiene pass (GPT-3 used 13-grams, Llama 8-grams; k=3 here because
    the synthetic corpus has a ~30-word vocabulary, so longer grams are
    all unique and the gate would be vacuous).  The "eval set" is a
    deterministic slice of the corpus (doc_id % 97 == 0 -- no external
    data); everything else is the training side.  Returns one row per
    CONTAMINATED training doc: distinct-n-gram hit count, the doc's
    distinct-n-gram total, and the contamination ratio.

    Scale plan: n-grams are built doc-locally (map-only) and deduped
    per doc BEFORE the explode; the eval n-gram set is tiny relative to
    the corpus by construction (benchmarks are ~1e4 docs vs 1e12), so
    the membership probe is a BROADCAST semi-join -- no shuffle of the
    training side at any size; the only shuffle is the final per-doc
    groupBy, over hit rows only (contamination is rare at scale)."""
    K = 3
    docs = _spread(spark, _docs(spark, sf_dir))
    w, n = F.col("ws"), F.size("ws")
    grams = docs.select("doc_id", F.split("text", " ").alias("ws")).select(
        "doc_id", F.array_distinct(_word_ngrams(w, n, K)).alias("g")
    )
    ev = (
        grams.where(F.col("doc_id") % 97 == 0)
        .select(_explode_nn("g").alias("ng"))
        .where(F.col("ng").isNotNull())
        .distinct()
    )
    tr = grams.where(F.col("doc_id") % 97 != 0).select(
        "doc_id", F.size("g").alias("n_ngrams"), _explode_nn("g").alias("ng")
    ).where(F.col("ng").isNotNull())
    return (
        tr.join(F.broadcast(ev), "ng")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hits"),
            F.max("n_ngrams").cast("long").alias("n_ngrams"),
        )
        .select(
            "doc_id",
            "n_hits",
            "n_ngrams",
            F.round(F.col("n_hits") / F.col("n_ngrams"), 6).alias(
                "contam_ratio"
            ),
        )
    )


DECONTAMINATE_SQL = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
h AS (SELECT doc_id,
        CASE WHEN len(ws) >= 3
          THEN list_distinct(list_transform(generate_series(1, len(ws)-2),
               i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
          ELSE []::VARCHAR[] END AS g
      FROM w),
e AS (SELECT DISTINCT unnest(g) AS ng FROM h WHERE doc_id % 97 = 0),
t AS (SELECT doc_id, len(g) AS n_ngrams, unnest(g) AS ng
      FROM h WHERE doc_id % 97 != 0)
SELECT doc_id, count(*)::BIGINT AS n_hits, max(n_ngrams)::BIGINT AS n_ngrams,
       round(count(*)::DOUBLE / max(n_ngrams), 6) AS contam_ratio
FROM t JOIN e USING (ng) GROUP BY doc_id
"""


def dedup_span_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring (duplicated-span) dedup statistics, the Lee et al.
    2021 "Deduplicating Training Data Makes Language Models Better"
    pass adapted to word k-grams: any k-word span whose exact text also
    appears in ANOTHER document is marked for removal everywhere except
    in its canonical owner (the min doc_id containing it -- the
    deterministic "keep one copy" rule).  k=8 here (the paper uses
    50-token spans; this corpus has a ~30-word vocabulary, so 8 already
    gives a non-vacuous duplicate set).  Returns one row per document:
    word count, duplicated-span count, the number of words covered by
    the union of duplicated spans (overlaps counted once), and the
    removal fraction -- exactly what a span-rewrite pass would cut.

    Scale plan: grams are built doc-locally (map-only explode); the
    cross-corpus step is ONE shuffle -- a window over ``ng`` computing
    min/max doc_id (min != max <=> appears in >= 2 docs, min = owner),
    which replaces the groupBy(ng) + join-back pair (two shuffles + a
    re-scan of the gram stream) with a single exchange + sort.  The
    span-union length is computed per doc with JVM higher-order
    functions (flatten/array_distinct over position ranges), never in
    Python.  A boilerplate mega-gram lands in one ng partition; AQE
    skew-split handles it (caps as in dedup_minhash_pairs would apply
    if rewrite payloads were carried -- only positions are).
    """
    K = 8
    docs = _spread(spark, _docs(spark, sf_dir))
    base = docs.select(
        "doc_id", F.split("text", " ").alias("ws")
    ).select("doc_id", F.col("ws"), F.size("ws").alias("n_words"))
    w, n = F.col("ws"), F.col("n_words")
    idx = F.sequence(F.lit(1), n - (K - 1))
    grams = F.when(
        n >= K,
        F.transform(
            idx,
            lambda i: F.struct(
                (i - 1).cast("int").alias("pos"),
                F.concat_ws(
                    " ", *[F.element_at(w, i + off) for off in range(K)]
                ).alias("ng"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,ng:string>>"))
    ex = (
        base.select("doc_id", _explode_nn(grams).alias("g"))
        .where(F.col("g").isNotNull())
        .select(
            "doc_id", F.col("g.pos").alias("pos"), F.col("g.ng").alias("ng")
        )
    )
    from pyspark.sql.window import Window

    wn = Window.partitionBy("ng")
    dup = (
        ex.withColumn("owner", F.min("doc_id").over(wn))
        .withColumn("mx", F.max("doc_id").over(wn))
        .where((F.col("owner") != F.col("mx")) & (F.col("doc_id") != F.col("owner")))
    )
    per = dup.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_dup_spans"),
        F.size(
            F.array_distinct(
                F.flatten(
                    F.collect_list(
                        F.sequence(F.col("pos"), F.col("pos") + F.lit(K - 1))
                    )
                )
            )
        )
        .cast("long")
        .alias("n_removed_words"),
    )
    return (
        base.select("doc_id", "n_words")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_words").cast("long").alias("n_words"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
            F.coalesce("n_removed_words", F.lit(0))
            .cast("long")
            .alias("n_removed_words"),
            F.round(
                F.coalesce("n_removed_words", F.lit(0)) / F.col("n_words"), 6
            ).alias("removed_frac"),
        )
    )


DEDUP_SPAN_SQL = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
g AS (SELECT doc_id, i - 1 AS pos, array_to_string(ws[i:i+7], ' ') AS ng
      FROM w, unnest(generate_series(1, len(ws) - 7)) AS t(i)
      WHERE len(ws) >= 8),
s AS (SELECT ng, min(doc_id) AS owner FROM g
      GROUP BY ng HAVING count(DISTINCT doc_id) >= 2),
d AS (SELECT g.doc_id, g.pos FROM g JOIN s USING (ng)
      WHERE g.doc_id != s.owner),
spans AS (SELECT doc_id, count(*)::BIGINT AS n_dup_spans FROM d GROUP BY doc_id),
cov AS (SELECT doc_id, count(DISTINCT p)::BIGINT AS n_removed_words
        FROM (SELECT doc_id, unnest(generate_series(pos, pos + 7)) AS p FROM d)
        GROUP BY doc_id)
SELECT w.doc_id, len(ws)::BIGINT AS n_words,
       coalesce(n_dup_spans, 0)::BIGINT AS n_dup_spans,
       coalesce(n_removed_words, 0)::BIGINT AS n_removed_words,
       round(coalesce(n_removed_words, 0)::DOUBLE / len(ws), 6) AS removed_frac
FROM w LEFT JOIN spans USING (doc_id) LEFT JOIN cov USING (doc_id)
"""


# PII patterns: kept to syntax with IDENTICAL semantics in Java regex
# (Spark) and RE2 (DuckDB) -- ASCII classes, bounded quantifiers, \\b, no
# lookaround/backreferences (RE2 has neither).
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE_RE = r"\+\d[\d-]{5,}\d"


def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction (emails, IPv4s, phone numbers) -- the
    standard pre-training scrub (C4/Dolma-style regex pass).  The
    synthetic corpus contains no PII, so each doc_id deterministically
    injects its own (docs with doc_id % 3 == 2 stay clean) -- both
    engines apply the SAME injection expression, making the md5-of-
    redacted-text comparison a real byte-level gate on redaction
    semantics, not a trivially-empty match.  Returns per-doc match
    counts per category and the md5 of the redacted text (email -> IP
    -> phone replacement order, fixed on both sides).

    Scale plan: pure map-only column math -- three regexp_counts and a
    three-deep regexp_replace chain, all JVM-side inside whole-stage
    codegen; zero shuffles, zero Python, trivially partition-parallel
    at any corpus size."""
    docs = _spread(spark, _docs(spark, sf_dir))
    d = F.col("doc_id")
    inj = F.concat(
        F.col("text"),
        F.when(
            d % 3 != 2,
            F.concat(
                F.lit(" contact user"),
                d.cast("string"),
                F.lit("@mail"),
                (d % 7).cast("string"),
                F.lit(".example.com from 10."),
                (d % 200).cast("string"),
                F.lit(".0."),
                ((d * 7) % 250).cast("string"),
                F.lit(" call +1-555-"),
                F.lpad((d % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    t = docs.select("doc_id", inj.alias("s"))
    red = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("s"), PII_EMAIL_RE, "<EMAIL>"),
            PII_IP_RE,
            "<IP>",
        ),
        PII_PHONE_RE,
        "<PHONE>",
    )
    return t.select(
        "doc_id",
        F.regexp_count("s", F.lit(PII_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count("s", F.lit(PII_IP_RE)).cast("long").alias("n_ips"),
        F.regexp_count("s", F.lit(PII_PHONE_RE)).cast("long").alias("n_phones"),
        F.md5(red).alias("redacted_md5"),
    )


PII_REDACT_SQL = f"""
WITH t AS (
  SELECT doc_id,
         text || CASE WHEN doc_id % 3 != 2 THEN
           ' contact user' || doc_id::VARCHAR
           || '@mail' || (doc_id % 7)::VARCHAR
           || '.example.com from 10.' || (doc_id % 200)::VARCHAR
           || '.0.' || ((doc_id * 7) % 250)::VARCHAR
           || ' call +1-555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
         ELSE '' END AS s
  FROM documents)
SELECT doc_id,
  len(regexp_extract_all(s, '{PII_EMAIL_RE}'))::BIGINT AS n_emails,
  len(regexp_extract_all(s, '{PII_IP_RE}'))::BIGINT AS n_ips,
  len(regexp_extract_all(s, '{PII_PHONE_RE}'))::BIGINT AS n_phones,
  md5(regexp_replace(regexp_replace(regexp_replace(s,
      '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
      '{PII_IP_RE}', '<IP>', 'g'),
      '{PII_PHONE_RE}', '<PHONE>', 'g')) AS redacted_md5
FROM t
"""


def text_unigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram language-model score per document -- the
    self-contained analog of the CCNet/KenLM perplexity quality filter
    (no external model: the LM is the corpus's own unigram distribution,
    logprob(w) = ln(count(w) / total_tokens)).  Returns per doc the word
    count and the average negative log-likelihood (low = typical text,
    high = unusual word mix); training pipelines bucket or threshold on
    exactly this signal.

    Scale plan: the "model" is the word-count table -- vocabulary-sized
    (bounded by the language, NOT the corpus), produced by one map-side-
    combined groupBy(word); it is then BROADCAST back onto the token
    stream, so the corpus-sized side is never shuffled for scoring; the
    only corpus-sized shuffle is the final per-doc aggregation.  At
    100 TB the vocab table is still a few million rows -- comfortably
    broadcastable -- and both the count and the score pass are one scan
    each."""
    docs = _spread(spark, _docs(spark, sf_dir))
    toks = docs.select(
        "doc_id", F.split("text", " ").alias("ws")
    ).select(
        "doc_id",
        F.size("ws").alias("n_words"),
        F.explode("ws").alias("w"),
    )
    cnt = toks.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    total = cnt.agg(F.sum("cnt").cast("double").alias("total"))
    lp = cnt.crossJoin(F.broadcast(total)).select(
        "w", F.log(F.col("cnt") / F.col("total")).alias("lp")
    )
    return (
        toks.join(F.broadcast(lp), "w")
        .groupBy("doc_id")
        .agg(
            F.max("n_words").cast("long").alias("n_words"),
            F.round(-F.sum("lp") / F.max("n_words"), 6).alias("avg_nll"),
        )
    )


UNIGRAM_NLL_SQL = """
WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_words,
                  unnest(string_split(text, ' ')) AS w
           FROM documents),
c AS (SELECT w, count(*)::BIGINT AS cnt FROM t GROUP BY w),
lpw AS (SELECT w, ln(cnt / (SELECT sum(cnt)::DOUBLE FROM c)) AS lp FROM c)
SELECT doc_id, max(n_words)::BIGINT AS n_words,
       round(-sum(lp) / max(n_words), 6) AS avg_nll
FROM t JOIN lpw USING (w) GROUP BY doc_id
"""


def pipeline_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy eval-set decontamination: per training document, the best
    (highest) exact Jaccard similarity of its distinct word-bigram set
    against any document of a held-out benchmark slice, kept when it
    clears a threshold -- the Llama-2/GPT-4-style *similarity*
    decontamination pass that catches paraphrased or partially-copied
    eval items which the exact-n-gram probe (pipeline_decontaminate)
    misses.  The "eval set" is the same deterministic slice (doc_id %
    97 == 0; no external data); k=2 grams and threshold 0.05 because the
    synthetic corpus's ~30-word vocabulary makes longer grams all-unique
    and higher thresholds vacuous.  Ties on Jaccard break to the lowest
    eval doc_id, so the winner is deterministic.

    Scale plan: this is NOT an all-pairs similarity join.  Grams are
    built doc-locally and deduped per doc (map-only); the eval side --
    tiny by construction (benchmarks are ~1e4 docs vs 1e12) -- is
    exploded to (gram, eval_id, eval_set_size) and BROADCAST, so the
    training side never shuffles for the probe; intersection counts per
    (train, eval) pair exist only for pairs sharing >=1 gram, and the
    per-pair groupBy shuffles those hit rows only.  Jaccard then needs
    no second pass: |A| rides the training rows, |B| rides the broadcast
    side, J = inter / (|A| + |B| - inter)."""
    from pyspark.sql.window import Window

    K, THRESH = 2, 0.05
    docs = _spread(spark, _docs(spark, sf_dir))
    w, n = F.col("ws"), F.size("ws")
    grams = docs.select("doc_id", F.split("text", " ").alias("ws")).select(
        "doc_id", F.array_distinct(_word_ngrams(w, n, K)).alias("g")
    )
    ev = grams.where(F.col("doc_id") % 97 == 0).select(
        F.col("doc_id").alias("eval_id"),
        F.size("g").alias("ev_n"),
        _explode_nn("g").alias("ng"),
    ).where(F.col("ng").isNotNull())
    tr = grams.where(F.col("doc_id") % 97 != 0).select(
        "doc_id", F.size("g").alias("n_g"), _explode_nn("g").alias("ng")
    ).where(F.col("ng").isNotNull())
    pairs = (
        tr.join(F.broadcast(ev), "ng")
        .groupBy("doc_id", "eval_id")
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.max("n_g").alias("n_g"),
            F.max("ev_n").alias("ev_n"),
        )
        .select(
            "doc_id",
            "eval_id",
            (
                F.col("inter")
                / (F.col("n_g") + F.col("ev_n") - F.col("inter"))
            ).alias("j"),
        )
    )
    best = Window.partitionBy("doc_id").orderBy(
        F.col("j").desc(), F.col("eval_id").asc()
    )
    return (
        pairs.withColumn("rn", F.row_number().over(best))
        .where((F.col("rn") == 1) & (F.col("j") >= THRESH))
        .select(
            "doc_id",
            F.col("eval_id").alias("eval_doc_id"),
            F.round("j", 6).alias("jaccard"),
        )
    )


DECONTAMINATE_FUZZY_SQL = """
WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
h AS (SELECT doc_id,
        CASE WHEN len(ws) >= 2
          THEN list_distinct(list_transform(generate_series(1, len(ws)-1),
               i -> ws[i] || ' ' || ws[i+1]))
          ELSE []::VARCHAR[] END AS g
      FROM w),
e AS (SELECT doc_id AS eval_id, len(g) AS ev_n, unnest(g) AS ng
      FROM h WHERE doc_id % 97 = 0),
t AS (SELECT doc_id, len(g) AS n_g, unnest(g) AS ng
      FROM h WHERE doc_id % 97 != 0),
p AS (SELECT t.doc_id, e.eval_id, count(*) AS inter,
             max(t.n_g) AS n_g, max(e.ev_n) AS ev_n
      FROM t JOIN e USING (ng) GROUP BY 1, 2),
j AS (SELECT doc_id, eval_id,
             inter::DOUBLE / (n_g + ev_n - inter) AS j,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY inter::DOUBLE / (n_g + ev_n - inter)
                                         DESC, eval_id ASC) AS rn
      FROM p)
SELECT doc_id, eval_id AS eval_doc_id, round(j, 6) AS jaccard
FROM j WHERE rn = 1 AND j >= 0.05
"""


def pipeline_pack_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-packing layout: concatenate the corpus in doc_id order
    and cut it into fixed L-token training sequences (the GPT-style
    "pack documents into 2048-token rows" pre-training step; L=128 here
    to fit the synthetic docs' ~54-word mean).  Returns one row per
    document: token count, its absolute start offset in the packed
    stream, its first chunk id, how many chunks it spans, and whether it
    crosses a chunk boundary (the attention-masking / doc-boundary
    bookkeeping a packing job must emit).

    Scale plan: the naive form is ONE global window (sum(n) OVER (ORDER
    BY doc_id)) -- a single-partition sort at any size, exactly the
    WindowExec "moving all data to a single partition" failure.  This
    implementation is the standard two-level distributed prefix sum:
    docs are range-grouped (doc_id // G), per-group token totals -- a
    table |corpus|/G rows, G sized so it fits one node; hierarchy
    extends this to any depth -- take ONE tiny window, and the exclusive
    group prefixes are broadcast back; within-group offsets come from a
    window PARTITIONED by group (parallel, no global sort).  Absolute
    offset = group prefix + within-group prefix, all integer math
    (chunk ids via integer DIV, never double division -- exact past
    2^53 tokens), so the result is bit-identical to the naive global
    window the oracle runs.

    G here is 64 so the tiny test corpora exercise the cross-group
    path; at production scale size G so |corpus|/G fits one node's
    window (e.g. G ~ 1e6 at 1e12 docs -- override via
    PROBE_PACK_GROUP_DOCS), with the same two-level construction
    stacking hierarchically if even that table outgrows a node."""
    import os

    from pyspark.sql.window import Window

    L = 128
    G = int(os.environ.get("PROBE_PACK_GROUP_DOCS", "64"))
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        (F.col("doc_id") - (F.col("doc_id") % G)).alias("grp"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    )
    gwin = Window.orderBy("grp").rowsBetween(
        Window.unboundedPreceding, -1
    )
    gpre = (
        toks.groupBy("grp")
        .agg(F.sum("n_tokens").alias("gsum"))
        .select(
            "grp",
            F.coalesce(F.sum("gsum").over(gwin), F.lit(0)).alias("gstart"),
        )
    )
    dwin = (
        Window.partitionBy("grp")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = toks.join(F.broadcast(gpre), "grp").select(
        "doc_id",
        "n_tokens",
        (
            F.col("gstart")
            + F.coalesce(F.sum("n_tokens").over(dwin), F.lit(0))
        ).alias("start_offset"),
    )
    first = F.expr(f"start_offset DIV {L}")
    last = F.expr(f"(start_offset + n_tokens - 1) DIV {L}")
    return out.select(
        "doc_id",
        "n_tokens",
        "start_offset",
        first.alias("start_chunk"),
        (last - first + 1).alias("n_chunks"),
        (last > first).alias("crosses_boundary"),
    )


PACK_CHUNKS_SQL = """
WITH t AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
           FROM documents),
o AS (SELECT doc_id, n_tokens,
             coalesce(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
               AS start_offset
      FROM t)
SELECT doc_id, n_tokens, start_offset,
       (start_offset // 128)::BIGINT AS start_chunk,
       ((start_offset + n_tokens - 1) // 128
         - start_offset // 128 + 1)::BIGINT AS n_chunks,
       ((start_offset + n_tokens - 1) // 128
         > start_offset // 128) AS crosses_boundary
FROM o
"""


def split_leakage_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split leakage report: for every TRAIN document that shares at
    least one (df-capped) shingle with a VAL/TEST document, the most
    similar eval doc by exact shingle Jaccard and whether it crosses the
    leak threshold (0.5) -- the audit a leakage-safe split actually runs
    before training: the md5-bucket split (sample_split) is leakage-free
    by *assignment*, but near-duplicate documents can still straddle the
    boundary, silently turning held-out examples into memorized training
    text.  Flagged docs are the eviction set.  Ties on Jaccard break to
    the lowest eval doc_id, so the report is deterministic.

    Scale plan: the eval side is 1-2 % of the corpus by construction --
    too big to broadcast at 1e12 docs, so candidates come from a
    shuffle join on the capped shingle key (the _SHINGLE_DF_CAP
    heavy-hitter cut bounds the hottest key, same guard as
    dedup_ngram_jaccard); per-pair intersection counts shuffle candidate
    rows only, and the final argmax is a window partitioned by train
    doc -- never a global sort."""
    THRESH = 0.5
    from pyspark.sql.window import Window

    docs = _spread(spark, _docs(spark, sf_dir))
    bucket = _md5_bucket(F.col("doc_id"), 100)
    sh = _capped_shingles(docs).join(
        docs.select("doc_id", bucket.alias("b")), "doc_id"
    )
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    tr = sh.where(F.col("b") < 98).select("doc_id", "shingle")
    ev = sh.where(F.col("b") >= 98).select(
        F.col("doc_id").alias("eval_id"), "shingle"
    )
    pairs = (
        tr.join(ev, "shingle")
        .groupBy("doc_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    j = (
        pairs.join(sizes.select("doc_id", F.col("n").alias("nt")), "doc_id")
        .join(
            sizes.select(
                F.col("doc_id").alias("eval_id"), F.col("n").alias("ne")
            ),
            "eval_id",
        )
        .select(
            "doc_id",
            "eval_id",
            (
                F.col("inter")
                / (F.col("nt") + F.col("ne") - F.col("inter"))
            ).alias("j"),
        )
    )
    best = Window.partitionBy("doc_id").orderBy(
        F.col("j").desc(), F.col("eval_id").asc()
    )
    return (
        j.withColumn("rn", F.row_number().over(best))
        .where(F.col("rn") == 1)
        .select(
            "doc_id",
            F.col("eval_id").alias("eval_doc_id"),
            F.round("j", 6).alias("jaccard"),
            (F.col("j") >= THRESH).alias("is_leak"),
        )
    )


SPLIT_LEAKAGE_SQL = f"""
WITH sh AS ({_SQL_SHINGLES}),
shc0 AS ({_SQL_CAPPED_SHINGLES}),
shc AS (SELECT s.doc_id, s.shingle,
               ('0x' || substr(md5(s.doc_id::VARCHAR), 1, 8))::UBIGINT::BIGINT
                 % 100 AS b
        FROM shc0 s),
sizes AS (SELECT doc_id, count(*)::BIGINT AS n FROM shc GROUP BY doc_id),
pairs AS (SELECT t.doc_id, e.doc_id AS eval_id, count(*)::BIGINT AS inter
          FROM shc t JOIN shc e USING (shingle)
          WHERE t.b < 98 AND e.b >= 98
          GROUP BY 1, 2),
j AS (SELECT pairs.doc_id AS doc_id, eval_id,
             inter::DOUBLE / (st.n + se.n - inter) AS j,
             row_number() OVER (PARTITION BY pairs.doc_id
                                ORDER BY inter::DOUBLE / (st.n + se.n - inter)
                                         DESC, eval_id ASC) AS rn
      FROM pairs
      JOIN sizes st ON st.doc_id = pairs.doc_id
      JOIN sizes se ON se.doc_id = pairs.eval_id)
SELECT doc_id, eval_id AS eval_doc_id, round(j, 6) AS jaccard,
       j >= 0.5 AS is_leak
FROM j WHERE rn = 1
"""


def text_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document keyword extraction: the top-3 whitespace terms by
    tf-idf (tf = in-doc count, idf = ln(N / df) with df = number of docs
    containing the term), ties broken by term ascending -- the standard
    cheap doc-tagging / topic-droplet pass over a training corpus (and
    the exact weighting BM25 generalizes; reference idf semantics in
    probe_spark.oracle).

    Scale plan: tf is one map-side-combinable groupBy((doc, term)); df
    is vocabulary-sized (bounded by the language, not the corpus) and
    BROADCAST back onto the tf rows, so the corpus-sized side shuffles
    once for tf and never for the idf join; top-3 is a window
    partitioned by doc -- never a global sort."""
    from pyspark.sql.window import Window

    K = 3
    docs = _spread(spark, _docs(spark, sf_dir))
    toks = docs.select(
        "doc_id", _explode_nn(F.split("text", " ")).alias("w")
    ).where(F.col("w").isNotNull())
    tf = toks.groupBy("doc_id", "w").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.agg(F.count(F.lit(1)).cast("double").alias("n"))
    scored = (
        tf.join(F.broadcast(df_), "w")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            F.col("w").alias("term"),
            (F.col("tf") * F.log(F.col("n") / F.col("df"))).alias("s"),
        )
    )
    top = Window.partitionBy("doc_id").orderBy(
        F.col("s").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(top))
        .where(F.col("rank") <= K)
        .select(
            "doc_id",
            F.col("rank").cast("long").alias("rank"),
            "term",
            F.round("s", 6).alias("tfidf"),
        )
    )


TFIDF_TOPK_SQL = """
WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
              FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
scored AS (SELECT doc_id, tf.term AS term,
                  tf * ln((SELECT count(*)::DOUBLE FROM documents) / df) AS s
           FROM tf JOIN df ON tf.term = df.term),
ranked AS (SELECT doc_id, term, s,
                  row_number() OVER (PARTITION BY doc_id
                                     ORDER BY s DESC, term ASC) AS rank
           FROM scored)
SELECT doc_id, rank::BIGINT AS rank, term, round(s, 6) AS tfidf
FROM ranked WHERE rank <= 3
"""


def corpus_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus mixture report: per (lang, source) cell, document count,
    token count, and the cell's share of all corpus tokens in integer
    ppm -- the table every pre-training data card publishes and every
    mixture-rebalancing decision starts from (integer ppm so the gate
    compares exactly; sample_lang_temperature consumes shares like
    these).

    Scale plan: one map-side-combined groupBy over (lang, source) --
    cells are bounded by languages x registrable sources, orders of
    magnitude below the corpus -- then a broadcast of the 1-row total;
    a single scan, a single small shuffle."""
    docs = _docs(spark, sf_dir)
    cells = docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tokens"),
    )
    total = cells.agg(F.sum("n_tokens").cast("double").alias("tot"))
    return cells.crossJoin(F.broadcast(total)).select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        # divide FIRST: n_tokens * 1e6 in int64 overflows at ~1e13 tokens
        F.floor(F.col("n_tokens") / F.col("tot") * 1000000)
        .cast("long")
        .alias("token_share_ppm"),
    )


CORPUS_MIXTURE_SQL = """
WITH cells AS (SELECT lang, source, count(*)::BIGINT AS n_docs,
                      sum(len(string_split(text, ' ')))::BIGINT AS n_tokens
               FROM documents GROUP BY 1, 2)
SELECT lang, source, n_docs, n_tokens,
       floor(n_tokens / (SELECT sum(n_tokens)::DOUBLE FROM cells)
             * 1000000)::BIGINT AS token_share_ppm
FROM cells
"""


def filter_length_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-percentile length filter: keep documents whose word count
    lies within the exact discrete [p05, p95] of the corpus -- the
    relative-length trim every web-corpus recipe applies (absolute
    length cuts a la Gopher mislabel whole languages; percentiles adapt
    to the corpus).

    The thresholds are DISCRETE percentiles computed from the length
    HISTOGRAM with pure integer rank arithmetic (rank = (p*N + 99) DIV
    100, threshold = smallest length whose cumulative count reaches the
    rank) so both engines agree bit-for-bit -- no engine-defined
    interpolation semantics anywhere.

    Scale plan: the corpus-sized side is touched exactly twice, both
    map-only (word count, final flag); the histogram groupBy is bounded
    by the number of DISTINCT lengths (thousands, not corpus-sized), its
    cumulative window runs over that tiny table, and the 1-row threshold
    frame broadcasts back.  No global sort, no corpus-sized shuffle."""
    from pyspark.sql.window import Window

    per = _docs(spark, sf_dir).select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_words")
    )
    hist = per.groupBy("n_words").agg(F.count(F.lit(1)).alias("cnt"))
    cum = hist.withColumn(
        "cum",
        F.sum("cnt").over(
            Window.orderBy("n_words").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    total = hist.agg(F.sum("cnt").alias("tot"))
    th = (
        cum.crossJoin(F.broadcast(total))
        .agg(
            F.min(
                F.when(
                    F.col("cum") >= F.expr("(5 * tot + 99) DIV 100"),
                    F.col("n_words"),
                )
            ).alias("lo"),
            F.min(
                F.when(
                    F.col("cum") >= F.expr("(95 * tot + 99) DIV 100"),
                    F.col("n_words"),
                )
            ).alias("hi"),
        )
    )
    return per.crossJoin(F.broadcast(th)).select(
        "doc_id",
        "n_words",
        ((F.col("n_words") >= F.col("lo")) & (F.col("n_words") <= F.col("hi"))).alias(
            "kept"
        ),
    )


LENGTH_PERCENTILE_SQL = """
WITH per AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_words
             FROM documents),
hist AS (SELECT n_words, count(*) AS cnt FROM per GROUP BY n_words),
cum AS (SELECT n_words, sum(cnt) OVER (ORDER BY n_words) AS cum FROM hist),
tot AS (SELECT sum(cnt) AS tot FROM hist),
th AS (SELECT min(CASE WHEN cum >= (5 * tot + 99) // 100 THEN n_words END) AS lo,
              min(CASE WHEN cum >= (95 * tot + 99) // 100 THEN n_words END) AS hi
       FROM cum CROSS JOIN tot)
SELECT doc_id, n_words, (n_words >= lo AND n_words <= hi) AS kept
FROM per CROSS JOIN th
"""


def filter_domain_spam(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-level quality filter (the C4 / Gopher move lifted from doc
    granularity to source granularity): aggregate per-source quality
    signals, flag low-quality SOURCES, and filter every document from a
    flagged source.  Signals: mean words per doc < 50 (Gopher's
    min-length rule at domain level) or pooled type-token ratio
    sum(unique)/sum(words) < 0.42 (domain-scale repetition -- template
    farms and boilerplate mills repeat vocabulary).  Pooled ratios, not
    means of per-doc ratios: integer sums divide once, so both engines
    agree bit-for-bit with no float-summation-order hazard.

    Scale plan: two passes over the corpus, both map-only except ONE
    map-side-combined groupBy(source) whose output is bounded by the
    number of registrable domains (millions, not corpus-sized); the
    source verdicts BROADCAST back onto the corpus -- the corpus-sized
    side never shuffles."""
    per = (
        _docs(spark, sf_dir)
        .select("doc_id", "source", F.split("text", " ").alias("ws"))
        .select(
            "doc_id",
            "source",
            F.size("ws").cast("long").alias("n"),
            F.size(F.array_distinct("ws")).cast("long").alias("u"),
        )
    )
    verdicts = (
        per.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("sum_n"),
            F.sum("u").alias("sum_u"),
        )
        .select(
            "source",
            F.round(F.col("sum_n") / F.col("n_docs"), 2).alias("mean_words"),
            F.round(F.col("sum_u") / F.col("sum_n"), 4).alias("ttr"),
        )
        .select(
            "source",
            ((F.col("mean_words") < 50) | (F.col("ttr") < 0.42)).alias("is_spam"),
        )
    )
    return per.join(F.broadcast(verdicts), "source").select(
        "doc_id", "source", (~F.col("is_spam")).alias("kept")
    )


DOMAIN_SPAM_SQL = """
WITH per AS (SELECT doc_id, source, count(*)::BIGINT AS n,
                    count(DISTINCT t)::BIGINT AS u
             FROM (SELECT doc_id, source,
                          unnest(string_split(text, ' ')) AS t
                   FROM documents)
             GROUP BY doc_id, source),
verdicts AS (SELECT source,
                    (round(sum(n) * 1.0 / count(*), 2) < 50
                     OR round(sum(u) * 1.0 / sum(n), 4) < 0.42) AS is_spam
             FROM per GROUP BY source)
SELECT doc_id, per.source AS source, NOT is_spam AS kept
FROM per JOIN verdicts ON per.source = verdicts.source
"""


def sample_dsir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance resampling (Xie et al. 2023,
    arXiv:2302.03169): score every training document by the
    log-likelihood ratio between a TARGET-domain language model and the
    raw-corpus language model, and select documents that look more
    target-like than corpus-like.  Feature space here is unigrams with
    add-one smoothing over the shared corpus vocabulary (the paper uses
    hashed n-grams; unigrams keep the oracle exact on the ~30-word
    synthetic vocabulary).  The target is a deterministic corpus slice
    (doc_id % 97 == 0, the same no-external-data convention as the
    decontamination ops); the raw model is the remaining training side.
    weight = sum_tokens ln(p_tgt(w)/p_raw(w)) / n_words; selected =
    rounded weight > 0 (map-only decision -- no global sort, unlike a
    top-K cut, so selection stays scale-free).

    Scale plan: both LMs are vocabulary-sized count tables (bounded by
    the language, not the corpus) from one map-side-combined
    groupBy(word) each, BROADCAST back onto the token stream; the
    corpus-sized side never shuffles for scoring and the only
    corpus-sized shuffle is the final per-doc aggregation -- identical
    shape to text_unigram_nll, which is the same machinery with a
    different numerator."""
    docs = _docs(spark, sf_dir)
    toks = docs.select("doc_id", F.split("text", " ").alias("ws")).select(
        "doc_id", F.size("ws").alias("n_words"), F.explode("ws").alias("w")
    )
    is_tgt = F.col("doc_id") % 97 == 0
    counts = toks.groupBy("w").agg(
        F.sum(F.when(is_tgt, 1).otherwise(0)).cast("long").alias("ct"),
        F.sum(F.when(is_tgt, 0).otherwise(1)).cast("long").alias("cc"),
    )
    tot = counts.agg(
        F.sum("ct").alias("tt"),
        F.sum("cc").alias("tc"),
        F.count(F.lit(1)).alias("nv"),
    )
    lr = counts.crossJoin(F.broadcast(tot)).select(
        "w",
        (
            F.log((F.col("ct") + 1) / (F.col("tt") + F.col("nv")))
            - F.log((F.col("cc") + 1) / (F.col("tc") + F.col("nv")))
        ).alias("lr"),
    )
    return (
        toks.where(~is_tgt)
        .join(F.broadcast(lr), "w")
        .groupBy("doc_id")
        .agg(
            F.max("n_words").cast("long").alias("n_words"),
            F.round(F.sum("lr") / F.max("n_words"), 6).alias("weight"),
        )
        .select(
            "doc_id",
            "n_words",
            "weight",
            (F.col("weight") > 0).alias("selected"),
        )
    )


SAMPLE_DSIR_SQL = """
WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_words,
                  unnest(string_split(text, ' ')) AS w
           FROM documents),
counts AS (SELECT w,
                  sum(CASE WHEN doc_id % 97 = 0 THEN 1 ELSE 0 END)::BIGINT AS ct,
                  sum(CASE WHEN doc_id % 97 = 0 THEN 0 ELSE 1 END)::BIGINT AS cc
           FROM t GROUP BY w),
tot AS (SELECT sum(ct) AS tt, sum(cc) AS tc, count(*) AS nv FROM counts),
lr AS (SELECT w, ln((ct + 1) / (tt + nv)) - ln((cc + 1) / (tc + nv)) AS lr
       FROM counts CROSS JOIN tot)
SELECT doc_id, max(n_words)::BIGINT AS n_words,
       round(sum(lr) / max(n_words), 6) AS weight,
       (round(sum(lr) / max(n_words), 6) > 0) AS selected
FROM t JOIN lr USING (w)
WHERE doc_id % 97 <> 0
GROUP BY doc_id
"""


def semantic_dedup(
    spark: SparkSession,
    emb: DataFrame,
    k_cells: int = 8,
    iters: int = 2,
    tau: float = 0.35,
    cache_key: str | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means the
    embeddings with the SAME trained quantizer as IVF
    (``_quantizer_sims``), then WITHIN each cluster members rank by
    (centroid-sim asc, vec_id asc) -- farthest from centroid first, per
    the paper -- and a vector is dropped iff some LOWER-ranked
    cluster-mate (kept or itself dropped: the paper's upper-triangular
    max rule) is within cosine tau.  tau=0.35 against the synthetic
    embeddings' ~0.51 max off-diagonal cosine (same threshold as
    dedup_embed_cosine).

    Scale plan: this is exactly why SemDeDup clusters first -- the pair
    join is per-cell (sum of cell_size^2, bounded by the quantizer's
    balance), NEVER corpus-quadratic; the centroid join broadcasts; the
    only corpus-sized shuffles are the k-means assignment aggs.  The
    pair sweep runs in ARRAY form: each candidate pair is ONE row whose
    dot product is a JVM zip_with/aggregate over the two embedding
    arrays (the long per-dimension form would multiply pair volume by
    the dimensionality -- it survives only in the SQL oracle).  At
    100TB the cell count scales with the corpus (paper uses ~100k
    cells) keeping cells ~constant-sized; smoke-tested here at 100k
    vectors / 64 cells."""
    from pyspark.sql.window import Window

    ed, vnorm, sims, w = _quantizer_sims(emb, k_cells, iters, cache_key)
    ranked = (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("cell").orderBy(
                    F.asc("sim"), F.asc("vec_id")
                )
            ),
        )
        .select("vec_id", "cell", "rank")
    )
    # Per-cell VECTORIZED pair sweep (guide SS4.2): the pair-join form
    # built one row per candidate pair and ran an interpreted
    # zip_with/aggregate fold per row -- sum(cell^2) pairs x dim
    # interpreted ops (measured 40 s at 20k vectors / 8 cells).  Here
    # each cell's members arrive as ONE pandas group (the shuffle is
    # cell-sized, same as the join's), the upper-triangular cosine block
    # is a BLAS matmul in row blocks (memory-bounded), and the drop rule
    # -- some lower-ranked mate within tau -- is a per-column any() over
    # the strict upper triangle.  Parity discipline is the one
    # assign_sims already established and the gates pin: norms are
    # recomputed vectorized, cos rounds via _round_half_away(6) (the
    # HALF_UP mode Spark and DuckDB share), and the 6dp rounding absorbs
    # summation-order ulp between matmul, the Spark fold, and DuckDB.
    # The long pair form survives only in the SQL oracle.
    tau_f = float(tau)

    def _cell_sweep(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("rank")
        e = np.stack(
            [np.asarray(x, dtype=np.float64) for x in pdf["embedding"]]
        )
        vn = np.sqrt((e * e).sum(axis=1))
        n = len(pdf)
        dropped = np.zeros(n, dtype=bool)
        cols = np.arange(n)[None, :]
        B = 2048
        for s in range(0, n, B):
            t = min(s + B, n)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = (e[s:t] @ e.T) / (vn[s:t, None] * vn[None, :])
            hit = _round_half_away(cos, 6) >= tau_f
            hit &= np.arange(s, t)[:, None] < cols
            dropped |= hit.any(axis=0)
        return pd.DataFrame(
            {
                "vec_id": pdf["vec_id"].to_numpy(),
                "cell": pdf["cell"].to_numpy().astype("int64"),
                "kept": ~dropped,
            }
        )

    result = (
        emb.select("vec_id", "embedding")
        .join(ranked, "vec_id")
        .groupBy("cell")
        .applyInPandas(_cell_sweep, "vec_id long, cell long, kept boolean")
    )
    # the answer is CORPUS-sized (one row per vector) -- never collect it
    # to the driver; localCheckpoint materializes it executor-side and
    # cuts the lineage so the quantizer caches can be released
    try:
        return result.localCheckpoint(eager=True)
    finally:
        ed.unpersist()
        sims.unpersist()


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup entry: 8-cell trained quantizer (2 Lloyd iterations),
    within-cell cosine >= 0.35 drops the closer-to-centroid member (see
    semantic_dedup for the paper semantics and the scale plan)."""
    return semantic_dedup(spark, _emb(spark, sf_dir), cache_key=sf_dir)


# shared quantizer CTE chain (_QUANTIZER_CTES, mirrors _quantizer_sims
# exactly); then SemDeDup's within-cell ranked pair sweep
DEDUP_SEMANTIC_SQL = f"""{_QUANTIZER_CTES}
a2 AS (SELECT vec_id, cell, sim FROM (
         SELECT vec_id, cell, sim, row_number() OVER (
           PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn FROM s2)
       WHERE rn = 1),
ranked AS (SELECT vec_id, cell,
                  row_number() OVER (PARTITION BY cell
                                     ORDER BY sim ASC, vec_id ASC) AS rank
           FROM a2),
dots AS (SELECT ra.cell, ra.vec_id AS a, rb.vec_id AS b,
                sum(ea.v * eb.v) AS dot
         FROM ranked ra
         JOIN ranked rb ON ra.cell = rb.cell AND ra.rank < rb.rank
         JOIN ed ea ON ea.vec_id = ra.vec_id
         JOIN ed eb ON eb.vec_id = rb.vec_id AND eb.i = ea.i
         GROUP BY 1, 2, 3),
dups AS (SELECT DISTINCT b
         FROM dots JOIN vn vna ON vna.vec_id = a
                   JOIN vn vnb ON vnb.vec_id = b
         WHERE round(dot / (vna.vn * vnb.vn), 6) >= 0.35)
SELECT vec_id, cell::BIGINT AS cell,
       (vec_id NOT IN (SELECT b FROM dups)) AS kept
FROM ranked
"""


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental crawl dedup: treat the first third of the corpus (by
    doc_id) as the already-ingested snapshot and the rest as the new crawl
    batch; keep the batch docs whose text does not already exist in the
    snapshot.  The engine runs the Bloom-prefilter + exact-repair path
    (``dedup.incremental_dedup`` -- Dolma-BFF shape, exact by
    construction); the oracle is the plain NOT EXISTS anti-join the bloom
    path must equal bit for bit, so the driver gate directly proves the
    bloom introduces no false drops and the repair removes every false
    positive."""
    from probe_spark.dedup import incremental_dedup

    docs = _docs(spark, sf_dir)
    spl = docs.agg(
        F.floor((F.max("doc_id") + 1) / 3).cast("long").alias("split_id")
    )
    d = docs.select("doc_id", "text").crossJoin(F.broadcast(spl))
    snapshot = d.filter(F.col("doc_id") < F.col("split_id"))
    batch = d.filter(F.col("doc_id") >= F.col("split_id"))
    return incremental_dedup(snapshot, batch)


DEDUP_INCREMENTAL_SQL = """
WITH t AS (SELECT doc_id, md5(text) AS h FROM documents),
spl AS (SELECT (max(doc_id) + 1) // 3 AS s FROM t)
SELECT d.doc_id, d.h
FROM t d CROSS JOIN spl
WHERE d.doc_id >= spl.s
  AND NOT EXISTS (SELECT 1 FROM t s2 CROSS JOIN spl
                  WHERE s2.doc_id < spl.s AND s2.h = d.h)
"""


def cluster_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus topic-cluster mixture report: assign every embedding to its
    nearest trained-quantizer centroid (the SAME 8-cell / 2-Lloyd-iteration
    k-means as sim_ivf_topk / dedup_semantic via ``_quantizer_sims``) and
    report each cluster's size, corpus share in integer ppm, and the
    min/max assignment cosine -- the by-topic companion of
    ``corpus_mixture`` (data cards publish both; cluster shares drive
    topic rebalancing the way lang/source shares drive
    sample_lang_temperature).

    Determinism across engines: counts and ppm are integer math
    (divide-before-multiply like corpus_mixture); cohesion is reported as
    min/max of the 9dp-rounded assignment sims -- order-independent
    exactly, unlike a float mean.

    Scale plan: the quantizer's corpus-sized work is the k-means
    assignment aggs (already the IVF build cost -- amortized when both
    run); the report itself is one groupBy(cell) with map-side combine
    into k rows, and the total joins back as a broadcast 1-row agg of
    those k rows, never a second corpus scan."""
    emb = _emb(spark, sf_dir)
    ed, vnorm, sims, w = _quantizer_sims(emb, 8, 2, cache_key=sf_dir)
    assign = (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell", "sim")
    )
    cells = assign.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.min("sim").alias("min_sim"),
        F.max("sim").alias("max_sim"),
    )
    total = cells.agg(F.sum("n_vecs").cast("double").alias("tot"))
    result = cells.crossJoin(F.broadcast(total)).select(
        F.col("cell").cast("long").alias("cell"),
        "n_vecs",
        F.floor(F.col("n_vecs") / F.col("tot") * 1000000)
        .cast("long")
        .alias("share_ppm"),
        "min_sim",
        "max_sim",
    )
    # k rows; materialize so the iterative quantizer caches can be freed
    try:
        return result.localCheckpoint(eager=True)
    finally:
        ed.unpersist()
        sims.unpersist()


CLUSTER_ASSIGN_SQL = f"""{_QUANTIZER_CTES}
a2 AS (SELECT vec_id, cell, sim FROM (
         SELECT vec_id, cell, sim, row_number() OVER (
           PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn FROM s2)
       WHERE rn = 1),
cells AS (SELECT cell, count(*)::BIGINT AS n_vecs,
                 min(sim) AS min_sim, max(sim) AS max_sim
          FROM a2 GROUP BY cell),
tot AS (SELECT sum(n_vecs)::DOUBLE AS tot FROM cells)
SELECT cell::BIGINT AS cell, n_vecs,
       floor(n_vecs / tot * 1000000)::BIGINT AS share_ppm,
       min_sim, max_sim
FROM cells CROSS JOIN tot
"""


def filter_proto_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SSL-prototypes data pruning (Sorscher et al. 2022, arXiv:2206.14486
    -- the pruning half of D4, Tirumala et al. 2023, whose dedup half is
    dedup_semantic): within each trained-quantizer cluster rank members by
    cosine-to-centroid DESCENDING (most prototypical = easiest first) and
    drop the top 10% of every cluster -- in the abundant-data regime the
    paper shows pruning the easiest (most prototypical) examples beats
    random and keeps the hard tail that carries the learning signal.

    Determinism: ranks use the 9dp-rounded assignment sims with a vec_id
    tie-break; the cut is integer floor division (n_cell DIV 10), exact in
    both engines.

    Scale plan: reuses the IVF quantizer's assignment (amortized); the
    prune itself is two windows keyed by cell -- partition count = cell
    count, which the paper scales with the corpus keeping cells
    ~constant-sized, so no window partition ever exceeds a cell."""
    from pyspark.sql.window import Window

    emb = _emb(spark, sf_dir)
    ed, vnorm, sims, w = _quantizer_sims(emb, 8, 2, cache_key=sf_dir)
    assign = (
        sims.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cell", "sim")
    )
    cw = Window.partitionBy("cell")
    result = (
        assign.withColumn(
            "rank",
            F.row_number().over(
                cw.orderBy(F.desc("sim"), F.asc("vec_id"))
            ),
        )
        .withColumn("n_cell", F.count(F.lit(1)).over(cw))
        .select(
            "vec_id",
            F.col("cell").cast("long").alias("cell"),
            F.col("rank").cast("long").alias("rank"),
            (F.col("rank") > F.expr("n_cell DIV 10")).alias("kept"),
        )
    )
    try:
        return result.localCheckpoint(eager=True)
    finally:
        ed.unpersist()
        sims.unpersist()


FILTER_PROTO_PRUNE_SQL = f"""{_QUANTIZER_CTES}
a2 AS (SELECT vec_id, cell, sim FROM (
         SELECT vec_id, cell, sim, row_number() OVER (
           PARTITION BY vec_id ORDER BY sim DESC, cell ASC) AS rn FROM s2)
       WHERE rn = 1),
ranked AS (SELECT vec_id, cell,
                  row_number() OVER (PARTITION BY cell
                                     ORDER BY sim DESC, vec_id ASC) AS rank,
                  count(*) OVER (PARTITION BY cell) AS n_cell
           FROM a2)
SELECT vec_id, cell::BIGINT AS cell, rank::BIGINT AS rank,
       (rank > n_cell // 10) AS kept
FROM ranked
"""


# ---------------------------------------------------------------------------
# Language-model quality scoring, vocabulary coverage, snapshot dedup
# ---------------------------------------------------------------------------


def filter_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style head/middle/tail quality bucketing (Wenzek et al.
    2020): per LANGUAGE, score every document with a corpus-trained
    language model and split the language's corpus into three perplexity
    buckets -- head (most LM-typical third), middle, tail.  CCNet trains
    a KenLM per language; here the LM is the corpus's own per-language
    unigram distribution (the same self-contained stand-in as
    text_unigram_nll, which this op extends from a raw score to the
    bucketing decision pipelines actually consume).

    Thresholds are DISCRETE: the score is binned to an integer
    (floor(avg_nll * 100)), the per-language bin histogram is cumulated,
    and t1/t2 are the smallest bins whose cumulative count reaches
    ceil(N/3) / ceil(2N/3) -- pure integer rank arithmetic, so both
    engines agree bit-for-bit with no quantile-interpolation semantics.

    Scale plan: the LM is a per-language vocabulary table (bounded by
    the languages, not the corpus) built by one map-side-combined
    groupBy and BROADCAST back, so the corpus side never shuffles for
    scoring; the only corpus-sized shuffle is the per-doc aggregation.
    The bin histogram is bounded by langs x distinct bins (thousands),
    its cumulative window runs per language over that tiny table, and
    the per-language thresholds broadcast back onto the scored docs
    (map-only).  No global sort anywhere."""
    from pyspark.sql.window import Window

    docs = _spread(spark, _docs(spark, sf_dir))
    toks = docs.select(
        "doc_id", "lang", F.split("text", " ").alias("ws")
    ).select(
        "doc_id",
        "lang",
        F.size("ws").alias("n_words"),
        F.explode("ws").alias("w"),
    )
    cnt = toks.groupBy("lang", "w").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    tot = cnt.groupBy("lang").agg(F.sum("cnt").cast("double").alias("total"))
    lp = cnt.join(F.broadcast(tot), "lang").select(
        "lang", "w", F.log(F.col("cnt") / F.col("total")).alias("lp")
    )
    per = (
        toks.join(F.broadcast(lp), ["lang", "w"])
        .groupBy("doc_id", "lang")
        .agg(
            F.round(-F.sum("lp") / F.max("n_words"), 6).alias("avg_nll"),
        )
        .withColumn("bin", F.floor(F.col("avg_nll") * 100).cast("long"))
    )
    hist = per.groupBy("lang", "bin").agg(F.count(F.lit(1)).alias("cnt"))
    cum = hist.withColumn(
        "cum",
        F.sum("cnt").over(
            Window.partitionBy("lang")
            .orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    tot2 = hist.groupBy("lang").agg(F.sum("cnt").alias("tot"))
    th = (
        cum.join(F.broadcast(tot2), "lang")
        .groupBy("lang")
        .agg(
            F.min(
                F.when(F.col("cum") >= F.expr("(tot + 2) DIV 3"), F.col("bin"))
            ).alias("t1"),
            F.min(
                F.when(
                    F.col("cum") >= F.expr("(2 * tot + 2) DIV 3"), F.col("bin")
                )
            ).alias("t2"),
        )
    )
    return per.join(F.broadcast(th), "lang").select(
        "doc_id",
        "lang",
        "avg_nll",
        F.when(F.col("bin") <= F.col("t1"), F.lit("head"))
        .when(F.col("bin") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
        .alias("bucket"),
    )


CCNET_BUCKETS_SQL = """
WITH t AS (SELECT doc_id, lang, len(string_split(text, ' ')) AS n_words,
                  unnest(string_split(text, ' ')) AS w
           FROM documents),
c AS (SELECT lang, w, count(*)::BIGINT AS cnt FROM t GROUP BY lang, w),
tot AS (SELECT lang, sum(cnt)::DOUBLE AS total FROM c GROUP BY lang),
lpw AS (SELECT c.lang, c.w, ln(c.cnt / tot.total) AS lp
        FROM c JOIN tot USING (lang)),
per AS (SELECT doc_id, t.lang,
               round(-sum(lp) / max(n_words), 6) AS avg_nll
        FROM t JOIN lpw ON t.lang = lpw.lang AND t.w = lpw.w
        GROUP BY doc_id, t.lang),
pb AS (SELECT doc_id, lang, avg_nll,
              floor(avg_nll * 100)::BIGINT AS bin FROM per),
hist AS (SELECT lang, bin, count(*) AS cnt FROM pb GROUP BY lang, bin),
cum AS (SELECT lang, bin, sum(cnt) OVER (
          PARTITION BY lang ORDER BY bin) AS cum FROM hist),
tot2 AS (SELECT lang, sum(cnt) AS tot FROM hist GROUP BY lang),
th AS (SELECT lang,
              min(CASE WHEN cum >= (tot + 2) // 3 THEN bin END) AS t1,
              min(CASE WHEN cum >= (2 * tot + 2) // 3 THEN bin END) AS t2
       FROM cum JOIN tot2 USING (lang) GROUP BY lang)
SELECT doc_id, lang, avg_nll,
       CASE WHEN bin <= t1 THEN 'head'
            WHEN bin <= t2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM pb JOIN th USING (lang)
"""


def text_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained BIGRAM language-model score per document -- the
    next rung above text_unigram_nll toward the KenLM n-gram perplexity
    CCNet uses: avg negative log-likelihood of each adjacent word pair
    under P(w2|w1) = (c(w1,w2) + 1) / (c(w1,*) + V) (add-one smoothing
    over the corpus vocabulary V, so unseen continuations are finite and
    the formula is exact integer arithmetic inside the log).  Word-salad
    text with plausible unigrams but improbable transitions scores high
    here while passing the unigram filter.  Docs with fewer than 2 words
    have no bigrams and are excluded (no p(.|.) is defined for them).

    Scale plan: unlike the unigram LM, the bigram table is NOT
    vocabulary-bounded (distinct word pairs grow with the corpus), so it
    is never broadcast -- scoring joins the token-pair stream to the
    count table on the (w1, w2) key: ONE corpus-sized shuffle with
    map-side-combined counts feeding it.  The context-count table c(w1,*)
    derives from the bigram table (groupBy w1, bounded by the vocabulary)
    and joins onto the count table BEFORE the corpus-sized join; V is a
    1-row scalar cross-joined in.  Pairs are built doc-locally
    (explode_outer of a computed array -- see _explode_nn for why not a
    plain explode)."""
    docs = _spread(spark, _docs(spark, sf_dir))
    t = docs.select("doc_id", F.split("text", " ").alias("ws")).where(
        F.size("ws") >= 2
    )
    bg = t.select(
        "doc_id",
        (F.size("ws") - 1).cast("long").alias("n_bg"),
        _explode_nn(
            F.expr(
                "transform(sequence(1, size(ws) - 1),"
                " i -> struct(ws[i-1] AS w1, ws[i] AS w2))"
            )
        ).alias("p"),
    ).where(F.col("p").isNotNull()).select(
        "doc_id", "n_bg", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    c12 = bg.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("c12")
    )
    c1 = c12.groupBy("w1").agg(F.sum("c12").cast("long").alias("c1"))
    vocab = (
        docs
        .select(F.explode(F.split("text", " ")).alias("w"))
        .agg(F.countDistinct("w").cast("long").alias("v"))
    )
    counts = c12.join(F.broadcast(c1), "w1").crossJoin(F.broadcast(vocab))
    return (
        bg.join(counts, ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.max("n_bg").cast("long").alias("n_bigrams"),
            F.round(
                -F.sum(
                    F.log(
                        (F.col("c12") + 1).cast("double")
                        / (F.col("c1") + F.col("v")).cast("double")
                    )
                )
                / F.max("n_bg"),
                6,
            ).alias("avg_nll2"),
        )
    )


BIGRAM_NLL_SQL = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
bg AS (SELECT doc_id, (len(ws) - 1)::BIGINT AS n_bg,
              unnest(ws[1:len(ws) - 1]) AS w1,
              unnest(ws[2:len(ws)]) AS w2
       FROM t WHERE len(ws) >= 2),
c12 AS (SELECT w1, w2, count(*)::BIGINT AS c12 FROM bg GROUP BY w1, w2),
c1 AS (SELECT w1, sum(c12)::BIGINT AS c1 FROM c12 GROUP BY w1),
v AS (SELECT count(DISTINCT w)::BIGINT AS v FROM
        (SELECT unnest(string_split(text, ' ')) AS w FROM documents))
SELECT doc_id, max(n_bg)::BIGINT AS n_bigrams,
       round(-sum(ln((c12 + 1) / (c1 + v)::DOUBLE)) / max(n_bg), 6)
         AS avg_nll2
FROM bg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN v
GROUP BY doc_id
"""


def text_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher vocabulary-coverage rule (Rae et al. 2021: '80% of words
    must be in the top vocabulary'): the corpus vocabulary is the top
    V_TOP words by corpus count (ties break to the lexicographically
    smaller word, so the vocabulary is deterministic), and each document
    reports the fraction of its word OCCURRENCES that are in-vocabulary
    plus the kept verdict at the 0.8 threshold.  Distinct from the LM
    scores above: this is a hard membership test against a fixed-size
    head vocabulary, the cheap first-line garbage filter.

    Scale plan: the word-count table is vocabulary-bounded; the top-V
    cut is a sort of THAT table only (never corpus-sized), and the
    resulting V_TOP-row vocabulary BROADCASTS onto the token stream --
    the corpus side shuffles only for the per-doc aggregation."""
    from pyspark.sql.window import Window

    V_TOP, THRESH = 16, 0.8
    docs = _spread(spark, _docs(spark, sf_dir))
    toks = docs.select("doc_id", F.split("text", " ").alias("ws")).select(
        "doc_id", F.size("ws").alias("n_words"), F.explode("ws").alias("w")
    )
    vocab = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.orderBy(F.col("cnt").desc(), F.col("w").asc())
            ),
        )
        .where(F.col("rk") <= V_TOP)
        .select("w", F.lit(1).alias("iv"))
    )
    return (
        toks.join(F.broadcast(vocab), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.max("n_words").cast("long").alias("n_words"),
            F.round(
                F.sum(F.coalesce(F.col("iv"), F.lit(0)))
                / F.max("n_words").cast("double"),
                6,
            ).alias("in_vocab_frac"),
        )
        .withColumn("kept", F.col("in_vocab_frac") >= THRESH)
    )


OOV_RATE_SQL = """
WITH t AS (SELECT doc_id, len(string_split(text, ' ')) AS n_words,
                  unnest(string_split(text, ' ')) AS w
           FROM documents),
c AS (SELECT w, count(*) AS cnt FROM t GROUP BY w),
voc AS (SELECT w FROM (
          SELECT w, row_number() OVER (ORDER BY cnt DESC, w ASC) AS rk
          FROM c) WHERE rk <= 16)
SELECT doc_id, max(n_words)::BIGINT AS n_words,
       round(sum(CASE WHEN voc.w IS NOT NULL THEN 1 ELSE 0 END)
             / max(n_words)::DOUBLE, 6) AS in_vocab_frac,
       (round(sum(CASE WHEN voc.w IS NOT NULL THEN 1 ELSE 0 END)
              / max(n_words)::DOUBLE, 6) >= 0.8) AS kept
FROM t LEFT JOIN voc USING (w)
GROUP BY doc_id
"""


def dedup_snapshot_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-revisit dedup: the north-rule input is Common-Crawl-style
    pages keyed (url, warc_ts) where the same url is re-crawled many
    times; training pipelines keep ONE snapshot per url -- the latest.
    Exercised here on the events table (user_id plays the url key, ts
    the warc_ts): per key, the latest row (ties on ts break to the
    highest event_id, so the winner is deterministic), the snapshot
    count, and the crawl-history span in exact integer microseconds.

    Scale plan: ONE map-side-combinable aggregation -- max_by picks the
    argmax inside the same partial agg as the count/min/max, so there is
    no per-key sort, no window, and exactly one corpus-sized shuffle on
    the key.  At 1e12 rows with ~1e10 urls the per-key state is a few
    dozen bytes regardless of revisit skew."""
    ev = _read_pq(spark, f"{sf_dir}/events.parquet")
    # ts is TIMESTAMP_NTZ in the parquet; unix_micros needs TIMESTAMP.  The
    # cast applies the session zone shift.  NOTE: that shift cancels in
    # the max-min difference only under a FIXED-offset session zone; a
    # DST zone whose offset changes between min and max would skew the
    # span by the transition.  session.get_spark pins
    # spark.sql.session.timeZone=UTC, which this entry (like the oracle's
    # naive epoch_us) relies on.
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    return ev.groupBy("user_id").agg(
        F.max_by(
            "event_id", F.struct(F.col("ts"), F.col("event_id"))
        ).alias("latest_event_id"),
        F.count(F.lit(1)).cast("long").alias("n_snapshots"),
        (F.max(us) - F.min(us)).cast("long").alias("span_us"),
    )


SNAPSHOT_LATEST_SQL = """
WITH r AS (SELECT user_id, event_id, row_number() OVER (
             PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
           FROM events),
g AS (SELECT user_id, count(*)::BIGINT AS n_snapshots,
             (epoch_us(max(ts)) - epoch_us(min(ts)))::BIGINT AS span_us
      FROM events GROUP BY user_id)
SELECT g.user_id, r.event_id AS latest_event_id, g.n_snapshots, g.span_us
FROM r JOIN g USING (user_id) WHERE r.rn = 1
"""


def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-URL crawl dedup: Common-Crawl-style fetch logs carry the
    SAME page under many url spellings (scheme, case, ``www.``, tracking
    query strings, fragments, trailing slash).  Training pipelines
    canonicalize first, then keep one row per canonical url -- otherwise
    every downstream dedup pass re-discovers the same trivial families.

    The messy urls are synthesized deterministically from (source,
    doc_id) -- four spelling variants of ``<source>.com/p/<doc_id%50>``
    -- so the canonicalization rules are exercised on every class.
    Canonical form: lowercase, strip scheme, strip leading ``www.``,
    strip ``?query``/``#fragment``, strip one trailing slash (the
    normalization subset every crawl pipeline agrees on; anchored
    single-occurrence regexes so Spark's replace-all and the oracle's
    replace-first semantics coincide).

    Scale plan: canonicalization is map-only column math (whole-stage
    codegen), then ONE map-side-combinable aggregation on the canonical
    key -- the same single-shuffle shape as exact dedup.  At 1e12 rows
    the per-key state is (min doc_id, count): a few bytes regardless of
    how hot a url family is."""
    docs = _docs(spark, sf_dir)
    page = (F.col("doc_id") % 50).cast("string")
    v = F.col("doc_id") % 4
    raw = (
        F.when(v == 0, F.concat(F.lit("https://www."), F.col("source"),
                                F.lit(".com/p/"), page))
        .when(v == 1, F.concat(F.lit("http://"), F.col("source"),
                               F.lit(".com/p/"), page,
                               F.lit("?utm_source=feed")))
        .when(v == 2, F.concat(F.lit("HTTPS://"), F.upper("source"),
                               F.lit(".COM/p/"), page, F.lit("/")))
        .otherwise(F.concat(F.lit("https://"), F.col("source"),
                            F.lit(".com/p/"), page, F.lit("#frag")))
    )
    canon = F.lower(raw)
    canon = F.regexp_replace(canon, r"^https?://", "")
    canon = F.regexp_replace(canon, r"^www\.", "")
    canon = F.regexp_replace(canon, r"[?#].*$", "")
    canon = F.regexp_replace(canon, r"/$", "")
    return (
        docs.select(F.col("doc_id"), canon.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(
            F.min("doc_id").alias("keeper_doc_id"),
            F.count(F.lit(1)).cast("long").alias("n_variants"),
        )
    )


URL_CANONICAL_SQL = """
WITH raw AS (
  SELECT doc_id,
         CASE doc_id % 4
           WHEN 0 THEN 'https://www.' || source || '.com/p/' || (doc_id % 50)
           WHEN 1 THEN 'http://' || source || '.com/p/' || (doc_id % 50)
                       || '?utm_source=feed'
           WHEN 2 THEN 'HTTPS://' || upper(source) || '.COM/p/'
                       || (doc_id % 50) || '/'
           ELSE 'https://' || source || '.com/p/' || (doc_id % 50) || '#frag'
         END AS u
  FROM documents),
canon AS (
  SELECT doc_id,
         regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           lower(u), '^https?://', ''), '^www\\.', ''), '[?#].*$', ''),
           '/$', '') AS canonical_url
  FROM raw)
SELECT canonical_url, min(doc_id) AS keeper_doc_id,
       count(*)::BIGINT AS n_variants
FROM canon GROUP BY canonical_url
"""


# Gopher (Rae et al. 2021, Table A1) document-level quality rules.  The
# word-count band is scaled to this synthetic fixture (real rule:
# 50..100,000 words); the stop-word requirement uses the paper's
# "at least 2 distinct stop words" rule over a 5-word list.
_GOPHER_STOPWORDS = ("the", "a", "of", "and", "to")
_GOPHER_MIN_WORDS = 20
_GOPHER_MAX_WORDS = 100


def filter_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition-free quality rules (Rae et al. 2021 Table A1),
    doc-level subset that applies to single-line text: word-count band,
    mean word length in [3, 10], >=80% of words containing an alphabetic
    character, and >=2 DISTINCT stop words present.  All four signals are
    INTEGER comparisons (e.g. mean-word-length as ``3*n <= chars <=
    10*n``) so the keep flag is bit-deterministic -- no float thresholds,
    no summation-order hazards.

    Scale plan: map-only column math over the token array (split /
    filter / array_intersect -- whole-stage codegen, no UDF, no
    shuffle).  At 1e12 docs this is a pure scan: the filter fuses with
    whatever pipeline stage consumes the keep flag."""
    docs = _spread(spark, _docs(spark, sf_dir))
    w = F.split("text", " ")
    stop = F.array(*[F.lit(s) for s in _GOPHER_STOPWORDS])
    n_words = F.size(w).cast("long")
    # single-space-joined words: total word chars = len - (n-1) separators
    word_chars = (F.length("text") - (n_words - F.lit(1))).cast("long")
    n_alpha = F.size(
        F.filter(w, lambda x: x.rlike("[a-zA-Z]"))
    ).cast("long")
    n_stop = F.size(F.array_intersect(F.array_distinct(w), stop)).cast("long")
    keep = (
        n_words.between(_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS)
        & (word_chars >= 3 * n_words)
        & (word_chars <= 10 * n_words)
        & (5 * n_alpha >= 4 * n_words)
        & (n_stop >= 2)
    )
    return docs.select(
        "doc_id",
        n_words.alias("n_words"),
        word_chars.alias("word_chars"),
        n_alpha.alias("n_alpha_words"),
        n_stop.alias("n_stop_distinct"),
        keep.alias("keep"),
    )


GOPHER_RULES_SQL = """
WITH s AS (
  SELECT doc_id,
         len(string_split(text, ' '))::BIGINT AS n_words,
         (length(text) - (len(string_split(text, ' ')) - 1))::BIGINT
           AS word_chars,
         len(list_filter(string_split(text, ' '),
                         x -> regexp_matches(x, '[a-zA-Z]')))::BIGINT
           AS n_alpha_words,
         len(list_intersect(list_distinct(string_split(text, ' ')),
                            ['the', 'a', 'of', 'and', 'to']))::BIGINT
           AS n_stop_distinct
  FROM documents)
SELECT doc_id, n_words, word_chars, n_alpha_words, n_stop_distinct,
       (n_words BETWEEN 20 AND 100
        AND word_chars >= 3 * n_words AND word_chars <= 10 * n_words
        AND 5 * n_alpha_words >= 4 * n_words
        AND n_stop_distinct >= 2) AS keep
FROM s
"""


def text_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease readability score in INTEGER milli-points --
    the classic complexity screen (206.835 - 1.015*words/sentence -
    84.6*syllables/word) used as a quality filter alongside the Gopher
    rules.  Syllables are approximated by vowel GROUPS (``[aeiouy]+``),
    the standard dependency-free heuristic.  The synthetic corpus
    carries no sentence punctuation, so sentence segmentation is stood
    in by a deterministic per-doc mean sentence length k = doc_id%7 + 5
    and n_sent = ceil(n_words / k) -- the same non-trivial-gate
    parameter-injection pattern as text_pii_redact (real corpora swap in
    a ``[.!?]+`` regexp_count for n_sent; every other column is
    unchanged).  The formula runs in int64 millis:

        wps_milli = (n_words * 1000) div n_sent
        spw_milli = (n_syll  * 1000) div n_words
        flesch_milli = 206835 - (1015*wps_milli) div 1000
                              - (846*spw_milli) div 10

    so summation/evaluation order cannot move a bit and the DuckDB gate
    compares exact bytes; keep = flesch_milli >= 80000 (80.0 points =
    'easy', splitting this corpus near its median).

    Scale plan: map-only column math -- JVM-side regexp_count and
    integer ops inside whole-stage codegen, no UDF, zero shuffles."""
    docs = _spread(spark, _docs(spark, sf_dir))
    s = docs.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("n_words"),
        F.regexp_count(F.lower(F.col("text")), F.lit("[aeiouy]+"))
        .cast("long")
        .alias("n_syll"),
        (F.col("doc_id") % 7 + 5).cast("long").alias("k"),
    ).withColumn(
        "n_sent",
        F.greatest(F.lit(1).cast("long"), F.expr("(n_words + k - 1) div k")),
    )
    s = s.withColumn(
        "wps_milli", F.expr("(n_words * 1000) div n_sent")
    ).withColumn(
        "spw_milli", F.expr("(n_syll * 1000) div greatest(1L, n_words)")
    )
    return s.select(
        "doc_id",
        "n_words",
        "n_syll",
        "n_sent",
        F.expr(
            "206835 - (1015 * wps_milli) div 1000 - (846 * spw_milli) div 10"
        )
        .cast("long")
        .alias("flesch_milli"),
    ).withColumn("keep", F.col("flesch_milli") >= 80000)


READABILITY_SQL = """
WITH s AS (
  SELECT doc_id,
         len(string_split(text, ' '))::BIGINT AS n_words,
         len(regexp_extract_all(lower(text), '[aeiouy]+'))::BIGINT AS n_syll,
         (doc_id % 7 + 5)::BIGINT AS k
  FROM documents),
m AS (SELECT doc_id, n_words, n_syll,
             greatest(1, (n_words + k - 1) // k)::BIGINT AS n_sent
      FROM s),
f AS (SELECT doc_id, n_words, n_syll, n_sent,
             (n_words * 1000) // n_sent AS wps_milli,
             (n_syll * 1000) // greatest(1, n_words) AS spw_milli
      FROM m)
SELECT doc_id, n_words, n_syll, n_sent,
       (206835 - (1015 * wps_milli) // 1000
               - (846 * spw_milli) // 10)::BIGINT AS flesch_milli,
       (206835 - (1015 * wps_milli) // 1000
               - (846 * spw_milli) // 10) >= 80000 AS keep
FROM f
"""


# ---------------------------------------------------------------------------
# Web-graph operators: a deterministic link graph synthesized from doc_id
# (doc_ids are the dense url-rank 0..N-1, FIXTURES.md SS1), so the graph
# shape is identical in Spark and the SQL oracle with no external data.
# Each doc u links to six pages: two affine targets (u*m + a) % N (coprime
# multipliers spread them uniformly), two HUB targets u % 10 and u % 100
# (10 mega-hubs and 100 mid-hubs -- the power-law in-degree skew every
# real crawl graph has), and a ring u+1, u+2 (mod N) which guarantees
# triangles ((u, u+1, u+2) closes for every u).  Duplicate targets
# collapse and self-loops are kept (PageRank handles them; the triangle
# op's canonical ordering drops them).
# ---------------------------------------------------------------------------


def _graph_edges(docs: DataFrame, n: int | None = None) -> DataFrame:
    """(src, dst) distinct edge list of the synthesized link graph.
    Map-only arithmetic + one distinct; at 1e12 docs this is the link
    table a real pipeline extracts from hrefs -- everything downstream
    (degree, PageRank, anchors) is agnostic to where edges came from.

    ``n`` (corpus size) may be passed as a pre-computed scalar; otherwise
    it is folded in via a broadcast one-row aggregate so single-shot
    consumers stay one lazy plan."""
    if n is None:
        nc = F.col("n")
        base = docs.select("doc_id").crossJoin(
            F.broadcast(docs.agg(F.count(F.lit(1)).cast("long").alias("n")))
        )
    else:
        nc = F.lit(int(n))
        base = docs.select("doc_id")
    tgts = F.array(
        (F.col("doc_id") * 7 + 3) % nc,
        (F.col("doc_id") * 13 + 5) % nc,
        F.col("doc_id") % 10,   # mega-hub (valid: u % 10 <= u < N)
        F.col("doc_id") % 100,  # mid-hub
        (F.col("doc_id") + 1) % nc,  # ring: closes (u, u+1, u+2) triangles
        (F.col("doc_id") + 2) % nc,
    )
    return base.select(
        F.col("doc_id").alias("src"), F.explode(tgts).alias("dst")
    ).distinct()


_GRAPH_EDGE_CTES = """
n AS (SELECT count(*)::BIGINT AS n FROM documents),
edges AS (
  SELECT DISTINCT doc_id AS src, t AS dst
  FROM documents CROSS JOIN n,
       unnest([ (doc_id * 7 + 3) % n.n,
                (doc_id * 13 + 5) % n.n,
                doc_id % 10,
                doc_id % 100,
                (doc_id + 1) % n.n,
                (doc_id + 2) % n.n ]) AS u(t))
"""


def graph_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-page in/out degree over the synthesized link graph -- the
    first table every web-graph pipeline (spam detection, crawl
    prioritization, PageRank sanity) derives from the edge list.

    Scale plan: two map-side-combinable counts (per-key state is one
    int64 however hot the page) + one shuffle join on the node key; the
    node table never carries text.  Skewed in-degree (a page every doc
    links to) costs one hot reduce key, which AQE skew-join splits."""
    docs = _docs(spark, sf_dir)
    edges = _graph_edges(docs)
    out_deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("out_deg")
    )
    in_deg = edges.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("in_deg")
    )
    return (
        docs.select(F.col("doc_id").alias("node"))
        .join(out_deg, "node", "left")
        .join(in_deg, "node", "left")
        .select(
            "node",
            F.coalesce("out_deg", F.lit(0)).cast("long").alias("out_deg"),
            F.coalesce("in_deg", F.lit(0)).cast("long").alias("in_deg"),
        )
    )


GRAPH_DEGREE_SQL = f"""
WITH {_GRAPH_EDGE_CTES},
od AS (SELECT src AS node, count(*)::BIGINT AS out_deg FROM edges GROUP BY src),
id_ AS (SELECT dst AS node, count(*)::BIGINT AS in_deg FROM edges GROUP BY dst)
SELECT d.doc_id AS node,
       coalesce(od.out_deg, 0)::BIGINT AS out_deg,
       coalesce(id_.in_deg, 0)::BIGINT AS in_deg
FROM documents d
LEFT JOIN od ON d.doc_id = od.node
LEFT JOIN id_ ON d.doc_id = id_.node
"""


_PR_ITERS = 3
_PR_ONE = 1_000_000_000  # rank unit: parts-per-billion of total mass
_PR_BASE = 150_000_000   # (1 - d) * 1e9 with damping d = 0.85


def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (damping 0.85, 3 unrolled iterations) in
    INTEGER parts-per-billion arithmetic: pr0 = 1e9 div N, contribution =
    pr(u) div out_deg(u), pr'(v) = (0.15e9 div N) + (85 * sum) div 100.
    Every operation is int64 -- summation order cannot move the result,
    so the DuckDB gate compares exact bytes (floats would drift with
    aggregation order across 32 partitions).

    Scale plan: the canonical iterated sparse mat-vec.  Rank state is
    corpus-sized, so each iteration is ONE shuffle join (edges x ranks
    on src, both pre-partitionable by the same key so the join
    co-locates after the first iteration) + one map-side-combinable sum
    on dst.  The (edges x out_deg) table feeds every iteration and a
    plan re-reference would recompute its distinct shuffle per level
    (Catalyst's exchange reuse does not fire across the differing
    iteration subtrees -- verified on the formatted plan), so it is
    persisted once and released after the result is checkpointed,
    exactly the dedup_semantic/sim_ivf iterative-cache pattern.  N is a
    one-row driver-side scalar (audited small-cardinality collect)."""
    docs = _docs(spark, sf_dir)
    nodes = docs.select(F.col("doc_id").alias("node"))
    n = docs.count()
    edges = _graph_edges(docs, n=n)
    out_deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("out_deg")
    )
    e = edges.join(out_deg, "src").persist()
    ranks = nodes.select("node", F.lit(_PR_ONE // n).cast("long").alias("pr"))
    base = _PR_BASE // n
    for _ in range(_PR_ITERS):
        contrib = (
            e.join(ranks.withColumnRenamed("node", "src"), "src")
            .select(F.col("dst").alias("node"), F.expr("pr div out_deg").alias("c"))
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = nodes.join(contrib, "node", "left").select(
            "node",
            (F.lit(base) + F.expr("(85 * coalesce(s, 0)) div 100"))
            .cast("long")
            .alias("pr"),
        )
    result = ranks.select("node", F.col("pr").alias("pr_ppb"))
    # corpus-sized answer: materialize executor-side, then release the
    # iteration cache
    try:
        return result.localCheckpoint(eager=True)
    finally:
        e.unpersist()


def _pr_sql_iter(prev: str, cur: str) -> str:
    return f"""
c{cur} AS (SELECT e.dst AS node, sum(p.pr // o.out_deg)::BIGINT AS s
           FROM edges e
           JOIN od o ON e.src = o.src
           JOIN p{prev} p ON e.src = p.node
           GROUP BY e.dst),
p{cur} AS (SELECT nd.node,
                  ((150000000 // n.n)
                   + (85 * coalesce(c{cur}.s, 0)) // 100)::BIGINT AS pr
           FROM nd CROSS JOIN n
           LEFT JOIN c{cur} ON nd.node = c{cur}.node)"""


GRAPH_PAGERANK_SQL = f"""
WITH {_GRAPH_EDGE_CTES},
nd AS (SELECT doc_id AS node FROM documents),
od AS (SELECT src, count(*)::BIGINT AS out_deg FROM edges GROUP BY src),
p0 AS (SELECT nd.node, (1000000000 // n.n)::BIGINT AS pr
       FROM nd CROSS JOIN n),
{",".join(_pr_sql_iter(str(i), str(i + 1)) for i in range(_PR_ITERS))}
SELECT node, pr AS pr_ppb FROM p{_PR_ITERS}
"""


def graph_anchor_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-text aggregation: for every link, the anchor is the source
    page's first word (the deterministic stand-in for href text); per
    TARGET page report inlink count, distinct anchor vocabulary, and the
    top anchor by count with lexicographic tie-break -- the primitive
    behind anchor-text ranking signals (anchors describe the target
    better than its own body, the classic web-search observation).

    Scale plan: anchors ride the edge rows (map-only first-word
    extract), ONE groupBy (dst, anchor) with map-side combine, then a
    per-target window over the grouped (bounded) rows -- never a global
    sort.  Ties break on the anchor string so the winner is unique."""
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    edges = _graph_edges(docs)
    anchors = edges.join(
        docs.select(
            F.col("doc_id").alias("src"),
            F.split_part(F.col("text"), F.lit(" "), F.lit(1)).alias("anchor"),
        ),
        "src",
    )
    grouped = anchors.groupBy(F.col("dst").alias("node"), "anchor").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    w = Window.partitionBy("node").orderBy(F.desc("cnt"), F.asc("anchor"))
    per_node = grouped.groupBy("node").agg(
        F.sum("cnt").cast("long").alias("n_inlinks"),
        F.count(F.lit(1)).cast("long").alias("n_distinct_anchors"),
    )
    top = (
        grouped.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("node", F.col("anchor").alias("top_anchor"),
                F.col("cnt").alias("top_anchor_cnt"))
    )
    return per_node.join(top, "node")


GRAPH_ANCHOR_SQL = f"""
WITH {_GRAPH_EDGE_CTES},
a AS (SELECT e.dst AS node, string_split(d.text, ' ')[1] AS anchor
      FROM edges e JOIN documents d ON e.src = d.doc_id),
g AS (SELECT node, anchor, count(*)::BIGINT AS cnt
      FROM a GROUP BY node, anchor),
r AS (SELECT node, anchor, cnt,
             row_number() OVER (PARTITION BY node
                                ORDER BY cnt DESC, anchor) AS rn,
             sum(cnt) OVER (PARTITION BY node)::BIGINT AS n_inlinks,
             count(*) OVER (PARTITION BY node)::BIGINT AS n_distinct_anchors
      FROM g)
SELECT node, n_inlinks, n_distinct_anchors,
       anchor AS top_anchor, cnt AS top_anchor_cnt
FROM r WHERE rn = 1
"""


def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the UNDIRECTED link graph -- the
    clustering-coefficient numerator used in web spam / community
    detection.  Canonical node-order enumeration (each triangle counted
    once as a < b < c, then credited to all three corners): symmetrize,
    keep a < b, join wedges (a<b<c) against the closing edge.

    Scale plan: two shuffle joins on edge keys.  Wedge volume is
    sum over middle nodes of in_canon * out_canon -- the classic skew
    hazard on power-law graphs, mitigated by orienting edges so
    high-degree nodes never sit in the middle of a wedge (relabel by
    degree rank, enumerate at the lowest-degree corner).  Here the hub
    nodes carry the SMALLEST ids, so the a < b < c canonical orientation
    already points every hub edge OUT of the hub (a hub's canonical
    in-degree is < 10 however many inlinks it has) -- the id order
    coincides with the degree-descending orientation a general graph
    gets by relabeling; a production run on arbitrary ids must do that
    relabeling first or sum(deg^2) blows up on the hubs."""
    docs = _docs(spark, sf_dir)
    e = _graph_edges(docs)
    und = (
        e.select("src", "dst")
        .unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") < F.col("dst"))  # canonical a < b; self-loops drop
        .distinct()
        .persist()
    )
    ab = und.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    bc = und.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    ac = und.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"])  # a < b < c closed
    corners = (
        tri.select(F.col("a").alias("node"))
        .unionByName(tri.select(F.col("b").alias("node")))
        .unionByName(tri.select(F.col("c").alias("node")))
    )
    result = corners.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )
    try:
        return result.localCheckpoint(eager=True)
    finally:
        und.unpersist()


GRAPH_TRIANGLES_SQL = f"""
WITH {_GRAPH_EDGE_CTES},
und AS (
  SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
  FROM edges WHERE src <> dst),
tri AS (
  SELECT e1.a, e1.b, e2.b AS c
  FROM und e1
  JOIN und e2 ON e1.b = e2.a
  JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
corners AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri)
SELECT node, count(*)::BIGINT AS n_triangles
FROM corners GROUP BY node
"""


def graph_indegree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-degree distribution in log2 buckets -- the power-law audit
    every crawl-graph data card carries (bucket = floor(log2(in_deg)),
    computed as bit_length-1 in INTEGER arithmetic so no float log can
    waver on an exact power of two).

    Scale plan: one count per dst + one tiny histogram agg; the
    histogram is bounded by 64 buckets regardless of corpus size."""
    docs = _docs(spark, sf_dir)
    ind = _graph_edges(docs).groupBy("dst").agg(
        F.count(F.lit(1)).cast("long").alias("in_deg")
    )
    # floor(log2(d)) = length of the binary repr - 1, exact in integers
    bucket = (F.length(F.conv(F.col("in_deg"), 10, 2)) - 1).cast("long")
    return (
        ind.select(bucket.alias("log2_bucket"))
        .groupBy("log2_bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    )


GRAPH_INDEG_HIST_SQL = f"""
WITH {_GRAPH_EDGE_CTES},
ind AS (SELECT dst, count(*)::BIGINT AS in_deg FROM edges GROUP BY dst)
SELECT (length(bin(in_deg)) - 1)::BIGINT AS log2_bucket,
       count(*)::BIGINT AS n_nodes
FROM ind GROUP BY 1
"""


_HITS_ITERS = 2
_HITS_ONE = 1_000_000_000  # score unit: parts-per-billion of total mass


def graph_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999, 'Authoritative sources
    in a hyperlinked environment') -- the mutual-reinforcement
    counterpart of PageRank: a page is a good AUTHORITY if good hubs
    link to it, a good HUB if it links to good authorities.  Fixed
    2 iterations in INTEGER parts-per-billion arithmetic: hub0 =
    1e9 div N per node; per iteration

        auth_raw(v) = sum over u->v of hub(u)
        auth(v)     = (auth_raw(v) * 1e9) div sum(auth_raw)
        hub_raw(u)  = sum over u->v of auth(v)
        hub(u)      = (hub_raw(u) * 1e9) div sum(hub_raw)

    (the L1 analog of HITS' L2 normalization -- the ranking is what
    matters, and L1 keeps every op int64 so aggregation order cannot
    move a bit and the DuckDB gate compares exact bytes).  int64
    headroom: every normalized score <= 1e9 ppb, raw sums <= 1e9 * max
    degree bounded by the renormalization each half-step, and the *1e9
    rescale peaks near 1e18 < 2^63.

    Scale plan: the same iterated sparse mat-vec as graph_pagerank --
    per iteration two shuffle joins (edges x hub on src, edges x auth on
    dst; both co-partitionable with the edge key) + map-side-combinable
    sums.  Each half-step's raw scores are localCheckpoint'ed so the
    normalizer total is ONE driver-side int64 scalar (audited small
    collect, exactly the _quantizer_sims / pagerank iterative-state
    pattern) and lineage stays flat across iterations; the edge table is
    persisted once and released after the result materializes."""
    docs = _docs(spark, sf_dir)
    nodes = docs.select(F.col("doc_id").alias("node"))
    n = docs.count()
    edges = _graph_edges(docs, n=n).persist()
    hub = nodes.select(
        "node", F.lit(_HITS_ONE // n).cast("long").alias("hub")
    )
    auth = None
    for _ in range(_HITS_ITERS):
        a_raw = (
            edges.join(hub.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").alias("s"))
            .localCheckpoint(eager=True)
        )
        ta = int(a_raw.agg(F.sum("s")).collect()[0][0])
        auth = nodes.join(a_raw, "node", "left").select(
            "node",
            F.expr(f"(coalesce(s, 0L) * {_HITS_ONE}) div {ta}")
            .cast("long")
            .alias("auth"),
        )
        h_raw = (
            edges.join(auth.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("auth").alias("s"))
            .localCheckpoint(eager=True)
        )
        th = int(h_raw.agg(F.sum("s")).collect()[0][0])
        hub = nodes.join(h_raw, "node", "left").select(
            "node",
            F.expr(f"(coalesce(s, 0L) * {_HITS_ONE}) div {th}")
            .cast("long")
            .alias("hub"),
        )
    result = hub.join(auth, "node").select(
        "node",
        F.col("hub").alias("hub_ppb"),
        F.col("auth").alias("auth_ppb"),
    )
    try:
        return result.localCheckpoint(eager=True)
    finally:
        edges.unpersist()


def _hits_sql_iter(prev_hub: str, i: int) -> str:
    return f"""
ar{i} AS (SELECT e.dst AS node, sum(h.hub)::BIGINT AS s
          FROM edges e JOIN {prev_hub} h ON e.src = h.node GROUP BY e.dst),
ta{i} AS (SELECT sum(s)::BIGINT AS t FROM ar{i}),
a{i} AS (SELECT nd.node,
                ((coalesce(ar{i}.s, 0) * 1000000000) // ta{i}.t)::BIGINT
                  AS auth
         FROM nd CROSS JOIN ta{i}
         LEFT JOIN ar{i} ON nd.node = ar{i}.node),
hr{i} AS (SELECT e.src AS node, sum(a.auth)::BIGINT AS s
          FROM edges e JOIN a{i} a ON e.dst = a.node GROUP BY e.src),
th{i} AS (SELECT sum(s)::BIGINT AS t FROM hr{i}),
h{i} AS (SELECT nd.node,
                ((coalesce(hr{i}.s, 0) * 1000000000) // th{i}.t)::BIGINT
                  AS hub
         FROM nd CROSS JOIN th{i}
         LEFT JOIN hr{i} ON nd.node = hr{i}.node)"""


GRAPH_HITS_SQL = f"""
WITH {_GRAPH_EDGE_CTES},
nd AS (SELECT doc_id AS node FROM documents),
h0 AS (SELECT nd.node, (1000000000 // n.n)::BIGINT AS hub
       FROM nd CROSS JOIN n),
{",".join(_hits_sql_iter(f"h{i - 1}", i) for i in range(1, _HITS_ITERS + 1))}
SELECT h.node, h.hub AS hub_ppb, a.auth AS auth_ppb
FROM h{_HITS_ITERS} h JOIN a{_HITS_ITERS} a ON h.node = a.node
"""


def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey transition matrix: per (event_type -> next
    event_type) count over each user's time-ordered event stream -- the
    Markov-chain / session-flow primitive behind funnel discovery.
    Ordering ties break on event_id so the successor is unique and the
    count is bit-deterministic.

    Scale plan: ONE shuffle on user_id feeding a lag/lead window within
    the user's (bounded) event list, then a map-side-combinable count on
    the (from, to) pair -- the same shape as gap sessionization."""
    from pyspark.sql import Window

    ev = _read_pq(spark, f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    return nxt.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


EVENTS_TRANSITION_SQL = """
WITH s AS (
  SELECT user_id, event_type AS from_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS to_type
  FROM events)
SELECT from_type, to_type, count(*)::BIGINT AS n
FROM s WHERE to_type IS NOT NULL
GROUP BY from_type, to_type
"""


# bot rule: sustained volume AND at least one burst-speed gap
_BOT_MIN_EVENTS = 50
_BOT_MIN_GAP_US = 300_000_000  # 5 minutes


def events_bot_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawler/bot-traffic detection -- the filter every web-analytics and
    crawl pipeline runs before training on clickstream-derived signals:
    per user the event count, active span, and MINIMUM inter-event gap
    (ties on ts break by event_id, like the transition matrix), flagged
    as a bot when volume is sustained (>= 50 events) AND at least one
    gap is burst-fast (< 5 min).  Every column is integer microseconds
    (unix_micros / epoch_us), so the verdict is bit-deterministic across
    engines -- no float rate math.

    Scale plan: ONE shuffle on user_id feeding a lag window over the
    user's (bounded) event list, then a map-side-combinable per-user
    aggregate; the corpus is never re-scanned per rule.  A real
    deployment adds per-(user, UA) keys and more rules on the same
    single-window frame."""
    from pyspark.sql import Window

    ev = _read_pq(spark, f"{sf_dir}/events.parquet")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ: timestampdiff is the tz-free exact-micros path
    # (unix_micros rejects NTZ; casting through TIMESTAMP would drag the
    # session timezone in)
    t = F.expr(
        "timestampdiff(MICROSECOND, TIMESTAMP_NTZ'1970-01-01 00:00:00', ts)"
    )
    g = ev.select(
        "user_id",
        t.alias("t"),
        (t - F.lag(t).over(w)).alias("gap"),
    )
    return (
        g.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            (F.max("t") - F.min("t")).cast("long").alias("span_us"),
            F.min("gap").cast("long").alias("min_gap_us"),
        )
        .withColumn(
            "is_bot",
            (F.col("n_events") >= _BOT_MIN_EVENTS)
            & (F.col("min_gap_us") < _BOT_MIN_GAP_US),
        )
        .orderBy("user_id")
    )


EVENTS_BOT_SQL = f"""
WITH g AS (
  SELECT user_id, epoch_us(ts) AS t,
         epoch_us(ts) - lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id) AS gap
  FROM events)
SELECT user_id, count(*)::BIGINT AS n_events,
       (max(t) - min(t))::BIGINT AS span_us,
       min(gap)::BIGINT AS min_gap_us,
       (count(*) >= {_BOT_MIN_EVENTS}
        AND min(gap) < {_BOT_MIN_GAP_US}) AS is_bot
FROM g GROUP BY user_id ORDER BY user_id
"""


def graph_reciprocal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-link ratio per page -- a classic link-spam / link-farm
    signal (organic link graphs are strongly asymmetric; mutual-link
    cliques are a SEO signature).  Self-loops are excluded; the ratio is
    integer parts-per-million (1e6 * n_recip DIV out_deg) so the verdict
    is bit-deterministic under any aggregation order, like the PageRank
    and HITS entries.

    Scale plan: the edge table joins its own reverse on the (dst, src)
    key -- one shuffle join on the edge key, no corpus-quadratic step;
    counts are map-side combinable.  Hot hubs cost one skewed join key,
    which AQE skew-join splits."""
    docs = _docs(spark, sf_dir)
    edges = _graph_edges(docs).filter(F.col("src") != F.col("dst"))
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    recip = (
        edges.join(rev, ["src", "dst"], "leftsemi")
        .groupBy("src")
        .agg(F.count(F.lit(1)).cast("long").alias("n_recip"))
    )
    out_deg = edges.groupBy("src").agg(
        F.count(F.lit(1)).cast("long").alias("out_deg")
    )
    return (
        out_deg.join(recip, "src", "left")
        .select(
            F.col("src").alias("node"),
            "out_deg",
            F.coalesce("n_recip", F.lit(0)).cast("long").alias("n_recip"),
            # integer floor-div (DIV), not float-divide-then-cast: Spark's
            # double->long cast truncates while DuckDB's CAST rounds --
            # floor division is the one form both engines agree on
            F.expr(
                "coalesce(n_recip, 0L) * 1000000L DIV out_deg"
            ).alias("recip_ppm"),
        )
        .orderBy("node")
    )


GRAPH_RECIPROCAL_SQL = f"""
WITH {_GRAPH_EDGE_CTES},
e AS (SELECT src, dst FROM edges WHERE src <> dst),
recip AS (SELECT e.src, count(*)::BIGINT AS n_recip
          FROM e JOIN e r ON r.src = e.dst AND r.dst = e.src
          GROUP BY e.src),
od AS (SELECT src, count(*)::BIGINT AS out_deg FROM e GROUP BY src)
SELECT od.src AS node, od.out_deg,
       coalesce(recip.n_recip, 0)::BIGINT AS n_recip,
       ((coalesce(recip.n_recip, 0) * 1000000) // od.out_deg)::BIGINT
         AS recip_ppm
FROM od LEFT JOIN recip USING (src)
ORDER BY node
"""


# ---------------------------------------------------------------------------
# Full probe-tokenizer operators (no SQL oracle -- pytest-verified instead)
# ---------------------------------------------------------------------------


def probe_tokenize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc token stats using the FULL probe tokenizer pipeline
    (tokenization.rs:2728-2850) as an Arrow UDF.  SQL cannot express the
    stemming/compound semantics; parity is pytest-verified
    (tests/test_textkit.py, tests/test_spark_engine.py)."""
    from pyspark.sql.types import LongType, StructField, StructType

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    schema = StructType(
        [
            StructField("doc_id", LongType()),
            StructField("n_tokens", LongType()),
            StructField("n_unique", LongType()),
        ]
    )

    def run(iterator):
        import pandas as pd

        from probe_spark.textkit import tokenize

        for pdf in iterator:
            toks = [tokenize(t or "") for t in pdf["text"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_tokens": [len(t) for t in toks],
                    "n_unique": [len(set(t)) for t in toks],
                }
            )

    return docs.mapInPandas(run, schema)


def source_warc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC container source/sink under the driver's gate (warc.py,
    ISO 28500 / the Common-Crawl delivery format): wrap each documents
    row in deterministic html, export the corpus as .warc.gz via
    write_warc (one gzip member per record, the CC layout), re-ingest
    with read_warc (per-file streaming parse, the cc-pyspark shape), and
    emit per-doc byte evidence of the roundtrip: html byte length + md5,
    the second-precision WARC-Date, and the language header.  The DuckDB
    oracle rebuilds the same html string straight from the table, so ANY
    byte lost or altered through record framing, HTTP payload stripping,
    gzip member handling, or header parsing breaks the hash."""
    import glob
    import shutil
    import tempfile

    from probe_spark.warc import read_warc, write_warc

    # the tmp export dir is driver-local: correct under the gate's local
    # master (executors share the driver's filesystem); a cluster run of
    # this ENTRY would need a shared path, which write_warc documents
    if not spark.sparkContext.master.startswith("local"):
        raise RuntimeError(
            "source_warc_roundtrip uses driver-local tmp; run local[*] "
            "or point write_warc at shared storage"
        )
    base = 1735689600  # 2025-01-01T00:00:00Z, the fixtures' epoch
    pages = _docs(spark, sf_dir).select(
        F.format_string("doc://%08d", F.col("doc_id")).alias("url"),
        F.timestamp_seconds(F.lit(base) + F.col("doc_id")).alias(
            "warc_ts"
        ),
        F.encode(
            F.concat(
                F.lit('<html lang="en"><body>'),
                F.coalesce("text", F.lit("")),
                F.lit("</body></html>"),
            ),
            "UTF-8",
        ).alias("html"),
        F.lit("en").alias("lang"),
    )
    d = tempfile.mkdtemp(prefix="warc_rt_")
    try:
        write_warc(pages, d)
        rt = read_warc(spark, sorted(glob.glob(f"{d}/*.warc.gz")))
        return (
            rt.select(
                F.regexp_extract("url", r"(\d+)", 1)
                .cast("long")
                .alias("doc_id"),
                F.length("html").cast("long").alias("n_bytes"),
                F.md5("html").alias("html_md5"),
                F.unix_timestamp("warc_ts").cast("long").alias("ts_unix"),
                "lang",
            )
            .orderBy("doc_id")
            # materialize before the tmp dir is removed: the plan reads
            # the exported files lazily
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def source_cdx_snapshot_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX(J) url-index source under the driver's gate (warc.read_cdx,
    Common Crawl's third artifact type): serialize a capture index for
    the documents corpus as real CDXJ text lines (one capture per doc at
    epoch+doc_id, a RE-CRAWL a day later for every doc_id % 3 == 0),
    round it through the text files + the JVM-side from_json parse, and
    reduce to the pre-fetch planning shape: captures per urlkey, latest
    capture time, content digest.  This is the query a 100-TB pipeline
    runs BEFORE touching any WARC byte (the index is ~1% of crawl
    bytes); the DuckDB oracle rebuilds the same aggregate straight from
    the table, so a parse drift in any CDX field breaks the hash."""
    import shutil
    import tempfile

    from probe_spark.warc import read_cdx

    if not spark.sparkContext.master.startswith("local"):
        raise RuntimeError(
            "source_cdx_snapshot_latest uses driver-local tmp; run "
            "local[*] or point the export at shared storage"
        )
    base = 1735689600  # 2025-01-01T00:00:00Z
    docs = _docs(spark, sf_dir)

    def capture(ts_col):
        # a CDXJ line: 'urlkey 14-digit-ts {json}' (fields string-typed,
        # as the real index carries them)
        return F.concat_ws(
            " ",
            F.concat(
                F.format_string("%08d", F.col("doc_id")), F.lit(")/")
            ),
            F.date_format(ts_col, "yyyyMMddHHmmss"),
            F.to_json(
                F.struct(
                    F.format_string("doc://%08d", F.col("doc_id")).alias(
                        "url"
                    ),
                    F.md5(F.coalesce("text", F.lit(""))).alias("digest"),
                    F.lit("text/html").alias("mime"),
                    F.lit("200").alias("status"),
                    F.lit("crawl-00.warc.gz").alias("filename"),
                    (F.col("doc_id") * 1000).cast("string").alias(
                        "offset"
                    ),
                    F.lit("512").alias("length"),
                )
            ),
        ).alias("value")

    first = docs.select(
        capture(F.timestamp_seconds(F.lit(base) + F.col("doc_id")))
    )
    recrawl = docs.filter(F.col("doc_id") % 3 == 0).select(
        capture(
            F.timestamp_seconds(F.lit(base + 86400) + F.col("doc_id"))
        )
    )
    d = tempfile.mkdtemp(prefix="cdx_rt_")
    try:
        first.unionByName(recrawl).write.mode("overwrite").text(d)
        cdx = read_cdx(spark, [d])
        return (
            cdx.groupBy("urlkey")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_captures"),
                F.max(F.unix_timestamp("warc_ts"))
                .cast("long")
                .alias("latest_ts_unix"),
                F.max("digest").alias("digest"),
                F.max("status").cast("long").alias("status"),
            )
            .select(
                F.regexp_extract("urlkey", r"(\d+)", 1)
                .cast("long")
                .alias("doc_id"),
                "n_captures",
                "latest_ts_unix",
                "digest",
                "status",
            )
            .orderBy("doc_id")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


CDX_SNAPSHOT_SQL = """
SELECT doc_id,
       (1 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END)::BIGINT
           AS n_captures,
       (1735689600 + doc_id
        + CASE WHEN doc_id % 3 = 0 THEN 86400 ELSE 0 END)::BIGINT
           AS latest_ts_unix,
       md5(coalesce(text, '')) AS digest,
       200::BIGINT AS status
FROM documents
ORDER BY doc_id
"""


WARC_ROUNDTRIP_SQL = """
SELECT doc_id,
       strlen(h)::BIGINT AS n_bytes,  -- DuckDB strlen = BYTE length
       md5(h) AS html_md5,
       (1735689600 + doc_id)::BIGINT AS ts_unix,
       'en' AS lang
FROM (SELECT doc_id,
             '<html lang="en"><body>' || coalesce(text, '')
             || '</body></html>' AS h
      FROM documents)
ORDER BY doc_id
"""


ALL_QUERIES: dict[str, tuple] = {
    "a1_term_tf": (a1_term_tf, A1_SQL),
    "a2_df": (a2_df, A2_SQL),
    "a3_doc_len": (a3_doc_len, A3_SQL),
    "a4_stats": (a4_stats, A4_SQL),
    "a5_idf": (a5_idf, A5_SQL),
    "r1_bm25_topk": (r1_bm25_topk, R1_SQL),
    "r2_boolean_bm25": (r2_boolean_bm25, R2_SQL),
    "u3_posting_intersection": (u3_posting_intersection, U3_SQL),
    "j4_exclusion_antijoin": (j4_exclusion_antijoin, J4_SQL),
    "f1_field_filter": (f1_field_filter, F1_SQL),
    "s5_grep": (s5_grep, S5_SQL),
    "dedup_exact": (dedup_exact, DEDUP_EXACT_SQL),
    "dedup_minhash": (dedup_minhash, DEDUP_MINHASH_SQL),
    "dedup_simhash": (dedup_simhash, DEDUP_SIMHASH_SQL),
    "dedup_ngram_jaccard": (dedup_ngram_jaccard, DEDUP_JACCARD_SQL),
    "dedup_containment": (dedup_containment, DEDUP_CONTAINMENT_SQL),
    "dedup_minhash_pairs": (dedup_minhash_pairs, DEDUP_MINHASH_PAIRS_SQL),
    "dedup_simhash_pairs": (dedup_simhash_pairs, DEDUP_SIMHASH_PAIRS_SQL),
    "dedup_clusters": (dedup_clusters, DEDUP_CLUSTERS_SQL),
    "pipeline_dedup_corpus": (pipeline_dedup_corpus, PIPELINE_DEDUP_SQL),
    "dedup_embed_cosine": (dedup_embed_cosine, DEDUP_EMBED_COSINE_SQL),
    "dedup_embed_lsh": (dedup_embed_lsh, DEDUP_EMBED_LSH_SQL),
    "sim_cosine_topk": (sim_cosine_topk, SIM_COSINE_SQL),
    "sim_lsh_buckets": (sim_lsh_buckets, SIM_LSH_SQL),
    "sim_lsh_topk": (sim_lsh_topk, SIM_LSH_TOPK_SQL),
    "sim_ivf_topk": (sim_ivf_topk, SIM_IVF_SQL),
    "sim_pq_topk": (sim_pq_topk, SIM_PQ_SQL),
    "events_window": (events_window, EVENTS_WINDOW_SQL),
    "events_json_extract": (events_json_extract, EVENTS_JSON_SQL),
    "events_sessionize": (events_sessionize, EVENTS_SESSIONIZE_SQL),
    "events_funnel": (events_funnel, EVENTS_FUNNEL_SQL),
    "events_retention": (events_retention, EVENTS_RETENTION_SQL),
    "events_value_percentiles": (
        events_value_percentiles,
        EVENTS_PERCENTILES_SQL,
    ),
    "events_anomaly_mad": (events_anomaly_mad, EVENTS_ANOMALY_SQL),
    "events_distinct_users": (events_distinct_users, EVENTS_DAU_SQL),
    "events_kmv_distinct": (events_kmv_distinct, EVENTS_KMV_SQL),
    "events_bot_flags": (events_bot_flags, EVENTS_BOT_SQL),
    "filter_blocklist": (filter_blocklist, FILTER_BLOCKLIST_SQL),
    "dedup_cross_source_matrix": (
        dedup_cross_source_matrix,
        CROSS_SOURCE_SQL,
    ),
    "corpus_vocab_stats": (corpus_vocab_stats, VOCAB_STATS_SQL),
    "pipeline_chunk_overlap": (pipeline_chunk_overlap, CHUNK_OVERLAP_SQL),
    "text_pmi_bigrams": (text_pmi_bigrams, PMI_BIGRAMS_SQL),
    "sample_split": (sample_split, SAMPLE_SPLIT_SQL),
    "sample_source_cap": (sample_source_cap, SAMPLE_SOURCE_CAP_SQL),
    "text_token_count": (text_token_count, TOKEN_COUNT_SQL),
    "text_quality": (text_quality, QUALITY_SQL),
    "text_langid": (text_langid, LANGID_SQL),
    "text_fingerprint": (text_fingerprint, FINGERPRINT_SQL),
    "text_winnow_fingerprints": (text_winnow_fingerprints, WINNOW_SQL),
    "text_repetition": (text_repetition, REPETITION_SQL),
    "text_boilerplate_ngrams": (text_boilerplate_ngrams, BOILERPLATE_NGRAMS_SQL),
    "sample_lang_temperature": (sample_lang_temperature, SAMPLE_LANG_TEMPERATURE_SQL),
    "pipeline_decontaminate": (pipeline_decontaminate, DECONTAMINATE_SQL),
    "dedup_span_exact": (dedup_span_exact, DEDUP_SPAN_SQL),
    "text_pii_redact": (text_pii_redact, PII_REDACT_SQL),
    "text_unigram_nll": (text_unigram_nll, UNIGRAM_NLL_SQL),
    "pipeline_decontaminate_fuzzy": (
        pipeline_decontaminate_fuzzy,
        DECONTAMINATE_FUZZY_SQL,
    ),
    "pipeline_pack_chunks": (pipeline_pack_chunks, PACK_CHUNKS_SQL),
    "split_leakage_report": (split_leakage_report, SPLIT_LEAKAGE_SQL),
    "text_tfidf_topk": (text_tfidf_topk, TFIDF_TOPK_SQL),
    "corpus_mixture": (corpus_mixture, CORPUS_MIXTURE_SQL),
    "filter_length_percentile": (
        filter_length_percentile,
        LENGTH_PERCENTILE_SQL,
    ),
    "filter_domain_spam": (filter_domain_spam, DOMAIN_SPAM_SQL),
    "dedup_semantic": (dedup_semantic, DEDUP_SEMANTIC_SQL),
    "sample_dsir": (sample_dsir, SAMPLE_DSIR_SQL),
    "sim_knn_join": (sim_knn_join, SIM_KNN_SQL),
    "sim_hard_negatives": (sim_hard_negatives, SIM_HARD_NEG_SQL),
    "dedup_incremental": (dedup_incremental, DEDUP_INCREMENTAL_SQL),
    "cluster_assign": (cluster_assign, CLUSTER_ASSIGN_SQL),
    "filter_proto_prune": (filter_proto_prune, FILTER_PROTO_PRUNE_SQL),
    "filter_ccnet_buckets": (filter_ccnet_buckets, CCNET_BUCKETS_SQL),
    "text_bigram_nll": (text_bigram_nll, BIGRAM_NLL_SQL),
    "text_oov_rate": (text_oov_rate, OOV_RATE_SQL),
    "dedup_snapshot_latest": (dedup_snapshot_latest, SNAPSHOT_LATEST_SQL),
    "dedup_url_canonical": (dedup_url_canonical, URL_CANONICAL_SQL),
    "filter_gopher_rules": (filter_gopher_rules, GOPHER_RULES_SQL),
    "graph_degree": (graph_degree, GRAPH_DEGREE_SQL),
    "graph_pagerank": (graph_pagerank, GRAPH_PAGERANK_SQL),
    "graph_anchor_text": (graph_anchor_text, GRAPH_ANCHOR_SQL),
    "graph_triangles": (graph_triangles, GRAPH_TRIANGLES_SQL),
    "graph_indegree_histogram": (graph_indegree_histogram, GRAPH_INDEG_HIST_SQL),
    "graph_hits": (graph_hits, GRAPH_HITS_SQL),
    "graph_reciprocal": (graph_reciprocal, GRAPH_RECIPROCAL_SQL),
    "text_readability": (text_readability, READABILITY_SQL),
    "sample_epoch_mix": (sample_epoch_mix, SAMPLE_EPOCH_MIX_SQL),
    "text_entropy": (text_entropy, TEXT_ENTROPY_SQL),
    "pipeline_shard_manifest": (pipeline_shard_manifest, SHARD_MANIFEST_SQL),
    "events_transition_matrix": (events_transition_matrix, EVENTS_TRANSITION_SQL),
    "source_warc_roundtrip": (source_warc_roundtrip, WARC_ROUNDTRIP_SQL),
    "source_cdx_snapshot_latest": (
        source_cdx_snapshot_latest,
        CDX_SNAPSHOT_SQL,
    ),
    "probe_tokenize_stats": (probe_tokenize_stats, None),
}
