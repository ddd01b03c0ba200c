#!/usr/bin/env python
"""SymSpell lane at web-vocabulary scale: build a synthetic N-term
dictionary (default 1,000,000 distinct terms -- the vocabulary size where
the brute per-query levenshtein scan stops being a serving-path shape),
materialize the delete-neighborhood table, and time brute vs bucket
suggest lookups on the same engine.

The corpus behind the dictionary is irrelevant to the comparison (both
lanes read only terms/), so the script fabricates the dictionary
directly: deterministic pseudo-words over a 26-letter alphabet, zipf-ish
df.  Usage:

    python scripts/symspell_scale_smoke.py [n_terms] [n_queries]

Prints one JSON line with dictionary size, bucket rows, build seconds,
and per-lane mean/min lookup seconds + the identity check result.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    n_terms = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_queries = int(sys.argv[2]) if len(sys.argv) > 2 else 8

    from pyspark.sql import functions as F

    from probe_spark.session import get_spark
    from probe_spark.engine import SearchEngine
    from probe_spark.indexer import sorted_dictionary, write_stats
    from probe_spark.symspell import build_suggest_buckets

    spark = get_spark("symspell_smoke")
    import shutil
    import tempfile

    root = Path(tempfile.mkdtemp(prefix="symspell_smoke_"))
    ix = root / "ix"
    ix.mkdir(parents=True)

    # deterministic pseudo-word per id: base-26 digits -> letters, length
    # 6-12; distinct ids give distinct terms, so the dictionary has
    # exactly n_terms rows.  md5 keeps neighboring ids lexically far
    # apart (a sorted-id vocabulary would be unrealistically compressible
    # for the range-pruning comparison).
    t0 = time.time()
    terms = (
        spark.range(n_terms)
        .select(
            F.concat(
                F.lit("w"),
                F.translate(
                    F.substring(F.md5(F.col("id").cast("string")), 1, 10),
                    "0123456789abcdef",
                    "abcdefghijklmnop",
                ),
                # disambiguator: md5-prefix collisions across ids would
                # otherwise shrink the vocabulary below n_terms
                F.conv(F.col("id").cast("string"), 10, 16),
            ).alias("term"),
            (F.lit(1) + (F.col("id") % 1000)).cast("long").alias("df"),
            F.lit(0).cast("long").alias("cf"),
        )
    )
    # ~16 bytes per (term, df, cf) row on disk sizes the file count
    sorted_dictionary(terms, 16 * n_terms).write.mode("overwrite").parquet(
        str(ix / "terms")
    )
    # minimal index scaffolding so SearchEngine opens: stats + empty
    # postings/docs tables matching the layouts the engine reads
    write_stats(str(ix), n_docs=n_terms, avgdl=100.0)
    spark.createDataFrame(
        [], "term string, doc_id long, tf long, doc_len long, bucket int"
    ).write.mode("overwrite").parquet(str(ix / "postings"))
    spark.createDataFrame([], "doc_id long, url string").write.mode(
        "overwrite"
    ).parquet(str(ix / "docs"))
    dict_sec = time.time() - t0

    t0 = time.time()
    bucket_rows = build_suggest_buckets(spark, str(ix), max_dist=2)
    build_sec = time.time() - t0

    eng = SearchEngine(spark, str(ix))
    assert eng._suggest_buckets_df is not None

    # queries: mutations of real dictionary terms (hit cases) + misses
    sample = [r["term"] for r in eng._terms_df.limit(n_queries * 2).collect()]
    qs = []
    for i, t in enumerate(sample[:n_queries]):
        qs.append(t[:-1] if i % 2 == 0 else t[: len(t) // 2] + "x" + t[len(t) // 2 + 1 :])

    def run(use_buckets: bool) -> tuple[list[float], list[list[tuple]]]:
        ts, rows = [], []
        for q in qs:
            t0 = time.time()
            r = [
                (x["term"], x["df"], x["dist"])
                for x in eng.suggest(q, 2, 5, use_buckets=use_buckets).collect()
            ]
            ts.append(time.time() - t0)
            rows.append(r)
        return ts, rows

    # warm both paths once (codegen)
    eng.suggest(qs[0], 2, 5, use_buckets=False).collect()
    eng.suggest(qs[0], 2, 5, use_buckets=True).collect()
    brute_ts, brute_rows = run(False)
    sym_ts, sym_rows = run(True)

    print(
        json.dumps(
            {
                "n_terms": n_terms,
                "bucket_rows": bucket_rows,
                "dict_build_sec": round(dict_sec, 2),
                "bucket_build_sec": round(build_sec, 2),
                "n_queries": len(qs),
                "brute_mean_sec": round(sum(brute_ts) / len(brute_ts), 3),
                "brute_min_sec": round(min(brute_ts), 3),
                "symspell_mean_sec": round(sum(sym_ts) / len(sym_ts), 3),
                "symspell_min_sec": round(min(sym_ts), 3),
                "speedup_mean": round(
                    (sum(brute_ts) / len(brute_ts))
                    / (sum(sym_ts) / len(sym_ts)),
                    2,
                ),
                "identical_rows": brute_rows == sym_rows,
            }
        )
    )
    spark.stop()
    shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    main()
