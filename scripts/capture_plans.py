#!/usr/bin/env python
"""Capture .explain('formatted') for the bench-timed query paths into a
directory (plans/r06/...): the headline search shapes (the exact DataFrame
search_local executes) and the four benchmarked entry ops.

Usage: python scripts/capture_plans.py OUT_DIR [suffix]
"""
from __future__ import annotations

import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

HEADLINE = {
    "single_term": "spark",
    "implicit_or": "window batch stream",
    "excluded": "scan -vector",
    "exact_phrase": '"join scan"',
}


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def main() -> None:
    out_dir = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 else "after"
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)

    from pyspark.sql import functions as F

    from probe_spark import elastic
    from probe_spark.engine import SearchEngine
    from probe_spark.indexer import build_index
    from probe_spark.session import get_spark

    tmp = tempfile.mkdtemp(
        prefix="plans_", dir="/dev/shm" if os.path.isdir("/dev/shm") else None
    )
    spark = get_spark("capture_plans", cores=8)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
        pages = docs.select(
            F.format_string("doc://%08d", F.col("doc_id")).alias("url"),
            "text",
            "lang",
        )
        build_index(spark, pages, f"{tmp}/ix", n_buckets=4)
        eng = SearchEngine(spark, f"{tmp}/ix")
        eng.search_local("spark", 10)
        eng.search_local('"warmup phrase"', 10)
        for name, q in HEADLINE.items():
            plan = elastic.create_query_plan(q, False)
            scored, _c, _i, zs = eng._match_frames(
                plan, boost_coverage=False, exclude_filenames=False
            )
            order = (
                [F.asc("doc_id")]
                if zs
                else [F.desc("score"), F.asc("doc_id")]
            )
            df = scored.orderBy(*order).limit(10).select("doc_id", "score")
            with open(f"{out_dir}/{name}_{suffix}.txt", "w") as f:
                f.write(_explain(df))
        from probe_spark.entry_queries import dedup_minhash, r1_bm25_topk

        for name, fn in (
            ("op_bm25_simple", r1_bm25_topk),
            ("op_dedup_minhash", dedup_minhash),
        ):
            df = fn(spark, sf_dir)
            with open(f"{out_dir}/{name}_{suffix}.txt", "w") as f:
                f.write(_explain(df))
        print(f"wrote plans to {out_dir} (*_{suffix}.txt)")
    finally:
        spark.stop()
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
