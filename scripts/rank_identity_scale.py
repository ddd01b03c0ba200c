#!/usr/bin/env python
"""One-off large-scale rank-identity run (BASELINE.md evidence).

Builds the synthetic fixture corpus at N docs and checks the 25 reference
queries (FIXTURES.md §3) through SearchEngine.search_local against the
pure-Python oracle -- doc ids must match exactly and scores to the last
ulp.  Usage:

    python scripts/rank_identity_scale.py [n_docs] [n_buckets]

Prints one JSON line with build/oracle/query timings and the pass count;
exit 0 only on 25/25.
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from probe_spark.fixtures import REFERENCE_QUERIES as QUERIES


_ORACLE_IX = None


def _oracle_one(item):
    """(qid, query) -> (qid, oracle top-10); module-level for the fork
    pool, reads the index from the inherited global."""
    from probe_spark.oracle import search as oracle_search

    qid, q = item
    return qid, oracle_search(_ORACLE_IX, q, k=10)


def _oracle_shard(doc_range):
    """ALL queries over one disjoint doc-id shard [lo, hi) -> {qid:
    shard-local top-10}.  Sharding by DOCS instead of by QUERIES keeps the
    fork pool's copy-on-write cost flat in the worker count: a per-query
    worker scans the whole corpus and dirties (via refcount writes) the
    pages of every object it touches, multiplying resident memory by ~the
    per-scan touch set PER WORKER; a shard worker touches only its own
    slice, so the total dirtied set across all workers is one corpus scan
    regardless of parallelism.  Scores are doc-local given global stats
    (oracle.search doc_range contract), so merging per-shard top-10 by
    (score desc, doc_id asc) reproduces the full scan exactly."""
    from probe_spark.oracle import search as oracle_search

    return {
        qid: oracle_search(_ORACLE_IX, q, k=10, doc_range=doc_range)
        for qid, q in sorted(QUERIES.items())
    }


def _in_ram_oracle(n_docs: int, workers: int, out: dict, os) -> dict:
    """Legacy whole-corpus oracle path (<=5M docs): build the in-RAM
    CorpusIndex, warm the rescue memo in the parent, evaluate queries in
    a doc-range-sharded fork pool, and free the corpus before returning
    (the 25 top-10 lists are all the engine phase needs; at 5M docs the
    corpus is ~56 GB resident and holding it across the Spark session is
    what ran this box out of memory)."""
    import time

    from probe_spark.fixtures import oracle_corpus

    t0 = time.time()
    oracle_ix = oracle_corpus(n_docs, workers=workers)
    out["oracle_build_sec"] = round(time.time() - t0, 1)

    # oracle query evaluation in a fork pool, sharded by DOC RANGE
    # (not by query): COW refcount dirtying stays one-corpus-scan
    # total regardless of worker count (see _oracle_shard), which is
    # what lets a 5M-doc run fit this box -- per-query workers capped
    # out at 2M.  Override worker count with
    # PROBE_ORACLE_QUERY_WORKERS.
    t0 = time.time()
    global _ORACLE_IX
    _ORACLE_IX = oracle_ix
    # warm the rescue-df memo in the PARENT before forking: quoted/
    # excluded terms need one O(corpus) containment scan each, and a
    # shard worker recomputing it per shard (or even once per worker)
    # would re-dirty the whole corpus's COW pages in every process
    from probe_spark import elastic as _elastic
    from probe_spark.oracle import global_df as _global_df

    for _q in QUERIES.values():
        _global_df(oracle_ix, _elastic.create_query_plan(_q, False))
    out["oracle_rescue_warm_sec"] = round(time.time() - t0, 1)
    t0 = time.time()
    from multiprocessing import get_context

    q_workers = int(
        os.environ.get("PROBE_ORACLE_QUERY_WORKERS", min(workers, 16))
    )
    n = oracle_ix.n_docs
    n_shards = max(1, min(q_workers * 4, n))
    step = (n + n_shards - 1) // n_shards
    ranges = [(lo, min(lo + step, n)) for lo in range(0, n, step)]
    with get_context("fork").Pool(q_workers) as pool:
        shard_results = pool.map(_oracle_shard, ranges)
    expected_all = {}
    for qid in QUERIES:
        merged = [t for sr in shard_results for t in sr[qid]]
        merged.sort(key=lambda x: (-x[1], x[0]))
        expected_all[qid] = merged[:10]
    out["oracle_queries_sec"] = round(time.time() - t0, 1)
    out["oracle_mode"] = "in_ram"
    _ORACLE_IX = None
    del oracle_ix
    return expected_all


def main() -> None:
    import shutil
    import tempfile

    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_buckets = int(sys.argv[2]) if len(sys.argv) > 2 else 8

    from probe_spark.engine import SearchEngine
    from probe_spark.fixtures import pages_df
    from probe_spark.indexer import build_index
    from probe_spark.oracle import search as oracle_search
    from probe_spark.session import get_spark

    # PROBE_SCALEID_DIR pins the scratch to a fixed path that SURVIVES a
    # crash: the build is lineage-resumable, so a relaunch
    # with the same dir picks up where the dead run stopped instead of
    # redoing hours of work.  Unset keeps the old fresh-tempdir behavior.
    import os as _os

    fixed = _os.environ.get("PROBE_SCALEID_DIR")
    if fixed:
        tmp = fixed
        Path(tmp).mkdir(parents=True, exist_ok=True)
    else:
        tmp = tempfile.mkdtemp(prefix="probe_scaleid_", dir="/dev/shm")
    out: dict = {"n_docs": n_docs, "n_buckets": n_buckets}
    spark = get_spark("rank_identity_scale")
    spark.sparkContext.setLogLevel("ERROR")
    ok = False
    try:
        ix = f"{tmp}/ix"
        t0 = time.time()
        # with a pinned scratch, RESUME an existing build rather than
        # wiping it (resume is opt-in in build_index; without this flag a
        # crashed run's surviving scratch is rebuilt from scratch anyway,
        # which defeats the point of keeping it)
        resume = bool(fixed) and (Path(ix) / "manifest.json").exists()
        metrics = build_index(
            spark,
            pages_df(spark, n_docs),
            ix,
            n_buckets=n_buckets,
            resume=resume,
        )
        out["build_sec"] = round(time.time() - t0, 1)
        out["n_postings"] = metrics["n_postings"]

        import os

        # release the Spark JVM (driver heap defaults to 32g) across the
        # oracle's resident-set peak at multi-million-doc scale; a fresh
        # session serves the engine query phase afterwards
        spark.stop()

        # PROBE_ORACLE_BUILD_WORKERS caps the corpus-build fork pool:
        # RAM, not CPU, is the binding constraint at >=5M docs (the 5M
        # query phase OOM-killed a 28 GB parent on this box when the
        # index scratch also lived in RAM-backed tmpfs)
        workers = int(
            os.environ.get(
                "PROBE_ORACLE_BUILD_WORKERS", os.cpu_count() or 1
            )
        )

        # STREAMING SHARDED ORACLE (default at >5M docs, or
        # PROBE_ORACLE_SHARDED=1): two passes that never hold more than
        # workers x shard_size docs of tokens -- the in-RAM oracle needs
        # ~11 GB per million docs and OOM'd twice at 5M on this box.
        # f64-identical by construction and pinned by
        # tests/test_oracle_shard.py.
        sharded = os.environ.get("PROBE_ORACLE_SHARDED")
        use_sharded = (
            sharded == "1" or (sharded is None and n_docs > 5_000_000)
        )
        if use_sharded:
            from probe_spark.oracle_shard import (
                global_stats,
                sharded_oracle_topk,
                url_rank_permutation,
            )
            from probe_spark import elastic as _elastic
            from probe_spark.oracle import rescue_terms as _rescue_terms

            shard_size = int(
                os.environ.get("PROBE_ORACLE_SHARD_SIZE", "100000")
            )
            t0 = time.time()
            perm = url_rank_permutation(n_docs, workers)
            out["oracle_perm_sec"] = round(time.time() - t0, 1)
            needles = sorted(
                {
                    t
                    for q in QUERIES.values()
                    for t in _rescue_terms(
                        _elastic.create_query_plan(q, False)
                    )
                }
            )
            t0 = time.time()
            stats = global_stats(
                n_docs, perm, needles, workers, shard_size
            )
            out["oracle_stats_sec"] = round(time.time() - t0, 1)
            t0 = time.time()
            expected_all = sharded_oracle_topk(
                n_docs,
                dict(QUERIES),
                k=10,
                workers=workers,
                shard_size=shard_size,
                perm=perm,
                stats=stats,
            )
            out["oracle_queries_sec"] = round(time.time() - t0, 1)
            out["oracle_mode"] = "sharded"
            del perm, stats
        else:
            expected_all = _in_ram_oracle(n_docs, workers, out, os)
        import gc

        gc.collect()

        spark = get_spark("rank_identity_scale_query")
        spark.sparkContext.setLogLevel("ERROR")
        eng = SearchEngine(spark, ix)
        passed = 0
        mismatches = []
        lat: list[float] = []
        t0 = time.time()
        for qid in sorted(QUERIES):
            q = QUERIES[qid]
            expected = expected_all[qid]
            tq = time.time()
            got = eng.search_local(q, k=10)
            lat.append(time.time() - tq)
            ok = [d for d, _ in got] == [d for d, _ in expected] and all(
                gs == es for (_, gs), (_, es) in zip(got, expected)
            )
            if ok:
                passed += 1
            else:
                mismatches.append((qid, got[:3], expected[:3]))
        out["queries_sec"] = round(time.time() - t0, 1)
        # latency distribution at THIS corpus size (cold cache, first
        # sighting of each query -- the conservative number)
        lat.sort()
        out["engine_p50_sec"] = round(lat[len(lat) // 2], 3)
        out["engine_p99_sec"] = round(
            lat[min(len(lat) - 1, int(len(lat) * 0.99))], 3
        )
        out["engine_pass"] = passed
        out["mismatches"] = [{"qid": m[0]} for m in mismatches[:5]]
        print(json.dumps(out))
        # keep the scratch on mismatch too: it is the debugging evidence
        ok = not mismatches
        if mismatches:
            for m in mismatches[:5]:
                print("MISMATCH", m, file=sys.stderr)
            sys.exit(1)
    finally:
        spark.stop()
        # never delete a crashed run's scratch -- a 5M-doc build is
        # ~40 min of work and the lineage makes a relaunch resume it
        if ok:
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
