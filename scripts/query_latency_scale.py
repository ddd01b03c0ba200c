"""Query-latency scale run: COLD + WARM p50/p99 at N docs (r4 VERDICT
ask #3 evidence).

The r4 10M-doc latency numbers were cold-cache first sightings measured
while the oracle shared the box; this script builds (or resumes) the
fixture index WITHOUT an oracle phase and records, per engine path
(flat, flat+pin_hot):

  - cold: first sighting of each of the 25 reference queries
  - warm: min over ``PROBE_LAT_SWEEPS`` (default 3) further sweeps --
    memoized rescue needles, cached dictionaries,
    OS page cache: the steady-state an interactive deployment serves

p50/p99 over the 25-query set for each (path, temperature), one JSON
line.  A fixed scratch (PROBE_SCALEID_DIR) survives crashes: the build
is lineage-resumable exactly as in rank_identity_scale.py.

Usage: python scripts/query_latency_scale.py [n_docs] [n_buckets]
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from probe_spark.fixtures import REFERENCE_QUERIES as QUERIES


def _dist(ts: list[float]) -> dict:
    s = sorted(ts)
    return {
        "p50_sec": round(s[len(s) // 2], 3),
        "p99_sec": round(s[min(len(s) - 1, int(len(s) * 0.99))], 3),
        "max_sec": round(s[-1], 3),
        "sum_sec": round(sum(s), 1),
    }


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    n_buckets = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    # clamp at 1: PROBE_LAT_SWEEPS=0 would leave the warm 'best' lists at
    # float('inf') and json.dumps would emit non-standard 'Infinity'
    sweeps = max(1, int(os.environ.get("PROBE_LAT_SWEEPS", "3")))

    from probe_spark.engine import SearchEngine
    from probe_spark.fixtures import pages_df
    from probe_spark.indexer import build_index
    from probe_spark.session import get_spark

    fixed = os.environ.get("PROBE_SCALEID_DIR")
    if fixed:
        tmp = fixed
        Path(tmp).mkdir(parents=True, exist_ok=True)
    else:
        tmp = tempfile.mkdtemp(prefix="probe_lat_", dir="/dev/shm")
    out: dict = {"n_docs": n_docs, "n_buckets": n_buckets, "sweeps": sweeps}
    spark = get_spark("query_latency_scale")
    spark.sparkContext.setLogLevel("ERROR")
    try:
        ix = f"{tmp}/ix"
        t0 = time.time()
        resume = (Path(ix) / "manifest.json").exists()
        metrics = build_index(
            spark, pages_df(spark, n_docs), ix,
            n_buckets=n_buckets, resume=resume,
        )
        out["build_sec"] = round(time.time() - t0, 1)
        out["n_postings"] = metrics["n_postings"]

        eng = SearchEngine(spark, ix)
        qs = [QUERIES[qid] for qid in sorted(QUERIES)]

        cold: list[float] = []
        for q in qs:
            t0 = time.time()
            eng.search_local(q, k=10)
            cold.append(time.time() - t0)
        out["flat_cold"] = _dist(cold)
        best = [float("inf")] * len(qs)
        for _ in range(sweeps):
            for i, q in enumerate(qs):
                t0 = time.time()
                eng.search_local(q, k=10)
                best[i] = min(best[i], time.time() - t0)
        out["flat_warm"] = _dist(best)
        out["flat_warm_p99_over_p50"] = round(
            out["flat_warm"]["p99_sec"] / max(out["flat_warm"]["p50_sec"], 1e-9),
            2,
        )

        # pinned lane: hot tables executor-cached
        eng.pin_hot()
        for q in qs:  # cache fill
            eng.search_local(q, k=10)
        best = [float("inf")] * len(qs)
        for _ in range(max(1, sweeps - 1)):
            for i, q in enumerate(qs):
                t0 = time.time()
                eng.search_local(q, k=10)
                best[i] = min(best[i], time.time() - t0)
        out["flat_pinned_warm"] = _dist(best)
        print(json.dumps(out))
    finally:
        spark.stop()
        # scratch is left in place when PROBE_SCALEID_DIR pins it (the
        # caller owns cleanup); fresh tempdirs are removed
        if not fixed:
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
