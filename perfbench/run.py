"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload batch_log --seed 1 --seconds 6 --trace 0

Run it from the root of a checkout: it builds nothing, imports the
``probe_spark`` package next to this directory, and keeps every file it
writes under ``.perfbench/`` there.  Lines before the last one are for
people (environment, each metric with its unit, output-check failures, and
for traced runs the per-layer numbers and lane census).  The last line is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the ``END_TO_END`` list untraced, the ``PER_LAYER`` list traced).  A
traced run also writes its spans to ``.perfbench/spans/``; every run writes
its full record to ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import tempfile
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SCRATCH = ROOT / ".perfbench"

# The metrics of the last line, as BENCHMARK.json lists them: the ones that
# apply to, and are measured on, every workload and whose spread between
# seeds stays within their bound on a shared 4-core host.  The rest
# (query_p50_ms, qps, build_docs_per_s, query_p95_ms, batch_p50_ms,
# ingest_docs_per_s, freshness_p50_ms, fail_frac, peak_rss_mb and the
# per-layer metrics of single lanes) are printed above it and kept in the
# result file; README.md gives the measured spreads.
END_TO_END = ("setup_s", "index_bytes_per_text_byte")
PER_LAYER = (
    "elastic.parse_ms.p50", "elastic.parse_ms.p95",
    "engine.frame_ms.p50", "engine.frame_ms.p95", "engine.frame_jobs",
    "engine.refresh_ms.p50",
    "catalyst.plan_ms.p50", "catalyst.plan_ms.p95", "catalyst.analysis_ms.p50",
    "catalyst.optimization_ms.p50", "catalyst.planning_ms.p50",
    "exec.ms.p50", "exec.ms.p95", "exec.jobs", "exec.stages", "exec.tasks",
    "exec.python_nodes", "trace.coverage", "trace.query_p50_ms",
    "batch.frame_ms.p50", "batch.frame_jobs", "batch.plan_ms.p50", "batch.exec_ms.p50",
    "batch.jobs", "batch.tasks",
    "ingest.ms.p50", "ingest.jobs", "ingest.bytes_written_per_text_byte",
    "indexer.build_ms", "indexer.build_jobs", "indexer.build_tasks", "indexer.phase_b_ms",
    "indexer.bytes_per_text_byte.pages_indexed", "indexer.bytes_per_text_byte.postings",
    "indexer.bytes_per_text_byte.tri_postings", "indexer.bytes_per_text_byte.doc_lens",
    "indexer.bytes_per_text_byte.terms", "textkit.tokenize_docs_per_s",
)
_UNITS = {
    "setup_s": "s", "qps": "1/s", "peak_rss_mb": "MB",
}


def unit(name: str) -> str:
    if name in _UNITS:
        return _UNITS[name]
    if "_ms" in name or ".ms" in name:
        return "ms"
    if name.endswith("docs_per_s"):
        return "docs/s"
    if name.endswith(("jobs", "stages", "tasks", "python_nodes")):
        return "count"
    return "ratio"


def isolate(run_dir: Path, cpus: int) -> None:
    """Point every scratch location of Python, the JVM and Spark into
    ``run_dir``, and size the session to the machine (local[cpus])."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    local = run_dir / "spark-local"
    os.environ.update(
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(local),
        PROBE_SPARK_LOCAL_DIR=str(local),
        SPARK_GRAFT_CPUS=str(cpus),
        PYSPARK_SUBMIT_ARGS=(
            f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" '
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={run_dir / 'warehouse'} pyspark-shell"
        ),
    )
    tempfile.tempdir = None


def _finite(v):
    return v if isinstance(v, (int, float)) and math.isfinite(v) else None


def _show(title: str, values: dict) -> None:
    print(title)
    for name in sorted(values):
        v = values[name]
        print(f"  {name} = {v:.6g} {unit(name)}" if _finite(v) is not None else f"  {name} = n/a")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "probe_spark" / "__init__.py").is_file():
        print(f"perfbench: no probe_spark package in {ROOT}; run from a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    import check
    import gen
    import measure as m
    import workloads

    traced = args.trace == 1
    env = m.environment(ROOT, args.seed, gen.SF)
    run_dir = SCRATCH / "run" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    isolate(run_dir, env["cpus"])
    workers = min(4, env["cpus"])
    tracer = m.Tracer(traced)
    w = workloads.Workload(args.workload, args.seed, args.seconds, tracer, run_dir)
    # oracle tokens before the session starts: outside setup_s and the loop
    tokenized = check.tokenize(w.pages, workers)

    steal = [m.steal_probe_ms()]
    undo = workloads.wrap_parse(tracer) if traced else (lambda: None)
    try:
        with m.PeakRss() as rss:
            try:
                w.start()
                w.loop()
                if traced:
                    w.probe_layers()
                urls = w.doc_urls()
            finally:
                w.stop()
    finally:
        undo()
    steal.append(m.steal_probe_ms())
    failures = w.verify(tokenized, urls)
    shutil.rmtree(run_dir, ignore_errors=True)

    e2e = w.end_to_end(len(failures), rss.mb)
    layers = w.per_layer() if traced else {}
    record = {
        "workload": args.workload,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": env,
        "steal_probe_ms": steal,
        "samples": w.samples(),
        "end_to_end": e2e,
        "per_layer": layers,
        "failures": failures,
        "ops": w.op_records(),
    }

    print(f"env: {json.dumps(env, sort_keys=True)}")
    print(f"steal probe: {steal[0]:.1f} ms before, {steal[1]:.1f} ms after")
    print(f"samples: {json.dumps(record['samples'])}")
    for f in failures:
        print(f"FAIL {f}")
    _show("end-to-end" + (" (traced run: timings include tracing)" if traced else ""), e2e)
    if traced:
        record["lane_census"] = w.lane_census()
        print(f"lane census: {json.dumps(record['lane_census'])}"
              f"  engine.rescue_miss_ratio = {layers.get('engine.rescue_miss_ratio', 'n/a')}")
        untraced = SCRATCH / "results" / f"{args.workload}-s{args.seed}-t0.json"
        if untraced.exists():
            base = json.loads(untraced.read_text())
            same = ("cpus", "source_sha256", "bench_sha256")
            if all(base["env"].get(k) == env[k] for k in same):
                u = base["end_to_end"]["query_p50_ms"]
                t = layers["trace.query_p50_ms"]
                record["tracing_overhead"] = {"untraced_query_p50_ms": u, "traced_query_p50_ms": t}
                print(f"tracing overhead: query_p50_ms {u:.1f} untraced, {t:.1f} traced "
                      f"({t / u:.3f}x), trace.coverage = {layers['trace.coverage']:.3f}")
        _show("per-layer", layers)
        tracer.write(SCRATCH / "spans" / f"{args.workload}-s{args.seed}.jsonl")
    out = SCRATCH / "results" / f"{args.workload}-s{args.seed}-t{args.trace}.json"
    out.parent.mkdir(parents=True, exist_ok=True)
    out.write_text(json.dumps(record, indent=1, sort_keys=True))

    values = layers if traced else e2e
    names = PER_LAYER if traced else END_TO_END
    print(json.dumps({
        "correct": not failures,
        "attempted": len(w.ops),
        "failed": len(failures),
        "metrics": {n: {"value": _finite(values.get(n)), "unit": unit(n)} for n in names},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
