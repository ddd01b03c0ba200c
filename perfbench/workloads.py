"""Set-up, closed loop and output check of the four workloads.

One client thread runs a closed loop: the next operation starts when the
previous one has returned.  Untraced runs time each operation as a whole.
Traced runs split each operation into the layers it crosses, by timing
calls into the program's public functions from here (see README.md).
"""

from __future__ import annotations

import json
import shutil
import time
from collections import Counter
from dataclasses import dataclass, field
from pathlib import Path

import check
import gen
import measure as m

K = 10
INDEX_TABLES = ("pages_indexed", "postings", "tri_postings", "doc_lens", "terms")
TOKENIZE_SAMPLE = 1000  # docs timed for textkit.tokenize_docs_per_s


@dataclass
class Op:
    kind: str  # "query", "ingest" or "batch"
    state: str  # oracle state (docs present) the output is checked against
    query: str | None = None
    log: dict | None = None
    docs: int = 0  # ingest: docs in the slice
    ms: float = 0.0
    got: object = None
    error: str | None = None
    layers: dict = field(default_factory=dict)


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def _text_bytes(pages) -> int:
    return sum(len(p.text.encode()) for p in pages)


def _rescue_query(q: str) -> bool:
    """A query with a quoted or excluded term (a containment-rescue needle)."""
    return '"' in q or q.startswith("-") or " -" in q


class Workload:
    def __init__(self, name: str, seed: int, seconds: float, tracer: m.Tracer, work: Path):
        if name not in gen.WORKLOADS:
            raise ValueError(f"unknown workload {name!r}; choose from {gen.WORKLOADS}")
        self.name, self.seconds, self.tr = name, seconds, tracer
        self.spark = None
        corpus = gen.load_pages()
        self.q = gen.Queries(corpus, seed)
        if name == "ingest_serve":
            self.pages = corpus
            self.base, self.slices = gen.ingest_split(len(corpus), seed)
        else:
            # pages past the corpus feed the traced run's ingest probe
            self.pages = corpus + gen.probe_pages(corpus, seed)
            self.base = list(range(len(corpus)))
            self.slices = [list(range(len(corpus), len(self.pages)))]
        # oracle states: "s<i>" holds the base docs plus the first i slices
        self.states: dict[str, list[int]] = {"s0": list(self.base)}
        self.ix = work / "index"
        self.ops: list[Op] = []
        self.run: dict = {}  # whole-run measurements (setup, build, loop)
        self.freshness_ms: list[float] = []

    # -- set-up -------------------------------------------------------------

    def start(self) -> None:
        """``setup_s``: Spark session start, index build and warm-up."""
        from probe_spark.engine import SearchEngine
        from probe_spark.indexer import build_index
        from probe_spark.session import get_spark

        t0 = time.perf_counter()
        with self.tr.span("setup"):
            with self.tr.span("session"):
                self.spark = get_spark("perfbench")
            self.jobs = m.Jobs(self.spark.sparkContext)
            pages = self._pages_df(self.base)
            j0 = self.jobs.next_id()
            with self.tr.span("indexer.build") as sp:
                b0 = time.perf_counter()
                build_index(self.spark, pages, str(self.ix))
                build_s = time.perf_counter() - b0
            j1 = self.jobs.next_id()
            with self.tr.span("engine.open"):
                self.eng = SearchEngine(self.spark, str(self.ix))
            with self.tr.span("warmup"):
                for x in self.q.warmup(self.name):
                    if isinstance(x, dict):
                        self.eng.search_batch_fused(x, K).collect()
                    else:
                        self.eng.search_local(x, K)
        self.run["setup_s"] = time.perf_counter() - t0
        self.run["build_s"] = build_s
        text = _text_bytes(map(self.pages.__getitem__, self.base))
        self.run["index_bytes_per_text_byte"] = _dir_bytes(self.ix) / text
        if self.tr.enabled:
            self.run["indexer.build_ms"] = m.ms(sp)
            st = self.jobs.stats(j0, j1)
            self.run["indexer.build_jobs"] = st["jobs"]
            self.run["indexer.build_tasks"] = st["tasks"]
            self.run["indexer.phase_b_ms"] = self._phase_b_ms()
            for t in INDEX_TABLES:
                self.run[f"indexer.bytes_per_text_byte.{t}"] = _dir_bytes(self.ix / t) / text

    def _pages_df(self, positions: list[int]):
        """The pages at ``positions`` as a (url, text, lang) DataFrame, shipped
        to the JVM as one Arrow table."""
        import pyarrow as pa

        rows = [self.pages[i] for i in positions]
        return self.spark.createDataFrame(
            pa.table({c: [getattr(p, c) for p in rows] for c in ("url", "text", "lang")})
        )

    def _phase_b_ms(self) -> float:
        return float(
            sum(
                json.loads(f.read_text()).get("wall_ms", 0)
                for f in (self.ix / "lineage").glob("bucket_*.json")
            )
        )

    # -- the measured loop ----------------------------------------------------

    def _steps(self):
        """Each ``next()`` runs one step of the closed loop."""
        if self.name == "ingest_serve":
            for i, (positions, queries) in enumerate(zip(self.slices, self.q.ingest_queries())):
                self._cycle(i, positions, queries)
                yield
        elif self.name == "batch_log":
            for log in self.q.batch_logs():
                self._batch(log)
                yield
        else:
            # whole shape cycles, so every run answers the same shape mix
            for i, query in enumerate(getattr(self.q, self.name)()):
                self._query(query)
                if (i + 1) % gen.SHAPE_CYCLE == 0:
                    yield

    def loop(self) -> None:
        """Steps until ``seconds`` have passed, and at least ``MIN_CYCLES``
        shape cycles on the serve workloads, so every run answers the same
        shape mix however fast the host is."""
        least = gen.MIN_CYCLES if self.name.startswith("serve_") else 1
        t0 = time.perf_counter()
        for n, _ in enumerate(self._steps(), 1):
            if n >= least and time.perf_counter() - t0 >= self.seconds:
                break
        self.run["loop_s"] = time.perf_counter() - t0
        self.n_loop = len(self.ops)  # later ops are the traced run's layer probes

    def _state(self) -> str:
        return f"s{len(self.states) - 1}"

    def _query(self, query: str) -> Op:
        op = Op("query", self._state(), query=query)
        n = len(self.ops)
        self.ops.append(op)
        if not self.tr.enabled:
            t0 = time.perf_counter()
            try:
                op.got = self.eng.search_local(query, K)
            except Exception as e:  # counted as a failed operation
                op.error = repr(e)
            op.ms = (time.perf_counter() - t0) * 1000.0
            return op
        tr, jobs = self.tr, self.jobs
        try:
            with tr.span("op", op=n, kind="query", query=query):
                j0 = jobs.next_id()
                with tr.span("search") as s_all:
                    with tr.span("engine.frame") as s_frame:
                        df = self.eng.search(query, K)
                    j1 = jobs.next_id()
                    with tr.span("catalyst.plan") as s_plan:
                        p = m.plan(df)
                    with tr.span("exec") as s_exec:
                        df.collect()
                j2 = jobs.next_id()
                with tr.span("serve.search_local") as s_local:
                    op.got = self.eng.search_local(query, K)
            op.ms = m.ms(s_local)
            frame, ex = jobs.stats(j0, j1), jobs.stats(j1, j2)
            op.layers = {
                "frame_ms": m.ms(s_frame),
                "frame_jobs": frame["jobs"],
                "exec_ms": m.ms(s_exec),
                "exec_jobs": ex["jobs"],
                "exec_stages": ex["stages"],
                "exec_tasks": ex["tasks"],
                "search_ms": m.ms(s_all),
                "coverage": (m.ms(s_frame) + m.ms(s_plan) + m.ms(s_exec)) / m.ms(s_all),
                **p,
            }
        except Exception as e:  # counted as a failed operation
            op.error = repr(e)
        return op

    def _cycle(self, i: int, positions: list[int], queries: list[str]) -> None:
        """One ingest_serve cycle: ingest the next slice, then the cycle's
        queries on the same long-lived engine."""
        from probe_spark.streaming.incremental import ingest_batch

        op = Op("ingest", self._state(), docs=len(positions))
        n = len(self.ops)
        self.ops.append(op)
        df = self._pages_df(positions)
        before = _dir_bytes(self.ix) if self.tr.enabled else 0
        j0 = self.jobs.next_id() if self.tr.enabled else 0
        t0 = time.perf_counter()
        try:
            with self.tr.span("op", op=n, kind="ingest") as s_ing:
                op.got = ingest_batch(self.spark, df, str(self.ix), i)
        except Exception as e:  # counted as a failed operation
            op.error = repr(e)
        op.ms = (time.perf_counter() - t0) * 1000.0
        self.states[f"s{len(self.states)}"] = self.states[op.state] + positions
        if self.tr.enabled and op.error is None:
            j1 = self.jobs.next_id()
            with self.tr.span("engine.refresh", op=n) as s_ref:
                self.eng.check_refresh()
            op.layers = {
                "ingest_ms": m.ms(s_ing),
                "ingest_jobs": self.jobs.stats(j0, j1)["jobs"],
                "bytes_written": _dir_bytes(self.ix) - before,
                "text_bytes": _text_bytes(map(self.pages.__getitem__, positions)),
                "refresh_ms": m.ms(s_ref),
            }
        for j, q in enumerate(queries):
            self._query(q)
            if j == 0:
                self.freshness_ms.append((time.perf_counter() - t0) * 1000.0)

    def _batch(self, log: dict[str, str]) -> None:
        op = Op("batch", self._state(), log=log)
        n = len(self.ops)
        self.ops.append(op)
        tr, jobs = self.tr, self.jobs
        try:
            if not tr.enabled:
                t0 = time.perf_counter()
                rows = self.eng.search_batch_fused(log, K).collect()
                op.ms = (time.perf_counter() - t0) * 1000.0
            else:
                j0 = jobs.next_id()
                with tr.span("op", op=n, kind="batch") as s_op:
                    with tr.span("engine.frame") as s_frame:
                        df = self.eng.search_batch_fused(log, K)
                    j1 = jobs.next_id()
                    with tr.span("catalyst.plan") as s_plan:
                        p = m.plan(df)
                    with tr.span("exec") as s_exec:
                        rows = df.collect()
                j2 = jobs.next_id()
                op.ms = m.ms(s_op)
                frame, ex = jobs.stats(j0, j1), jobs.stats(j1, j2)
                op.layers = {
                    "frame_ms": m.ms(s_frame),
                    "frame_jobs": frame["jobs"],
                    "exec_ms": m.ms(s_exec),
                    "exec_jobs": ex["jobs"],
                    "exec_stages": ex["stages"],
                    "exec_tasks": ex["tasks"],
                    "coverage": (m.ms(s_frame) + m.ms(s_plan) + m.ms(s_exec)) / m.ms(s_op),
                    **p,
                }
            got: dict[str, list] = {}
            for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
                got.setdefault(r["query_id"], []).append((r["url"], float(r["score"])))
            op.got = got
        except Exception as e:  # counted as a failed operation
            op.error = repr(e)

    # -- after the loop ---------------------------------------------------------

    def probe_layers(self) -> None:
        """After a traced loop: one operation through each of the batch and
        ingest layers the loop did not cross, so every layer is measured on
        every workload; and the single-process tokenizer rate."""
        from probe_spark import textkit

        if self.name != "batch_log":
            self._batch(next(self.q.batch_logs()))
        if self.name != "ingest_serve":
            self._cycle(0, self.slices[0], [])
        texts = [p.text for p in self.pages[:TOKENIZE_SAMPLE]]
        t0 = time.perf_counter()
        for t in texts:
            textkit.tokenize(t)
        self.run["textkit.tokenize_docs_per_s"] = len(texts) / (time.perf_counter() - t0)

    def doc_urls(self) -> dict[int, str]:
        import pyarrow.dataset as ds

        t = ds.dataset(str(self.ix / "pages_indexed"), format="parquet").to_table(
            columns=["doc_id", "url"]
        )
        return dict(zip(t.column("doc_id").to_pylist(), t.column("url").to_pylist()))

    def stop(self) -> None:
        """Stop the session and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        gw = SparkContext._gateway
        self.spark.stop()
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=120)
        shutil.rmtree(self.ix, ignore_errors=True)

    def verify(self, tokenized, urls: dict[int, str]) -> list[str]:
        """Check every operation against the oracle; one line per failure."""
        tasks = []
        for op in self.ops:
            if op.kind == "query":
                tasks.append((op.state, op.query, K))
            elif op.kind == "batch":
                tasks.extend((op.state, q, K) for q in op.log.values())
        want = check.expectations(tokenized, self.states, tasks)
        failures = []
        for i, op in enumerate(self.ops):
            why = op.error
            if why is None and op.kind == "query":
                got = [(urls.get(d, f"<doc {d}>"), s) for d, s in op.got]
                why = check.mismatch(got, want[(op.state, op.query, K)], K)
                why = why and f"{op.query!r}: {why}"
            elif why is None and op.kind == "ingest" and op.got != op.docs:
                why = f"ingested {op.got} docs of {op.docs}"
            elif why is None and op.kind == "batch":
                for qid, q in op.log.items():
                    why = check.mismatch(op.got.get(qid, []), want[(op.state, q, K)], K)
                    if why:
                        why = f"{qid} {q!r}: {why}"
                        break
            if why:
                failures.append(f"op {i} ({op.kind}): {why}")
        return failures

    # -- metrics ------------------------------------------------------------

    def query_ms(self) -> list[float]:
        """Per answered query, the time from issuing it to its result (for a
        batch, the batch call)."""
        out = []
        for op in self.ops[: self.n_loop]:
            if op.error is not None:
                continue
            if op.kind == "query":
                out.append(op.ms)
            elif op.kind == "batch":
                out.extend([op.ms] * len(op.log))
        return out

    def end_to_end(self, failed: int, peak_rss_mb: float) -> dict:
        q_ms = self.query_ms()
        out = {
            "setup_s": self.run["setup_s"],
            "build_docs_per_s": len(self.base) / self.run["build_s"],
            "index_bytes_per_text_byte": self.run["index_bytes_per_text_byte"],
            "qps": len(q_ms) / self.run["loop_s"],
            "query_p50_ms": m.pct(q_ms, 0.5),
            "query_p95_ms": m.pct(q_ms, 0.95),
            "fail_frac": failed / len(self.ops),
            "peak_rss_mb": peak_rss_mb,
        }
        loop = self.ops[: self.n_loop]
        batches = [op.ms for op in loop if op.kind == "batch" and op.error is None]
        if batches:
            out["batch_p50_ms"] = m.pct(batches, 0.5)
        ingests = [op for op in loop if op.kind == "ingest" and op.error is None]
        if ingests:
            out["ingest_docs_per_s"] = sum(op.docs for op in ingests) / (
                sum(op.ms for op in ingests) / 1000.0
            )
            out["freshness_p50_ms"] = m.pct(self.freshness_ms, 0.5)
        return out

    def op_records(self) -> list[dict]:
        return [
            {"kind": op.kind, "query": op.query, "ms": op.ms, "error": op.error, **op.layers}
            for op in self.ops
        ]

    def samples(self) -> dict:
        return {
            "queries": len(self.query_ms()),
            "ops": len(self.ops),
            "batches": sum(op.kind == "batch" for op in self.ops),
            "ingests": sum(op.kind == "ingest" for op in self.ops),
        }

    def per_layer(self) -> dict:
        """Per-layer metrics of a traced run, named after the modules."""
        out = {k: v for k, v in self.run.items() if "." in k}

        def dist(name, xs):
            out[f"{name}.p50"] = m.pct(xs, 0.5)
            out[f"{name}.p95"] = m.pct(xs, 0.95)

        def mean(name, xs):
            out[name] = sum(xs) / len(xs) if xs else float("nan")

        queries = [op for op in self.ops if op.kind == "query" and op.layers]
        batches = [op for op in self.ops if op.kind == "batch" and op.layers]
        lane_kind = "batch" if self.name == "batch_log" else "query"
        lane = batches if lane_kind == "batch" else queries
        kind = {sp["op"]: sp["kind"] for sp in self.tr.spans if sp["name"] == "op"}
        parse = [
            m.ms(sp) for sp in self.tr.spans
            if sp["name"] == "elastic.parse" and kind.get(sp["op"]) == lane_kind
        ]
        dist("elastic.parse_ms", parse)
        col = lambda key: [op.layers[key] for op in lane]  # noqa: E731
        dist("engine.frame_ms", col("frame_ms"))
        mean("engine.frame_jobs", col("frame_jobs"))
        for phase in ("plan", "analysis", "optimization", "planning"):
            dist(f"catalyst.{phase}_ms", col(f"{phase}_ms"))
        dist("exec.ms", col("exec_ms"))
        for c in ("jobs", "stages", "tasks"):
            mean(f"exec.{c}", col(f"exec_{c}"))
        mean("exec.python_nodes", col("python_nodes"))
        out["trace.coverage"] = m.pct(col("coverage"), 0.5)
        out["trace.query_p50_ms"] = m.pct(self.query_ms(), 0.5)

        rescue = [op for op in queries if _rescue_query(op.query)]
        if rescue:
            out["engine.rescue_miss_ratio"] = sum(
                op.layers["frame_jobs"] > 0 for op in rescue
            ) / len(rescue)
        if queries:
            dist("serve.search_local_ms", [op.ms for op in queries])
            dist("serve.search_ms", [op.layers["search_ms"] for op in queries])
        if batches:
            dist("batch.frame_ms", [op.layers["frame_ms"] for op in batches])
            mean("batch.frame_jobs", [op.layers["frame_jobs"] for op in batches])
            dist("batch.plan_ms", [op.layers["plan_ms"] for op in batches])
            dist("batch.exec_ms", [op.layers["exec_ms"] for op in batches])
            mean("batch.jobs", [op.layers["frame_jobs"] + op.layers["exec_jobs"] for op in batches])
            mean("batch.tasks", [op.layers["exec_tasks"] for op in batches])
        ingests = [op for op in self.ops if op.kind == "ingest" and op.layers]
        if ingests:
            dist("ingest.ms", [op.layers["ingest_ms"] for op in ingests])
            mean("ingest.jobs", [op.layers["ingest_jobs"] for op in ingests])
            out["ingest.bytes_written_per_text_byte"] = sum(
                op.layers["bytes_written"] for op in ingests
            ) / sum(op.layers["text_bytes"] for op in ingests)
            dist("engine.refresh_ms", [op.layers["refresh_ms"] for op in ingests])
        return out

    def lane_census(self) -> dict:
        """How many traced loop operations ran with each count of Python-UDF
        nodes in their executed plan."""
        lane = [op for op in self.ops[: self.n_loop] if op.kind in ("query", "batch") and op.layers]
        return {
            "python_nodes": dict(sorted(Counter(op.layers["python_nodes"] for op in lane).items())),
            "ops": len(lane),
        }


def wrap_parse(tracer: m.Tracer):
    """Time every ``elastic.create_query_plan`` call the engine makes (the
    engine calls it through the module, so replacing the module attribute
    reaches every entry point).  Returns the undo function."""
    from probe_spark import elastic

    orig = elastic.create_query_plan

    def timed(*a, **kw):
        with tracer.span("elastic.parse"):
            return orig(*a, **kw)

    elastic.create_query_plan = timed

    def undo():
        elastic.create_query_plan = orig

    return undo

