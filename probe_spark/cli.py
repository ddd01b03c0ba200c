"""spark-submit entry point.

Usage (also works with plain ``python -m probe_spark.cli``):

  # package the library for executors, then:
  spark-submit --py-files probe_spark.zip -m probe_spark.cli build \\
      --pages /data/pages_parquet --index /data/ix --buckets 64 [--resume]
  spark-submit ... search --index /data/ix --query '+error handler' -k 10 \\
      [--format json|markdown|text|xml|outline|color] [--max-tokens N]
      [--max-bytes N]
  spark-submit ... grep --index /data/ix --pattern 'regex'

Build the zip with:  python -m zipfile -c probe_spark.zip probe_spark/
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="probe_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build", help="build the inverted index")
    b.add_argument(
        "--pages",
        required=True,
        help="pages source: parquet dir of (url,text,lang), or with "
        "--format warc/wet a glob of .warc.gz/.wet.gz files",
    )
    b.add_argument("--index", required=True)
    b.add_argument("--buckets", type=int, default=8)
    b.add_argument("--resume", action="store_true")
    b.add_argument("--validate-extraction", action="store_true")
    b.add_argument(
        "--format",
        choices=["parquet", "warc", "wet"],
        default="parquet",
        help="input container (warc/wet = Common-Crawl layouts, warc.py)",
    )

    s = sub.add_parser("search", help="query the index")
    s.add_argument("--index", required=True)
    s.add_argument("--query", required=True, nargs="+",
                   help="query string(s); multiple are joined with ' AND ' "
                   "(search_runner.rs:371-375)")
    s.add_argument("-k", type=int, default=10)
    s.add_argument("--exact", action="store_true")
    s.add_argument("--boost-coverage", action="store_true")
    s.add_argument(
        "-l", "--files-only", action="store_true",
        help="skip ranking and output unique matching urls "
        "(reference cli.rs:23-26, search_runner.rs:699-735)",
    )
    s.add_argument(
        "-n", "--exclude-filenames", action="store_true",
        help="drop url-token-only credit from matching (reference "
        "cli.rs:31-33, issue #527 analog); tf for scoring keeps the full "
        "index value exactly as the reference's ranking does",
    )
    s.add_argument(
        "-s", "--frequency", dest="frequency", action="store_true",
        default=True,
        help="frequency-based search with stemming+stopwords (default on; "
        "the reference accepts the flag and IGNORES it in its live path -- "
        "search_runner.rs:237 destructures it as `frequency_search: _` -- "
        "so this flag is accepted for CLI parity and has no effect; use "
        "--exact for non-tokenized search)",
    )
    s.add_argument(
        "--dry-run", action="store_true",
        help="compact output: file names/ids only, no content "
        "(reference cli.rs:76-78, results_formatter.rs:17-29)",
    )
    s.add_argument(
        "--format",
        default="text",
        choices=[
            "text", "json", "markdown", "xml", "outline", "outline-xml",
            "color", "terminal",
        ],
        help="8-format parity with reference cli.rs:81 (plain==text here; "
        "terminal = decorated human output, outline-xml = grouped XML)",
    )
    s.add_argument("--max-results", type=int)
    s.add_argument("--max-bytes", type=int)
    s.add_argument("--max-tokens", type=int)
    s.add_argument(
        "--reranker",
        default="bm25",
        choices=[
            "bm25", "hybrid", "hybrid2", "tfidf",
            "ms-marco-tinybert", "ms-marco-minilm-l6", "ms-marco-minilm-l12",
        ],
        help="ranking algorithm (reference cli.rs:35-37).  The reference's "
        "non-BERT selectors all execute the same BM25 rank_documents path "
        "(result_ranking.rs:138-145 routes only ms-marco-* differently), "
        "so bm25/hybrid/hybrid2/tfidf are aliases here too; ms-marco-* "
        "requires the BERT feature (torch), absent in this build",
    )
    s.add_argument(
        "--matches",
        action="store_true",
        help="add matched_keywords + per-keyword score_breakdown columns "
        "(reference SearchResult, models.rs:34-88)",
    )
    s.add_argument(
        "--timeout",
        type=float,
        default=30.0,
        help="seconds before the search's Spark jobs are cancelled "
        "(reference cli.rs:88-90 default 30; 0 disables)",
    )
    s.add_argument(
        "--session",
        help="session id: drop docs already returned for this (session, "
        "query) and record the new ones (cache.rs S8 analog; cache table "
        "lives at <index>/session_cache)",
    )
    s.add_argument(
        "--strict-elastic-syntax",
        action="store_true",
        help="enforce strict ElasticSearch query syntax (reference "
        "cli.rs:154-156, query_validator.rs): reject vague multi-word "
        "queries without explicit AND/OR/NOT and unquoted snake_case/"
        "camelCase terms instead of applying the parse fallback chain",
    )
    s.add_argument(
        "--question",
        help="natural-language question for BERT reranking (reference "
        "cli.rs:92-94).  Requires the BERT reranker feature (torch), "
        "which is not available in this build: passing it is an error, "
        "mirroring a reference binary compiled without bert-reranker",
    )

    ba = sub.add_parser(
        "batch",
        help="serve a whole query set (SearchEngine.search_batch: "
        "left-deep keyword chains share one queries-as-data join, every "
        "other query runs the single-query lane); JSON-lines output "
        "keyed by query_id",
    )
    ba.add_argument("--index", required=True)
    ba.add_argument(
        "--queries-file", required=True,
        help="JSON object {query_id: query} or plain text, one query per "
        "line (ids become q001, q002, ...)",
    )
    ba.add_argument("-k", type=int, default=10)
    ba.add_argument("--exact", action="store_true")
    ba.add_argument("--boost-coverage", action="store_true")
    ba.add_argument("-n", "--exclude-filenames", action="store_true")

    bm = sub.add_parser(
        "benchmark", help="time the headline query shapes on an index"
    )
    bm.add_argument("--index", required=True)
    bm.add_argument("--runs", type=int, default=3)

    ex = sub.add_parser(
        "extract",
        help="fetch documents from the doc store by doc_id or url "
        "(the page-granularity analog of probe extract, src/extract/)",
    )
    ex.add_argument("--index", required=True)
    ex.add_argument("--doc", type=int, action="append", default=[])
    ex.add_argument("--url", action="append", default=[])
    ex.add_argument("--format", default="text", choices=["text", "json"])

    va = sub.add_parser(
        "validate", help="syntax-check a query without running it (Q10)"
    )
    va.add_argument("--query", required=True)

    sg = sub.add_parser(
        "suggest", help="did-you-mean from the term dictionary"
    )
    sg.add_argument("--index", required=True)
    sg.add_argument("--term", required=True)
    sg.add_argument("--max-dist", type=int, default=2)
    sg.add_argument("--limit", type=int, default=5)
    sg.add_argument(
        "--lane",
        choices=["auto", "brute", "symspell"],
        default="auto",
        help="auto = SymSpell delete buckets when present+fresh, else "
        "the brute dictionary scan",
    )

    si = sub.add_parser(
        "build-suggest",
        help="materialize the SymSpell delete-neighborhood table so "
        "suggest serves lookups instead of dictionary scans",
    )
    si.add_argument("--index", required=True)
    si.add_argument("--max-dist", type=int, default=2)

    ml = sub.add_parser(
        "mlt", help="more-like-this: rank pages similar to a seed url"
    )
    ml.add_argument("--index", required=True)
    ml.add_argument("--url", required=True)
    ml.add_argument("-k", type=int, default=10)
    ml.add_argument("--max-terms", type=int, default=8)
    ml.add_argument("--max-df-frac", type=float, default=0.5)

    px = sub.add_parser(
        "prefix",
        help="prefix/trailing-wildcard query (capped dictionary rewrite)",
    )
    px.add_argument("--index", required=True)
    px.add_argument("--prefix", required=True)
    px.add_argument("--max-terms", type=int, default=4)
    px.add_argument("-k", type=int, default=10)

    g = sub.add_parser("grep", help="regex grep over the doc store (S5)")
    g.add_argument("--index", required=True)
    g.add_argument("--pattern", required=True)
    g.add_argument("--count", action="store_true")
    g.add_argument("--invert", action="store_true")
    g.add_argument("--limit", type=int, default=20)
    g.add_argument(
        "--context", "-C", type=int, default=0, metavar="N",
        help="print matching text lines with N lines of context both "
        "sides (grep.rs -C analog within each doc)",
    )
    g.add_argument(
        "--after-context", "-A", type=int, default=None, metavar="N",
        help="lines AFTER each match (grep.rs:19-21; overrides --context "
        "on that side)",
    )
    g.add_argument(
        "--before-context", "-B", type=int, default=None, metavar="N",
        help="lines BEFORE each match (grep.rs:22-24; overrides --context "
        "on that side)",
    )
    g.add_argument(
        "--color", action="store_true",
        help="highlight regex matches in printed lines (ANSI, grep.rs "
        "color output analog)",
    )

    cfg = sub.add_parser(
        "config",
        help="print the effective engine configuration (the `probe "
        "config` subcommand analog, main.rs routing / cli.rs:104-460)",
    )
    cfg.add_argument("--index", help="optionally include index stats/manifest")

    args = ap.parse_args(argv)

    if args.cmd == "validate":  # pure driver-side, no Spark session
        from probe_spark.elastic import validate_query

        ok, err = validate_query(args.query)
        print(json.dumps({"ok": ok, "error": err}))
        return 0 if ok else 1

    if args.cmd == "config":  # driver-side, no Spark session
        from probe_spark import dedup, indexer, watchdog
        from probe_spark.config import DEFAULT_BM25
        from probe_spark.engine import SearchEngine

        out: dict = {
            "bm25": {"k1": DEFAULT_BM25.k1, "b": DEFAULT_BM25.b},
            "query": {
                "max_terms": 256,
                "default_timeout_s": watchdog.DEFAULT_TIMEOUT_S,
                "default_reranker": "bm25",
                # queries without a rescue term whose pruned reads fit
                # this many bytes are served on the driver, no Spark job
                "driver_read_bytes": indexer.DRIVER_READ_BYTES,
            },
            "rescue": {
                "tri_intersect": SearchEngine._TRI_INTERSECT,
                # lane selectivity rule (trigram.tri_cutoff); a built
                # index records its cutoff as manifest.tri_cutoff
                "tri_direct_frac": SearchEngine._TRI_DIRECT_FRAC,
                "tri_direct_floor": SearchEngine._TRI_DIRECT_FLOOR,
                "isin_pushdown_cap": SearchEngine._ISIN_CAP,
                # needles the rescue memo holds before it is cleared
                "memo_needles": SearchEngine._VERIFIED_NEEDLE_CAP,
            },
            "dedup": {"band_bucket_cap": dedup.BAND_BUCKET_CAP},
        }
        if args.index:
            from pathlib import Path

            p = Path(args.index)
            man = p / "manifest.json"
            if man.exists():
                out["manifest"] = json.loads(man.read_text())
            try:
                from probe_spark.engine import _read_stats

                n_docs, avgdl = _read_stats(p / "stats")
                out["stats"] = {"n_docs": n_docs, "avgdl": avgdl}
            except Exception:
                pass
            out["tables"] = sorted(
                d.name for d in p.iterdir() if d.is_dir()
            )
            # suggest-lane state: built depth + whether the manifest still
            # matches the live index (driver-side fingerprint comparison,
            # same check the engine's auto lane runs)
            from probe_spark import symspell
            from probe_spark.engine import index_fingerprint

            mf = p / symspell.MANIFEST
            if mf.exists():
                try:
                    m = json.loads(mf.read_text())
                    out["suggest_buckets"] = {
                        "max_dist": m.get("max_dist"),
                        "rows": m.get("rows"),
                        "fresh": m.get("fingerprint")
                        == symspell._jsonable(
                            index_fingerprint(str(p))
                        ),
                    }
                except (OSError, ValueError):
                    out["suggest_buckets"] = {"fresh": False}
            else:
                out["suggest_buckets"] = None
        print(json.dumps(out, indent=1))
        return 0

    from probe_spark.session import get_spark

    spark = get_spark("probe_spark_cli")

    if args.cmd == "build":
        from probe_spark.indexer import build_index

        if args.format in ("warc", "wet"):
            import glob as _glob

            from probe_spark import warc as _warc

            paths = sorted(_glob.glob(args.pages))
            if not paths:
                print(json.dumps({"error": f"no files match {args.pages}"}))
                return 1
            if args.format == "wet" and args.validate_extraction:
                # WET rows carry no html; the S6 extraction check compares
                # extract_text(html) to text and would have nothing to read
                print(
                    json.dumps(
                        {
                            "error": "--validate-extraction needs html; "
                            "WET input is text-only"
                        }
                    )
                )
                return 1
            reader = (
                _warc.read_warc if args.format == "warc" else _warc.read_wet
            )
            # keep html when the build will validate extraction against it
            keep = (
                ("url", "html", "text", "lang")
                if args.validate_extraction
                else ("url", "text", "lang")
            )
            pages = reader(spark, paths).select(*keep)
        else:
            pages = spark.read.parquet(args.pages)
        metrics = build_index(
            spark,
            pages,
            args.index,
            n_buckets=args.buckets,
            resume=args.resume,
            validate_extraction=args.validate_extraction,
        )
        print(json.dumps(metrics))
        return 0

    if args.cmd == "search":
        from probe_spark.limits import apply_limits, format_results

        query = " AND ".join(args.query)
        if args.question is not None:
            # documented rejection: the reference only honors --question
            # with the bert-reranker feature; torch is absent here
            print(
                "error: --question requires the BERT reranker feature "
                "(torch is not available in this build); rerank "
                "externally or drop the flag",
                file=sys.stderr,
            )
            return 2
        if args.strict_elastic_syntax:
            from probe_spark.elastic import (
                ParseError,
                validate_strict_elastic_syntax,
            )

            try:
                validate_strict_elastic_syntax(query)
            except ParseError as e:
                print(f"error: {e}", file=sys.stderr)
                return 2
        if args.reranker.startswith("ms-marco"):
            # the reference errors the same way when built without the
            # bert-reranker feature
            print(
                f"error: reranker '{args.reranker}' requires the BERT "
                "feature (torch is not available in this build)",
                file=sys.stderr,
            )
            return 2
        from probe_spark.watchdog import QueryTimeoutError, query_deadline

        deadline_s = args.timeout if args.timeout and args.timeout > 0 else None
        if args.files_only:
            from probe_spark.engine import SearchEngine

            eng = SearchEngine(spark, args.index)
            try:
                with query_deadline(spark, deadline_s):
                    rows = [
                        r.asDict()
                        for r in eng.files_only(
                            query,
                            exact=args.exact,
                            exclude_filenames=args.exclude_filenames,
                        ).collect()
                    ]
            except QueryTimeoutError as e:
                print(f"error: {e}", file=sys.stderr)
                return 3
            if args.max_results is not None:
                rows = rows[: args.max_results]
            if args.format == "json":
                print(json.dumps({"files": [r["url"] for r in rows]}))
            else:
                seen = set()
                for r in rows:  # unique urls, doc_id order
                    if r["url"] not in seen:
                        seen.add(r["url"])
                        print(r["url"])
            return 0
        from probe_spark.engine import SearchEngine

        eng = SearchEngine(spark, args.index)
        try:
            with query_deadline(spark, deadline_s):
                rows = [
                    r.asDict()
                    for r in eng.search(
                        query,
                        args.k,
                        args.exact,
                        args.boost_coverage,
                        with_matches=args.matches,
                        exclude_filenames=args.exclude_filenames,
                    ).collect()
                ]
        except QueryTimeoutError as e:
            print(f"error: {e}", file=sys.stderr)
            return 3
        if args.session:
            from probe_spark.session_cache import SessionCache

            cache = SessionCache(
                spark, f"{args.index}/session_cache", index_dir=args.index
            )
            pairs = [(r["doc_id"], r["score"]) for r in rows]
            fresh = {d for d, _ in cache.filter_results(args.session, query, pairs)}
            rows = [r for r in rows if r["doc_id"] in fresh]
            cache.add_results(
                args.session, query, [(r["doc_id"], r["score"]) for r in rows]
            )
        limited = apply_limits(
            rows,
            max_results=args.max_results,
            max_bytes=args.max_bytes,
            max_tokens=args.max_tokens,
        )
        if args.dry_run:
            # compact names-only output (results_formatter.rs:17-29); page
            # granularity has no line ranges, so each hit is one line
            print(f"Found {len(limited.results)} results:")
            for r in limited.results:
                print(f"{r['rank']}. {r['url']} (score {r['score']:.4f})")
            if limited.limits_applied:
                print(
                    f"# skipped {limited.skipped} results (limits)",
                    file=sys.stderr,
                )
            return 0
        hl = None
        if args.format == "color":
            from probe_spark import elastic

            try:
                hl = list(elastic.create_query_plan(query).term_indices)
            except Exception:
                hl = None
        print(format_results(limited.results, args.format, terms=hl))
        if limited.limits_applied:
            print(f"# skipped {limited.skipped} results (limits)", file=sys.stderr)
        return 0

    if args.cmd == "batch":
        from probe_spark.engine import SearchEngine

        raw = open(args.queries_file).read()
        try:
            parsed = json.loads(raw)
            queries = {str(k): str(v) for k, v in parsed.items()}
        except (json.JSONDecodeError, AttributeError):
            lines = [ln.strip() for ln in raw.splitlines() if ln.strip()]
            queries = {f"q{i + 1:03d}": q for i, q in enumerate(lines)}
        if not queries:
            print("error: no queries in file", file=sys.stderr)
            return 2
        eng = SearchEngine(spark, args.index)
        # rows are identical to per-query search() calls
        # (test_search_batch_identity)
        rows = eng.search_batch(
            queries,
            k=args.k,
            exact=args.exact,
            boost_coverage=args.boost_coverage,
            exclude_filenames=args.exclude_filenames,
        ).collect()
        by_q: dict[str, list] = {q: [] for q in queries}
        for r in rows:
            by_q[r["query_id"]].append(
                {
                    "rank": r["rank"],
                    "doc_id": r["doc_id"],
                    "url": r["url"],
                    "score": r["score"],
                }
            )
        for qid in sorted(by_q):
            print(
                json.dumps(
                    {"query_id": qid, "query": queries[qid], "results": by_q[qid]}
                )
            )
        return 0

    if args.cmd == "suggest":
        from probe_spark.engine import SearchEngine

        eng = SearchEngine(spark, args.index)
        lane = {"auto": None, "brute": False, "symspell": True}[args.lane]
        rows = eng.suggest(
            args.term, args.max_dist, args.limit, use_buckets=lane
        ).collect()
        for r in rows:
            print(
                json.dumps(
                    {"term": r["term"], "df": r["df"], "dist": r["dist"]}
                )
            )
        return 0

    if args.cmd == "build-suggest":
        from probe_spark.symspell import build_suggest_buckets

        n = build_suggest_buckets(spark, args.index, args.max_dist)
        print(json.dumps({"bucket_rows": n, "max_dist": args.max_dist}))
        return 0

    if args.cmd == "mlt":
        from probe_spark.engine import SearchEngine

        eng = SearchEngine(spark, args.index)
        try:
            rows = eng.more_like_this(
                args.url,
                k=args.k,
                max_terms=args.max_terms,
                max_df_frac=args.max_df_frac,
            ).collect()
        except KeyError as e:
            print(f"error: {e.args[0]}", file=sys.stderr)
            return 2
        for r in rows:
            print(
                json.dumps(
                    {
                        "rank": r["rank"],
                        "url": r["url"],
                        "score": round(r["score"], 6),
                    }
                )
            )
        return 0

    if args.cmd == "prefix":
        from probe_spark.engine import SearchEngine

        eng = SearchEngine(spark, args.index)
        try:
            rows = eng.prefix_search(
                args.prefix, max_terms=args.max_terms, k=args.k
            ).collect()
        except ValueError as e:
            print(f"error: {e}", file=sys.stderr)
            return 2
        for r in rows:
            print(
                json.dumps(
                    {
                        "rank": r["rank"],
                        "url": r["url"],
                        "score": round(r["score"], 6),
                    }
                )
            )
        return 0

    if args.cmd == "extract":
        from pyspark.sql import functions as F

        from probe_spark.indexer import doc_text_df

        docs = doc_text_df(
            spark, args.index, spark.read.parquet(f"{args.index}/pages_indexed")
        )
        cond = None
        if args.doc:
            cond = F.col("doc_id").isin(args.doc)
        if args.url:
            u = F.col("url").isin(args.url)
            cond = u if cond is None else (cond | u)
        if cond is None:
            print("# nothing requested (--doc/--url)", file=sys.stderr)
            return 2
        rows = (
            docs.filter(cond)
            .select("doc_id", "url", "lang", "text")
            .orderBy("doc_id")
            .collect()
        )
        if args.format == "json":
            print(json.dumps({"documents": [r.asDict() for r in rows]}))
        else:
            for r in rows:
                print(f"== {r['doc_id']} {r['url']} [{r['lang']}]")
                print(r["text"])
        return 0

    if args.cmd == "benchmark":
        import statistics
        import time

        from probe_spark.engine import SearchEngine

        shapes = {
            "single_term": "spark",
            "implicit_or": "merge sort window",
            "required": "+spark merge",
            "boolean": "(merge OR sort) AND spark",
            "exact_phrase": '"join scan"',
        }
        eng = SearchEngine(spark, args.index)
        eng.search_local("warmup", 10)
        timings = {}
        for name, q in shapes.items():
            ts = []
            for _ in range(args.runs):
                t0 = time.time()
                eng.search_local(q, 10)
                ts.append(time.time() - t0)
            timings[name] = round(statistics.median(ts), 3)
        print(json.dumps({"runs": args.runs, "median_sec": timings}))
        return 0

    if args.cmd == "grep":
        from pyspark.sql import functions as F

        from probe_spark.indexer import doc_text_df

        docs = doc_text_df(
            spark, args.index, spark.read.parquet(f"{args.index}/pages_indexed")
        )
        m = docs.filter(F.col("text").rlike(args.pattern))
        if args.invert:
            m = docs.join(m.select("doc_id"), "doc_id", "leftanti")
        # asymmetric context (grep.rs:13-29): -A/-B override -C per side
        before = args.before_context if args.before_context is not None else args.context
        after = args.after_context if args.after_context is not None else args.context
        if args.count:
            print(m.count())
        elif (before > 0 or after > 0 or args.color) and not args.invert:
            import re as _re

            pat = _re.compile(args.pattern)

            def _hl(line: str) -> str:
                if not args.color:
                    return line
                return pat.sub(
                    lambda mo: f"\x1b[1;31m{mo.group(0)}\x1b[0m", line
                )

            rows = (
                m.select("doc_id", "url", "text")
                .orderBy("doc_id")
                .limit(args.limit)
                .collect()
            )
            for r in rows:
                # the JVM rlike above is only a prefilter; the Python regex
                # is the single source of truth for what gets printed, so
                # dialect differences can't produce a header with no lines
                text = r["text"] or ""
                lines = text.splitlines()
                hit_ix = [i for i, ln in enumerate(lines) if pat.search(ln)]
                print(f"== {r['doc_id']} {r['url']}")
                if not hit_ix:
                    if pat.search(text):
                        print("  (match spans lines; no single-line hit)")
                    else:
                        print("  (JVM-only match; Python regex found none)")
                    continue
                shown: set[int] = set()
                for i in hit_ix:
                    for j in range(max(0, i - before),
                                   min(len(lines), i + after + 1)):
                        shown.add(j)
                for j in sorted(shown):
                    mark = ":" if j in hit_ix else "-"
                    out_line = _hl(lines[j]) if j in hit_ix else lines[j]
                    print(f"{j + 1}{mark} {out_line}")
        else:
            for r in m.select("doc_id", "url").orderBy("doc_id").limit(args.limit).collect():
                print(r["doc_id"], r["url"])
        return 0

    return 1


if __name__ == "__main__":
    raise SystemExit(main())
