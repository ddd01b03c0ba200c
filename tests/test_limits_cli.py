"""R9 result limiting, S7 formatters, R7 coverage boost, CLI smoke."""

import json

import pytest

from probe_spark.limits import apply_limits, estimate_tokens, format_results
from probe_spark.oracle import coverage_boost
from probe_spark.oracle import search as oracle_search


def rows(n):
    return [
        {"rank": i + 1, "doc_id": i, "url": "u" * 40, "score": 1.0 / (i + 1)}
        for i in range(n)
    ]


def test_max_results():
    r = apply_limits(rows(10), max_results=3)
    assert len(r.results) == 3 and r.skipped == 7 and r.limits_applied


def test_max_bytes_running_total():
    r = apply_limits(rows(10), max_bytes=100)  # 40 bytes per url
    assert len(r.results) == 2 and r.skipped == 8


def test_max_tokens_estimate():
    # search_limiter.rs bytes/4 estimate
    assert estimate_tokens("x" * 40) == 10
    r = apply_limits(rows(10), max_tokens=25)
    assert len(r.results) == 2


def test_no_limits_passthrough():
    r = apply_limits(rows(5))
    assert len(r.results) == 5 and not r.limits_applied


def test_first_result_always_kept():
    # a budget smaller than the first row still returns one result
    r = apply_limits(rows(3), max_bytes=10)
    assert len(r.results) == 1


def test_formats():
    rs = rows(2)
    j = json.loads(format_results(rs, "json"))
    assert len(j["results"]) == 2
    md = format_results(rs, "markdown")
    assert md.startswith("| rank |") and md.count("\n") == 3
    txt = format_results(rs, "text")
    assert len(txt.splitlines()) == 2
    xml = format_results(rs, "xml")
    assert xml.startswith("<results>") and xml.endswith("</results>")
    assert xml.count("<result ") == 2
    with pytest.raises(ValueError):
        format_results(rs, "html")


def test_precise_counter_engages_at_90pct():
    # rows of 40-byte urls -> estimate 10 tokens each; budget 35 tokens.
    # With a fake precise counter that says 1 token/row, the switch at
    # >= 90% of budget (31.5) lets MORE rows through than estimate-only.
    calls = []

    def fake_precise(text):
        calls.append(text)
        return 1

    rs = rows(8)
    for r in rs:
        r["url"] = "u" * 40
    est_only = apply_limits(rs, max_tokens=35, token_counter=None)
    precise = apply_limits(rs, max_tokens=35, token_counter=fake_precise)
    assert len(est_only.results) == 3  # 10+10+10, 4th would exceed 35
    assert len(precise.results) > len(est_only.results)
    assert calls, "precise counter must engage past 90% of the budget"
    # the first rows stay on the cheap estimate (laziness)
    assert len(calls) < len(rs)


def test_outline_format_groups_by_host():
    rs = [
        {"rank": 1, "doc_id": 1, "score": 2.0, "url": "https://a.example.com/x/1"},
        {"rank": 2, "doc_id": 2, "score": 1.5, "url": "https://b.example.com/y"},
        {"rank": 3, "doc_id": 3, "score": 1.0, "url": "https://a.example.com/x/2"},
    ]
    out = format_results(rs, "outline")
    lines = out.splitlines()
    # hosts sorted, each once; hits indented under their host with path only
    assert lines[0] == "a.example.com"
    assert lines[1].startswith("  ") and lines[1].endswith("/x/1")
    assert lines[2].endswith("/x/2")
    assert lines[3] == "b.example.com"
    assert out.count("example.com") == 2


def test_color_format_highlights_terms():
    rs = [{"rank": 1, "doc_id": 1, "score": 2.0, "url": "https://x.com/error-log"}]
    out = format_results(rs, "color", terms=["error"])
    assert "\x1b[33merror\x1b[0m" in out  # term highlighted
    assert "\x1b[1m" in out and out.count("\x1b[0m") >= 3
    # without terms: no yellow, still colored
    plain = format_results(rs, "color")
    assert "\x1b[33m" not in plain and "\x1b[36m" in plain


def test_coverage_boost_formula():
    # result_ranking.rs:8-18
    assert coverage_boost(0, 4) == 1.0
    assert coverage_boost(4, 4) == 3.0
    assert coverage_boost(8, 4) == 3.0  # capped at 1.0 coverage
    assert 1.0 < coverage_boost(2, 4) < 3.0
    assert coverage_boost(1, 0) == 1.0


def test_coverage_boost_rank_identity(spark, tiny_index, tiny_oracle):
    from probe_spark.engine import SearchEngine

    path, _ = tiny_index
    eng = SearchEngine(spark, path)
    for q in ("migrate endpoint meta", "+firewall whitelist"):
        exp = oracle_search(tiny_oracle, q, k=10, boost_coverage=True)
        got_df = eng.search(q, k=10, boost_coverage=True)
        got = [(int(r["doc_id"]), float(r["score"])) for r in got_df.collect()]
        assert [d for d, _ in got] == [d for d, _ in exp], q
        for (gd, gs), (_, es) in zip(got, exp):
            assert gs == pytest.approx(es, rel=1e-12, abs=1e-12), (q, gd)


def test_cli_build_search_grep(spark, tmp_path, capsys):
    """Drive the CLI main() in-process (same session via getOrCreate)."""
    from probe_spark.cli import main
    from probe_spark.fixtures import pages_df

    pages = pages_df(spark, 120).drop("html", "warc_ts")
    pages.write.mode("overwrite").parquet(str(tmp_path / "pages"))

    assert main(
        ["build", "--pages", str(tmp_path / "pages"), "--index",
         str(tmp_path / "ix"), "--buckets", "2"]
    ) == 0
    m = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert m["n_docs"] == 120
    # one sorted file per bucket until a bucket outgrows its byte target
    assert m["files_by_table"]["postings"] == 2
    # the build record: driver wall time per phase and Spark jobs started
    assert set(m["phase_ms"]) == {
        "slicing", "write", "trigram_pass", "dictionaries", "commit"
    }
    assert m["jobs"] > 0

    assert main(
        ["search", "--index", str(tmp_path / "ix"), "--query", "firewall",
         "-k", "5", "--format", "json"]
    ) == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert 0 < len(out["results"]) <= 5
    assert out["results"][0]["score"] > 0

    # multi-query joins with AND (search_runner.rs:371-375)
    assert main(
        ["search", "--index", str(tmp_path / "ix"), "--query", "firewall",
         "whitelist", "-k", "5", "--format", "json"]
    ) == 0
    _ = capsys.readouterr()

    assert main(
        ["grep", "--index", str(tmp_path / "ix"), "--pattern",
         "firewall", "--count"]
    ) == 0
    n = int(capsys.readouterr().out.strip().splitlines()[-1])
    assert n > 0

    # grep --context prints matching lines with surrounding context
    assert main(
        ["grep", "--index", str(tmp_path / "ix"), "--pattern", "firewall",
         "--context", "1", "--limit", "2"]
    ) == 0
    out = capsys.readouterr().out
    assert "== " in out and ": " in out

    # xml search output
    assert main(
        ["search", "--index", str(tmp_path / "ix"), "--query", "firewall",
         "-k", "3", "--format", "xml"]
    ) == 0
    out = capsys.readouterr().out
    assert "<results>" in out and "<result " in out

    # session cache: second identical search in the same session returns
    # only not-yet-seen docs (here: none)
    for expected_n in (3, 0):
        assert main(
            ["search", "--index", str(tmp_path / "ix"), "--query",
             "firewall", "-k", "3", "--session", "s1", "--format", "json"]
        ) == 0
        out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert len(out["results"]) == expected_n, out

    # benchmark subcommand emits one JSON line of median timings
    assert main(
        ["benchmark", "--index", str(tmp_path / "ix"), "--runs", "1"]
    ) == 0
    bm = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert set(bm["median_sec"]) >= {"single_term", "boolean"}

    # extract by doc_id / url (page-granularity probe extract analog)
    assert main(
        ["extract", "--index", str(tmp_path / "ix"), "--doc", "0",
         "--doc", "3", "--format", "json"]
    ) == 0
    ext = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert [d["doc_id"] for d in ext["documents"]] == [0, 3]
    assert all(d["text"] for d in ext["documents"])

    # validate (Q10) -- no Spark session needed
    assert main(["validate", "--query", "+error (handler OR retry)"]) == 0
    ok = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert ok["ok"] is True
    assert main(["validate", "--query", "@ ! ^"]) == 1
    bad = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert bad["ok"] is False and bad["error"]


def test_terminal_and_outline_xml_formats():
    """The last two of the reference's 8 formats (cli.rs:81): terminal =
    decorated human output (results_formatter.rs:10-29 header box),
    outline-xml = host-grouped XML."""
    rs = rows(3)
    term = format_results(rs, "terminal")
    assert "Found 3 results" in term and "\x1b[1m" in term
    assert len(term.splitlines()) == 4 + 3  # header box + blank + 3 hits

    ox = format_results(rs, "outline-xml")
    assert ox.startswith("<outline>") and ox.endswith("</outline>")
    assert ox.count("<host ") >= 1 and ox.count("<result ") == 3
    import xml.etree.ElementTree as ET

    ET.fromstring(ox)  # well-formed
