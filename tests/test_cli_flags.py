"""Search CLI flag parity (reference cli.rs:23-78): --files-only,
-n/--exclude-filenames, -s/--frequency (accepted + ignored, exactly like
the reference's live path), --dry-run, the config subcommand, and grep
asymmetric context / color."""

from __future__ import annotations

import json

import pytest

from probe_spark.oracle import CorpusIndex, Doc, search_files_only
from probe_spark.oracle import search as oracle_search


@pytest.fixture(scope="module")
def ix(spark, tiny_index):
    return tiny_index[0]


def _run(capsys, *argv):
    from probe_spark.cli import main

    rc = main(list(argv))
    out = capsys.readouterr()
    return rc, out


# -- files-only --------------------------------------------------------------


def test_files_only_matches_oracle_match_set(spark, ix, tiny_oracle):
    from probe_spark.engine import SearchEngine

    eng = SearchEngine(spark, ix)
    for q in ("firewall whitelist", "+firewall -gateway", '"firewall white"'):
        got = [r["doc_id"] for r in eng.files_only(q).collect()]
        assert got == search_files_only(tiny_oracle, q), q
        assert got == sorted(got)  # doc_id order, no ranking


def test_files_only_cli(ix, capsys):
    rc, out = _run(
        capsys, "search", "--index", ix, "--query", "firewall",
        "--files-only", "--format", "json",
    )
    assert rc == 0
    files = json.loads(out.out.strip().splitlines()[-1])["files"]
    assert files and all(u.startswith("http") for u in files)


# -- exclude-filenames -------------------------------------------------------


def test_exclude_filenames_identity_vs_oracle(spark, ix, tiny_oracle):
    """-n drops url-token-only matches; rank identity against the oracle's
    -n view, including a query whose matches are url-dominated."""
    from probe_spark.engine import SearchEngine

    eng = SearchEngine(spark, ix)
    for q in ("firewall whitelist", "+firewall backend", "site16"):
        exp = oracle_search(tiny_oracle, q, k=10, exclude_filenames=True)
        got = eng.search_local(q, 10, exclude_filenames=True)
        assert [d for d, _ in got] == [d for d, _ in exp], q
        for (gd, gs), (_, es) in zip(got, exp):
            assert gs == pytest.approx(es, rel=1e-12, abs=1e-12), (q, gd)


def test_exclude_filenames_shrinks_url_matches(spark, ix, tiny_oracle):
    """The fixture urls carry their slug terms, so a slug query must lose
    docs under -n (url-only matches dropped) -- guards against the flag
    silently doing nothing."""
    base = set(search_files_only(tiny_oracle, "firewall whitelist"))
    nofn = set(
        search_files_only(tiny_oracle, "firewall whitelist", exclude_filenames=True)
    )
    assert nofn < base  # strictly smaller

    from probe_spark.engine import SearchEngine

    eng = SearchEngine(spark, ix)
    got = {
        r["doc_id"]
        for r in eng.files_only("firewall whitelist", exclude_filenames=True).collect()
    }
    assert got == nofn


# -- frequency / dry-run -----------------------------------------------------


def test_frequency_flag_accepted_and_ignored(ix, capsys):
    """Reference parity: search_runner.rs:237 destructures the flag as
    `frequency_search: _` -- accepted, no effect."""
    rc1, out1 = _run(
        capsys, "search", "--index", ix, "--query", "firewall", "-k", "5",
        "--format", "json",
    )
    rc2, out2 = _run(
        capsys, "search", "--index", ix, "--query", "firewall", "-k", "5",
        "--format", "json", "--frequency",
    )
    assert rc1 == rc2 == 0
    assert out1.out.strip().splitlines()[-1] == out2.out.strip().splitlines()[-1]


def test_dry_run_compact_output(ix, capsys):
    rc, out = _run(
        capsys, "search", "--index", ix, "--query", "firewall", "-k", "3",
        "--dry-run",
    )
    assert rc == 0
    lines = out.out.strip().splitlines()
    assert lines[0].startswith("Found ")
    assert all("http" in ln and "score" in ln for ln in lines[1:])
    assert len(lines) == 4  # header + 3 hits, nothing else


# -- config ------------------------------------------------------------------


def test_config_subcommand(ix, capsys):
    rc, out = _run(capsys, "config", "--index", ix)
    assert rc == 0
    cfg = json.loads(out.out)
    assert cfg["bm25"] == {"k1": 1.2, "b": 0.75}
    assert cfg["query"]["max_terms"] == 256
    assert cfg["stats"]["n_docs"] == 1000
    assert "postings" in cfg["tables"] and "tri_postings" in cfg["tables"]
    assert cfg["manifest"]["tri_cutoff"] == 1_000  # max(0.05 * 1000, floor)
    assert cfg["suggest_buckets"] is None  # no lane built on this index


def test_config_reports_suggest_lane(spark, tmp_path, capsys):
    from probe_spark.fixtures import pages_df
    from probe_spark.indexer import build_index
    from probe_spark.symspell import build_suggest_buckets

    d = tmp_path / "ix"
    build_index(spark, pages_df(spark, 50), str(d), n_buckets=2)
    build_suggest_buckets(spark, str(d), max_dist=1)
    rc, out = _run(capsys, "config", "--index", str(d))
    assert rc == 0
    sb = json.loads(out.out)["suggest_buckets"]
    assert sb["max_dist"] == 1 and sb["rows"] > 0 and sb["fresh"] is True


def test_config_without_index(capsys):
    rc, out = _run(capsys, "config")
    assert rc == 0
    cfg = json.loads(out.out)
    assert "stats" not in cfg and cfg["rescue"]["tri_intersect"] == 3
    assert cfg["query"]["driver_read_bytes"] == 64 << 20
    assert cfg["rescue"]["tri_direct_frac"] == 0.05
    assert cfg["rescue"]["tri_direct_floor"] == 1_000
    assert cfg["rescue"]["memo_needles"] == 128


# -- grep asymmetric context + color ----------------------------------------


def test_grep_asymmetric_context(ix, capsys):
    rc, out = _run(
        capsys, "grep", "--index", ix, "--pattern", "firewall",
        "--limit", "1", "-A", "1", "-B", "0",
    )
    assert rc == 0
    lines = [ln for ln in out.out.splitlines() if ln and not ln.startswith("==")]
    hits = [ln for ln in lines if ln.split(" ", 1)[0].endswith(":")]
    ctx = [ln for ln in lines if ln.split(" ", 1)[0].endswith("-")]
    assert hits
    # every context line must sit AFTER a hit line number (no before-lines)
    hit_nos = {int(ln.split(":", 1)[0].rstrip(":")) for ln in hits}
    for ln in ctx:
        n = int(ln.split("-", 1)[0])
        assert (n - 1) in hit_nos, ln


def test_grep_color_highlights(ix, capsys):
    rc, out = _run(
        capsys, "grep", "--index", ix, "--pattern", "firewall",
        "--limit", "1", "--color",
    )
    assert rc == 0
    assert "\x1b[1;31mfirewall\x1b[0m" in out.out


# -- batch subcommand --------------------------------------------------------


def test_batch_cli_json_file(spark, ix, tiny_oracle, tmp_path, capsys):
    """batch --queries-file (JSON dict form): one JSON line per query,
    results rank-identical to the oracle for each."""
    qf = tmp_path / "queries.json"
    batch = {"fw": "firewall", "eh": "error handling"}
    qf.write_text(json.dumps(batch))
    rc, out = _run(
        capsys, "batch", "--index", ix, "--queries-file", str(qf), "-k", "5",
    )
    assert rc == 0
    lines = [json.loads(ln) for ln in out.out.strip().splitlines()]
    assert [ln["query_id"] for ln in lines] == sorted(batch)
    for ln in lines:
        expected = oracle_search(tiny_oracle, batch[ln["query_id"]], k=5)
        assert [r["doc_id"] for r in ln["results"]] == [d for d, _ in expected]


def test_batch_cli_plain_lines(ix, tmp_path, capsys):
    qf = tmp_path / "queries.txt"
    qf.write_text("firewall\n\n+error +handler\n")
    rc, out = _run(capsys, "batch", "--index", ix, "--queries-file", str(qf))
    assert rc == 0
    lines = [json.loads(ln) for ln in out.out.strip().splitlines()]
    assert [ln["query_id"] for ln in lines] == ["q001", "q002"]
    assert lines[0]["query"] == "firewall"


# -- suggest / mlt / prefix subcommands ---------------------------------------


def test_suggest_cli(ix, capsys):
    rc, out = _run(
        capsys, "suggest", "--index", ix, "--term", "firewal", "--limit", "3",
    )
    assert rc == 0
    rows = [json.loads(ln) for ln in out.out.strip().splitlines()]
    assert rows and rows[0]["dist"] <= 2
    # the indexed vocabulary contains 'firewall' (the fixture corpus's
    # warm-up term): it must be suggested for the 'firewal' typo at d=1
    assert any(r["term"] == "firewall" and r["dist"] == 1 for r in rows)
    # ranked distance asc
    assert [r["dist"] for r in rows] == sorted(r["dist"] for r in rows)


def test_mlt_cli(spark, ix, capsys):
    from probe_spark.engine import SearchEngine

    seed = SearchEngine(spark, ix)._docs_df.select("url").head()["url"]
    rc, out = _run(
        capsys, "mlt", "--index", ix, "--url", seed,
        "-k", "5", "--max-df-frac", "0.95",
    )
    assert rc == 0
    rows = [json.loads(ln) for ln in out.out.strip().splitlines()]
    assert rows and all(r["url"] != seed for r in rows)  # seed excluded
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    # unknown url is a clean error, not a traceback
    rc2, out2 = _run(capsys, "mlt", "--index", ix, "--url", "doc://nope")
    assert rc2 == 2 and "not indexed" in out2.err


def test_prefix_cli(ix, capsys):
    rc, out = _run(
        capsys, "prefix", "--index", ix, "--prefix", "fire*", "-k", "5",
    )
    assert rc == 0
    rows = [json.loads(ln) for ln in out.out.strip().splitlines()]
    assert rows
    scores = [r["score"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    rc2, out2 = _run(capsys, "prefix", "--index", ix, "--prefix", "*")
    assert rc2 == 2 and "empty prefix" in out2.err


# -- strict-elastic-syntax + question (reference cli.rs:92-94,154-156) -------


def test_strict_validator_goldens():
    """Ported from query_validator.rs tests (reference lines 146-229)."""
    from probe_spark.elastic import ParseError, validate_strict_elastic_syntax

    ok = [
        '"functionName"',
        "(error AND handler)",
        '("getUserId" AND NOT deprecated)',
        '"get_user_id"',
        "singleword",
        '"getUserId"',
        '"GetUserId"',
        '("get_user_id" AND NOT test)',
        "(error OR warning) AND handler",
        "A", "I", "X", "a", "i",
        "()",
        "(A OR B)",
    ]
    for q in ok:
        validate_strict_elastic_syntax(q)  # must not raise
    bad = [
        "error handler",
        "function name search",
        "get_user_id",
        "getUserId",
        "GetUserId",
        "get_user_id AND test",
        "error warning",
        "_",
        "",
        "   ",
    ]
    for q in bad:
        with pytest.raises(ParseError):
            validate_strict_elastic_syntax(q)


def test_strict_flag_cli(ix, capsys):
    # without the flag the fallback chain serves the vague query
    rc, out = _run(
        capsys, "search", "--index", ix, "--query", "firewall whitelist",
        "--format", "json",
    )
    assert rc == 0
    # with the flag it is a hard error, no fallback
    rc2, out2 = _run(
        capsys, "search", "--index", ix, "--query", "firewall whitelist",
        "--strict-elastic-syntax", "--format", "json",
    )
    assert rc2 == 2 and "Vague query format" in out2.err
    # a well-formed strict query still serves
    rc3, out3 = _run(
        capsys, "search", "--index", ix, "--query",
        "(firewall AND whitelist)", "--strict-elastic-syntax",
        "--format", "json",
    )
    assert rc3 == 0


def test_question_flag_documented_rejection(ix, capsys):
    rc, out = _run(
        capsys, "search", "--index", ix, "--query", "firewall",
        "--question", "how is the firewall configured?",
    )
    assert rc == 2 and "BERT" in out.err and "--question" in out.err
