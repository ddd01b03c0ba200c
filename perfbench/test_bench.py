"""Tests for the benchmark's input generator and output check.

    python3 -m pytest perfbench/test_bench.py -q

Run from the repository root (the output-check tests import probe_spark).
"""

from __future__ import annotations

import json
import subprocess
import sys
import textwrap
from pathlib import Path

import pytest

import gen
import run

HERE = Path(__file__).resolve().parent


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_same_seed_gives_identical_inputs(workload):
    assert gen.sample(workload, 7, 6) == gen.sample(workload, 7, 6)


@pytest.mark.parametrize("workload", gen.WORKLOADS)
def test_other_seed_gives_other_inputs(workload):
    assert gen.sample(workload, 7, 6) != gen.sample(workload, 8, 6)


@pytest.mark.parametrize("seed", [0, 1, 4242])
def test_ingest_slices_partition_the_held_out_docs(seed):
    n = len(gen.load_pages())
    base, slices = gen.ingest_split(n, seed)
    held = [i for s in slices for i in s]
    assert len(held) == len(set(held)) == n - len(base)
    assert sorted(base + held) == list(range(n))
    assert all(len(s) == gen.INGEST_SLICE_DOCS for s in slices[:-1])
    assert 0 < len(slices[-1]) <= gen.INGEST_SLICE_DOCS


def test_shape_patterns_share_one_cycle():
    assert len(gen.BAG_TERMS) == len(gen.BOOLEAN_SHAPES) == gen.SHAPE_CYCLE


def test_needles_follow_the_first_sight_pattern():
    """Quoted needles are new on even draws and excluded ones on odd draws
    (and on the first, with none to repeat); a repeat is a needle of the
    same polarity seen before.  The pool exceeds the engine's 128-needle
    memo."""
    q = gen.Queries(gen.load_pages(), 5)
    assert len(q.pool) > 128
    needles = gen.Needles(q.pool, q.rng("test"))
    seen: dict[bool, list[str]] = {False: [], True: []}
    for cycle in range(8):
        for excluded in (False, True):
            x = needles.draw(excluded)
            new = excluded == (cycle % 2 == 1) or cycle == 0
            assert (x not in seen[False] + seen[True]) == new, (cycle, excluded)
            assert new or x in seen[excluded]
            seen[excluded].append(x)


def test_probe_pages_are_new_urls():
    pages = gen.load_pages()
    probe = gen.probe_pages(pages, 3)
    assert len(probe) == gen.INGEST_SLICE_DOCS
    assert not {p.url for p in probe} & {p.url for p in pages}


def test_generator_reads_only_the_corpus(tmp_path):
    """Every file the generator opens, for every workload, is the corpus
    parquet it was given; it never imports the program under test."""
    corpus = tmp_path / "corpus.parquet"
    corpus.write_bytes(gen.CORPUS.read_bytes())
    script = textwrap.dedent(
        f"""
        import json, sys
        sys.path.insert(0, {str(HERE)!r})
        import gen
        for w in gen.WORKLOADS:  # finish lazy imports before listening
            gen.sample(w, 1, 2, {str(corpus)!r})
        opened = []
        sys.addaudithook(lambda ev, args: opened.append(str(args[0])) if ev == "open" else None)
        for w in gen.WORKLOADS:
            gen.sample(w, 2, 4, {str(corpus)!r})
        print(json.dumps({{"opened": sorted(set(opened)),
                          "program": [m for m in sys.modules if m.split(".")[0] in ("probe_spark", "pyspark")]}}))
        """
    )
    out = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True, check=True)
    seen = json.loads(out.stdout.strip().splitlines()[-1])
    assert seen["opened"] == [str(corpus)]
    assert seen["program"] == []


def test_batch_logs_are_fused_eligible():
    """batch_log measures the fused lane: no log query may fall back to the
    per-query branch plan."""
    from probe_spark import elastic
    from probe_spark.engine import SearchEngine, _fused_chain_gates

    q = gen.Queries(gen.load_pages(), 11)
    logs = [next(q.batch_logs()), *q.warmup("batch_log")]
    for log in logs:
        for query in log.values():
            plan = elastic.create_query_plan(query, False)
            assert _fused_chain_gates(plan, SearchEngine._excl_only_rescues(plan)) is not None, query


def test_benchmark_json_matches_the_printed_metrics():
    spec = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert [m["name"] for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [m["name"] for m in spec["per_layer"]] == list(run.PER_LAYER)
    for m in spec["end_to_end"] + spec["per_layer"]:
        assert m["unit"] == run.unit(m["name"]), m["name"]
    assert {w["name"] for w in spec["workloads"]} <= set(gen.WORKLOADS)


# -- output check ----------------------------------------------------------


def _want(rows, n_match=None):
    return (len(rows) if n_match is None else n_match, rows)


def test_mismatch_accepts_exact_and_tied_orders():
    import check

    want = _want([("a", 3.0), ("b", 2.0), ("c", 2.0), ("d", 2.0)], n_match=9)
    assert check.mismatch([("a", 3.0), ("b", 2.0), ("c", 2.0)], want, 3) is None
    # the last places are any of the docs tied at the k-th score
    assert check.mismatch([("a", 3.0), ("d", 2.0), ("b", 2.0)], want, 3) is None


@pytest.mark.parametrize(
    "got",
    [
        [("a", 3.0), ("b", 2.0)],  # too short
        [("a", 3.0), ("b", 2.0), ("b", 2.0)],  # duplicate
        [("a", 3.0), ("b", 2.0), ("x", 2.0)],  # not in the oracle's tie set
        [("a", 3.0), ("b", 2.0), ("c", 2.0000001)],  # wrong score
        [("b", 2.0), ("a", 3.0), ("c", 2.0)],  # out of order
    ],
)
def test_mismatch_rejects_wrong_results(got):
    import check

    want = _want([("a", 3.0), ("b", 2.0), ("c", 2.0), ("d", 2.0)], n_match=9)
    assert check.mismatch(got, want, 3) is not None


def test_oracle_state_matches_a_fresh_build():
    """A CorpusIndex assembled from per-page tokens equals one built from
    those pages directly, so ingest states are checked against the same
    statistics CorpusIndex.build would give."""
    import check
    from probe_spark.oracle import CorpusIndex, Doc, search

    pages = gen.load_pages()[:300]
    tokenized = check.tokenize(pages, 2)
    subset = list(range(0, 300, 3))
    assembled = check.corpus_index(tokenized, subset)
    built = CorpusIndex.build([Doc(i, pages[i].url, pages[i].text, pages[i].lang) for i in subset])
    assert (assembled.n_docs, assembled.avgdl, assembled.df) == (built.n_docs, built.avgdl, built.df)
    for query in ("spark table", '"window merge"', "+hash -sort"):
        assert search(assembled, query, 10) == search(built, query, 10)
