"""Listed-trigram lane: the build writes posting lists only for trigrams
with df <= tri_cutoff (trigram.tri_cutoff), tri_terms keeps every
trigram's true df, and answers equal those of a complete lane.

One 300-doc corpus is built twice: pruned (TRI_DIRECT_FLOOR patched to 0,
so the cutoff is 0.05 * 300 = 15) and complete (a floor above the corpus).
200 of its docs are synthetic and made only of dense trigrams, so the top
url buckets hold no listed trigram and write no lane rows."""

from __future__ import annotations

import json
import shutil
from collections import Counter
from itertools import product
from pathlib import Path

import pytest

from probe_spark import trigram
from probe_spark.engine import SearchEngine
from probe_spark.oracle import CorpusIndex, Doc
from probe_spark.oracle import search as oracle_search
from tests.test_trigram import _py_tri_codes
from tests.test_warm_rescue import BUDGETS, _frames_rows, at_budget

N_BUCKETS = 4
# every trigram of a synthetic doc is shared by far more than 15 docs: the
# url suffix is i's 8 bits, least significant first, over {a, b}
DENSE_TEXT = "alpha beta gamma"
NEEDLES = [
    "firewall", "kubernetes", "site42.example", "cocecose", "site7.example",
    "alpha beta", "zzzzqqqxxx", "ab",
]


def _dense_pages(n: int) -> list[tuple[str, str, str]]:
    return [
        (
            "https://z.example/"
            + "".join("ab"[(i >> k) & 1] for k in range(8)),
            DENSE_TEXT,
            "en",
        )
        for i in range(n)
    ]


@pytest.fixture(scope="session")
def tri_builds(spark, tmp_path_factory):
    """{"pruned": path, "complete": path, "pages": [(url, text, lang)]}."""
    from probe_spark.fixtures import pages_df
    from probe_spark.indexer import build_index

    base = pages_df(spark, 100).select("url", "text", "lang")
    pages = base.unionByName(
        spark.createDataFrame(_dense_pages(200), "url string, text string, lang string")
    )
    root = tmp_path_factory.mktemp("tri_listed")
    out = {"pages": [tuple(r) for r in pages.collect()]}
    for name, floor in (("pruned", 0), ("complete", 10**9)):
        with pytest.MonkeyPatch.context() as mp:
            mp.setattr(trigram, "TRI_DIRECT_FLOOR", floor)
            build_index(spark, pages, str(root / name), n_buckets=N_BUCKETS)
        out[name] = str(root / name)
    yield out
    shutil.rmtree(root, ignore_errors=True)


def _cutoff(ix: str) -> float:
    return json.loads((Path(ix) / "manifest.json").read_text())["tri_cutoff"]


def _tri_terms(spark, ix: str) -> dict[int, int]:
    return {
        int(r["tri"]): int(r["df"])
        for r in spark.read.parquet(f"{ix}/tri_terms").collect()
    }


def _true_dfs(docs) -> Counter:
    return Counter(t for url, text in docs for t in _py_tri_codes(text, url))


def _oracle(spark, ix: str) -> CorpusIndex:
    return CorpusIndex.build(
        [
            Doc(r["doc_id"], r["url"], r["text"], r["lang"])
            for r in spark.read.parquet(f"{ix}/pages_indexed").collect()
        ]
    )


def test_lane_lists_only_trigrams_at_or_below_cutoff(spark, tri_builds):
    from pyspark.sql import functions as F

    pruned, complete = tri_builds["pruned"], tri_builds["complete"]
    assert _cutoff(pruned) == 15
    assert _cutoff(complete) == 10**9
    dfs = spark.read.parquet(f"{pruned}/tri_terms")
    lane = spark.read.parquet(f"{pruned}/tri_postings")
    max_df = lane.select("tri").distinct().join(dfs, "tri").agg(F.max("df"))
    assert max_df.collect()[0][0] <= 15
    full_rows = spark.read.parquet(f"{complete}/tri_postings").count()
    assert lane.count() < full_rows // 4
    # a listed trigram's list is complete: same rows in both builds
    listed = dfs.filter(F.col("df") <= 15).select("tri")
    full_listed = spark.read.parquet(f"{complete}/tri_postings").join(
        listed, "tri", "left_semi"
    )
    cols = ["tri", "doc_id"]
    assert sorted(map(tuple, lane.select(cols).collect())) == sorted(
        map(tuple, full_listed.select(cols).collect())
    )


@pytest.mark.parametrize("build", ["pruned", "complete"])
def test_tri_terms_is_true_trigram_df(spark, tri_builds, build):
    expected = _true_dfs((u, t) for u, t, _ in tri_builds["pages"])
    assert _tri_terms(spark, tri_builds[build]) == dict(expected)


def test_all_unlisted_bucket_keeps_lane(spark, tri_builds, tmp_path):
    """Buckets of dense-only docs write no lane rows and commit a zero
    count in lineage: the coverage guard keeps the lane.  A bucket whose
    rows are genuinely missing still disables it."""
    ix = Path(tri_builds["pruned"])
    post = {d.name for d in (ix / "postings").glob("bucket=*")}
    lane = {d.name for d in (ix / "tri_postings").glob("bucket=*")}
    empty = post - lane
    assert empty and lane  # top buckets hold only the synthetic docs
    for name in empty:
        b = name.split("=")[1]
        assert (ix / "tri_partial" / name).exists()
        row = json.loads((ix / "lineage" / f"bucket_{b}.json").read_text())
        assert row["n_tri_postings"] == 0
    assert SearchEngine(spark, str(ix))._tri_post_df is not None

    clone = tmp_path / "missing"
    shutil.copytree(ix, clone)
    shutil.rmtree(clone / "tri_postings" / sorted(lane)[0])
    assert SearchEngine(spark, str(clone))._tri_post_df is None


def test_selection_classes(spark, tri_builds):
    """The pruned lane serves needles with a listed trigram, declines the
    ones without (never refutes them), and refutes df-0 trigrams."""
    pruned = SearchEngine(spark, tri_builds["pruned"])
    complete = SearchEngine(spark, tri_builds["complete"])
    got = {n: pruned._tri_candidate_ids(n) for n in NEEDLES}
    assert got["alpha beta"] is pruned._TRI_DECLINED
    assert isinstance(complete._tri_candidate_ids("alpha beta"), list)
    assert got["zzzzqqqxxx"] == []
    assert got["ab"] is None  # shorter than one trigram
    served = [n for n, v in got.items() if isinstance(v, list) and v]
    assert served
    for n in served:
        assert set(complete._tri_candidate_ids(n)) <= set(got[n])
        # at most _TRI_INTERSECT lists, all listed
        sel = pruned._tri_select(trigram.needle_tri_codes(n))
        assert 1 <= len(sel) <= 3 and all(df <= 15 for _, df in sel)


QUERIES = [
    '"alpha beta"',  # declined by the pruned lane, served by the complete
    '"site42.example" OR "cocecose"',  # served by both
    '"zzzzqqqxxx" OR firewall',  # refuted
    'firewall -"alpha"',
    'firewall -"site7.example"',
    '"kubernetes" cluster',
    "alpha beta gamma",  # bag
]


@pytest.fixture(scope="module")
def tri_oracle(spark, tri_builds):
    return _oracle(spark, tri_builds["pruned"])


@pytest.mark.parametrize("query", QUERIES)
def test_queries_identical_across_builds(spark, tri_builds, tri_oracle, query):
    """At both driver budgets, on fresh engines: the pruned build answers
    as the complete one and the oracle do."""
    expected = oracle_search(tri_oracle, query, k=20)
    for budget in BUDGETS:
        with at_budget(budget):
            pruned, complete = (
                SearchEngine(spark, tri_builds[b]) for b in ("pruned", "complete")
            )
            got = pruned.search_local(query, k=20)
            assert got == complete.search_local(query, k=20), (query, budget)
        assert [d for d, _ in got] == [d for d, _ in expected], (query, budget)
        for (gd, gs), (_, es) in zip(got, expected):
            assert gs == pytest.approx(es, rel=1e-12, abs=1e-12), (query, gd)


@pytest.mark.parametrize(
    "patch",
    [
        {},
        {"_TRI_DIRECT_FLOOR": 0, "_TRI_DIRECT_FRAC": 0.0},
        {"_ISIN_CAP": 1},
    ],
    ids=["in-pushdown", "declined-fullscan", "lazy-toolarge"],
)
def test_warm_rescue_identical_across_builds(spark, tri_builds, patch):
    """The three test_warm_rescue needle classes: the resolver on the
    pruned build, all needles in one call or one needle per call, equals
    the complete build, at both driver budgets."""
    out = []
    for budget, (build, one_by_one) in product(
        BUDGETS, (("complete", False), ("pruned", False), ("pruned", True))
    ):
        with at_budget(budget):
            eng = SearchEngine(spark, tri_builds[build])
            for k, v in patch.items():
                setattr(eng, k, v)
            if one_by_one:
                for n in NEEDLES:
                    eng.warm_rescue_needles([n], False)
            out.append(_frames_rows(eng, NEEDLES))
    assert out[0] and all(o == out[0] for o in out)


def test_ingest_keeps_listed_invariant(spark, tri_builds, tmp_path):
    """A 50-doc delta on the pruned build, then a forced roll-forward:
    tri_terms stays the true df of every trigram, the delta lists no
    trigram above the cutoff, and a needle made only of dense trigrams is
    declined (not refuted) and still found."""
    from pyspark.sql import functions as F

    from probe_spark.fixtures import pages_df
    from probe_spark.streaming.incremental import (
        _read_state,
        _reconcile,
        ingest_batch,
    )

    ix = tmp_path / "ix"
    shutil.copytree(tri_builds["pruned"], ix)
    wave = (
        pages_df(spark, 150)
        .select("url", "text", "lang")
        .join(pages_df(spark, 100).select("url"), "url", "leftanti")
    )
    assert ingest_batch(spark, wave, str(ix), epoch_id=0) == 50
    state = _read_state(str(ix))
    state["folded"] = []
    _reconcile(spark, str(ix), state)

    docs = spark.read.parquet(f"{ix}/pages_indexed").collect()
    assert len(docs) == 350
    assert _tri_terms(spark, str(ix)) == dict(
        _true_dfs((r["url"], r["text"]) for r in docs)
    )
    (delta,) = (ix / "tri_postings").glob("bucket=stream_*")
    dfs = spark.read.parquet(f"{ix}/tri_terms")
    over = (
        spark.read.parquet(str(delta))
        .join(dfs, "tri")
        .filter(F.col("df") > _cutoff(str(ix)))
        .count()
    )
    assert over == 0
    eng = SearchEngine(spark, str(ix))
    assert eng._tri_post_df is not None
    assert eng._tri_candidate_ids("alpha beta") is eng._TRI_DECLINED
    q = '"alpha beta" -"firewall"'
    got = eng.search_local(q, k=20)
    expected = oracle_search(_oracle(spark, str(ix)), q, k=20)
    assert got and [d for d, _ in got] == [d for d, _ in expected]
