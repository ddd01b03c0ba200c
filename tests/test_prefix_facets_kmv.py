"""Prefix-wildcard search, faceted results, KMV distinct sketch, and
asymmetric containment dedup.

The gated entries (probe_index_prefix_simple / probe_index_facets_simple /
events_kmv_distinct / dedup_containment) verify these against DuckDB at
sf0.01 and sf0.1; this module pins the semantics on handcrafted inputs
where the expected output is computable by hand or by an in-test
brute-force oracle.
"""

from __future__ import annotations

import hashlib
import math

import pytest

DOCS = [
    # (url, text) -- 'ma*' prefix family with controlled tf/df structure
    ("doc://00000000", "mango mango maple apple"),
    ("doc://00000001", "mango mandarin apple apple"),
    ("doc://00000002", "maple mandarin plum"),
    ("doc://00000003", "apple plum plum"),
    ("doc://00000004", "mango maple apple"),
]


@pytest.fixture(scope="module")
def prefix_index(spark, tmp_path_factory):
    from pyspark.sql import Row

    from probe_spark.indexer import build_index

    d = tmp_path_factory.mktemp("prefix") / "fruit"
    pages = spark.createDataFrame(
        [Row(url=u, text=t, lang="en") for u, t in DOCS]
    )
    build_index(spark, pages, str(d), n_buckets=2, tokenizer="simple")
    return str(d)


def _bm25(corpus: dict[str, list[str]], terms: list[str]) -> dict[str, float]:
    n = len(corpus)
    dls = {u: len(t) for u, t in corpus.items()}
    avgdl = sum(dls.values()) / n
    out: dict[str, float] = {}
    for term in terms:
        df = sum(1 for toks in corpus.values() if term in toks)
        if df == 0:
            continue
        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        for u, toks in corpus.items():
            tf = toks.count(term)
            if tf == 0:
                continue
            dl = dls[u]
            out[u] = out.get(u, 0.0) + idf * (tf * 2.2) / (
                tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)
            )
    return out


def test_prefix_search_matches_brute_force(spark, prefix_index):
    from probe_spark.engine import SearchEngine

    eng = SearchEngine(spark, prefix_index)
    # dictionary dfs: mango 3, maple 3, mandarin 2, apple 4, plum 2.
    # 'ma' expansion ranked (df desc, term asc), max_terms=2 ->
    # mango (df3) then maple (df3, 'mango' < 'maple' -- term asc breaks
    # the tie) -- mandarin (df2) is cut by the cap.
    hits = eng.prefix_search("ma", max_terms=2, k=10).collect()
    corpus = {u: t.split(" ") for u, t in DOCS}
    expect = _bm25(corpus, ["mango", "maple"])
    got = {r["url"]: r["score"] for r in hits}
    assert set(got) == set(expect)
    for u, s in expect.items():
        assert got[u] == pytest.approx(s, abs=1e-9)
    ranks = [r["url"] for r in hits]
    assert ranks == sorted(expect, key=lambda u: (-round(expect[u], 12), u))


def test_prefix_search_trailing_star_and_edges(spark, prefix_index):
    from probe_spark.engine import SearchEngine

    eng = SearchEngine(spark, prefix_index)
    a = {(r["url"], r["score"]) for r in eng.prefix_search("ma").collect()}
    b = {(r["url"], r["score"]) for r in eng.prefix_search("ma*").collect()}
    assert a == b  # trailing wildcard is cosmetic
    # no vocabulary term starts with 'zz': empty frame, stable schema
    empty = eng.prefix_search("zz")
    assert empty.columns == ["rank", "doc_id", "url", "score"]
    assert empty.count() == 0
    with pytest.raises(ValueError):
        eng.prefix_search("*")


def test_facets_counts_and_grouped_topk(spark, prefix_index):
    from pyspark.sql import Row

    from probe_spark.engine import SearchEngine

    eng = SearchEngine(spark, prefix_index)
    # facet assignment: even docs 'a', odd docs 'b'
    meta = spark.createDataFrame(
        [
            Row(url=u, facet="a" if int(u[-1]) % 2 == 0 else "b")
            for u, _t in DOCS
        ]
    )
    # stem-stable query terms: the facets() entry point goes through the
    # full elastic parse (stemming included), and the simple-tokenizer
    # index stores raw tokens -- 'apple' would become 'appl' and miss
    rows = eng.facets("mango plum", meta, top_per_facet=2).collect()
    corpus = {u: t.split(" ") for u, t in DOCS}
    scored = {
        u: round(s, 6) for u, s in _bm25(corpus, ["mango", "plum"]).items()
    }
    by_facet: dict[str, list[str]] = {"a": [], "b": []}
    for u in scored:
        by_facet["a" if int(u[-1]) % 2 == 0 else "b"].append(u)
    got_counts = {r["facet"]: r["n_docs"] for r in rows}
    assert got_counts == {f: len(us) for f, us in by_facet.items()}
    for f, us in by_facet.items():
        want = sorted(us, key=lambda u: (-scored[u], u))[:2]
        got = [
            r["url"]
            for r in sorted(
                (r for r in rows if r["facet"] == f), key=lambda r: r["rank"]
            )
        ]
        assert got == want
        for r in rows:
            if r["facet"] == f:
                assert r["score"] == pytest.approx(scored[r["url"]], abs=1e-9)


def test_prefix_and_facets_ignore_prior_search_state(spark, prefix_index):
    """prefix_search / facets / more_like_this reset per-query scoring
    state: a preceding search(..., boost_coverage=True,
    exclude_filenames=True) on the SAME engine must not leak its coverage
    boost or url-token exclusion into the index-native entry points
    (which don't expose those options and whose DuckDB oracles assume the
    plain disjunctive bag)."""
    from pyspark.sql import Row

    from probe_spark.engine import SearchEngine

    fresh = SearchEngine(spark, prefix_index)
    want_prefix = [
        (r["url"], r["score"]) for r in fresh.prefix_search("ma", k=10).collect()
    ]
    meta = spark.createDataFrame(
        [Row(url=u, facet="a" if int(u[-1]) % 2 == 0 else "b") for u, _t in DOCS]
    )
    want_facets = sorted(
        (r["facet"], r["rank"], r["url"], r["score"])
        for r in fresh.facets("mango plum", meta).collect()
    )

    dirty = SearchEngine(spark, prefix_index)
    # a boosted -n search first: its options must not reach later calls
    dirty.search("mango apple", boost_coverage=True, exclude_filenames=True).collect()
    got_prefix = [
        (r["url"], r["score"]) for r in dirty.prefix_search("ma", k=10).collect()
    ]
    got_facets = sorted(
        (r["facet"], r["rank"], r["url"], r["score"])
        for r in dirty.facets("mango plum", meta).collect()
    )
    assert got_prefix == want_prefix
    assert got_facets == want_facets


def _kmv_hash(u: str) -> float:
    return int(hashlib.md5(u.encode()).hexdigest()[:13], 16) / float(1 << 52)


def test_kmv_estimate_matches_brute_force(spark, tmp_path):
    from pyspark.sql import Row

    from probe_spark.entry_queries import _KMV_K, events_kmv_distinct

    # 'big': 40 distinct users (> k, sketch path); 'tiny': 3 (< k, exact)
    rows = [
        Row(event_type="big", user_id=i)
        for i in range(40)
        for _ in range(2)  # duplicates must not perturb the sketch
    ] + [Row(event_type="tiny", user_id=1000 + i) for i in range(3)]
    spark.createDataFrame(rows).write.mode("overwrite").parquet(
        str(tmp_path / "events.parquet")
    )
    out = {
        r["event_type"]: r
        for r in events_kmv_distinct(spark, str(tmp_path)).collect()
    }
    hs = sorted(_kmv_hash(str(i)) for i in range(40))
    expect = round((_KMV_K - 1) / hs[_KMV_K - 1], 6)
    assert out["big"]["n_exact"] == 40
    assert out["big"]["n_est"] == pytest.approx(expect, abs=1e-9)
    # the estimate is a real estimate of 40, not garbage
    assert 10 <= out["big"]["n_est"] <= 160
    # small-set case: the sketch IS the set, estimate falls back to exact
    assert out["tiny"]["n_exact"] == 3
    assert out["tiny"]["n_est"] == 3.0


def test_containment_directional(spark, tmp_path):
    from pyspark.sql import Row

    from probe_spark.entry_queries import dedup_containment

    # doc 0's shingles are a strict subset of doc 1's: containment(0->1)=1
    # but containment(1->0) = 3/6 = 0.5 < 0.8 (directional); doc 2 shares
    # nothing.
    docs = [
        Row(doc_id=0, text="w1 w2 w3 w4 w5"),
        Row(doc_id=1, text="w1 w2 w3 w4 w5 w6 w7 w8"),
        Row(doc_id=2, text="x1 x2 x3 x4 x5 x6"),
    ]
    spark.createDataFrame(docs).write.mode("overwrite").parquet(
        str(tmp_path / "documents.parquet")
    )
    rows = dedup_containment(spark, str(tmp_path)).collect()
    assert [(r["doc_a"], r["doc_b"], r["containment"]) for r in rows] == [
        (0, 1, 1.0)
    ]


def _py_winnow(text: str, k: int = 3, w: int = 4) -> set[tuple[int, int]]:
    """Independent pure-Python winnowing (min per window, RIGHTMOST tie)."""
    toks = text.split(" ")
    grams = [
        (
            i + 1,
            int(
                hashlib.md5(" ".join(toks[i : i + k]).encode()).hexdigest()[
                    :13
                ],
                16,
            ),
        )
        for i in range(len(toks) - k + 1)
    ]
    sel: set[tuple[int, int]] = set()
    # max(..., 1): a doc with fewer than w grams still gets ONE window
    # over all its grams (standard MOSS short-doc behavior)
    for s in range(max(len(grams) - w + 1, 1 if grams else 0)):
        win = grams[s : s + w]
        mn = min(h for _p, h in win)
        pos = max(p for p, h in win if h == mn)
        sel.add((pos, mn))
    return sel


def test_winnow_matches_independent_impl_and_guarantee(spark, tmp_path):
    import pandas as pd

    from probe_spark.entry_queries import (
        _WINNOW_K,
        _WINNOW_W,
        text_winnow_fingerprints,
    )

    # doc 0 repeats the 3-gram 'a b c' -> REAL hash ties inside windows,
    # pinning the rightmost-tie rule; doc 1 shares doc 0's 6-token tail
    # run, which is >= W+K-1 so winnowing GUARANTEES a shared fingerprint
    t0 = "a b c a b c a b c d e f"
    t1 = "x y z a b c d e f"
    # docs 2/3: FEWER than W k-gram windows (5 and 4 tokens) -- the
    # short-doc clamp must still emit the min over the available grams,
    # and the verbatim 5-token copy pair must share it
    t2 = "p q r s t"
    t3 = "p q r s t"
    pd.DataFrame(
        {"doc_id": [0, 1, 2, 3], "text": [t0, t1, t2, t3]}
    ).to_parquet(tmp_path / "documents.parquet", index=False)
    rows = text_winnow_fingerprints(spark, str(tmp_path)).collect()
    got = {
        d: {(r["pos"], r["fp"]) for r in rows if r["doc_id"] == d}
        for d in (0, 1, 2, 3)
    }
    for d, t in ((0, t0), (1, t1), (2, t2), (3, t3)):
        assert got[d] == _py_winnow(t, _WINNOW_K, _WINNOW_W), d
    # the MOSS guarantee: the shared run yields a shared fingerprint hash
    assert {h for _p, h in got[0]} & {h for _p, h in got[1]}
    # short verbatim duplicates share their (single) fingerprint
    assert got[2] and got[2] == got[3]
    # density bound: far fewer fingerprints than grams
    assert len(got[0]) < len(t0.split(" ")) - _WINNOW_K + 1
