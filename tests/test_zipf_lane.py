"""Zipfian-vocabulary fixture lane (r4 VERDICT ask #4).

The driver's synthetic ``documents`` table has a ~31-term dense
vocabulary where every df is ~77% of n -- dictionary-pruning operators
(MLT's df cap, suggest's dictionary ranking, prefix expansion) see no
realistic df spread there, and the MLT entry needs a df-cap override to
return anything.  The fixture corpus (fixtures.pages_df) is deliberately
Zipf-skewed; this suite pins MLT / suggest / prefix behavior on it with
DEFAULT parameters against in-test brute-force oracles, so no operator
needs a fixture-shaped parameter override to be exercised.
"""

from __future__ import annotations

import math
import shutil

import pytest

from probe_spark.oracle import idf as oracle_idf


def _lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def _bag_scores(idx, terms: list[str]) -> dict[int, float]:
    """Brute-force disjunctive BM25 (k1=1.2, b=0.75) over the oracle
    corpus structures for a resolved-term bag."""
    out: dict[int, float] = {}
    for term in terms:
        df = idx.df.get(term, 0)
        if df == 0:
            continue
        w = oracle_idf(idx.n_docs, df)
        for j, toks in enumerate(idx.tokens):
            tf = toks.count(term)
            if tf == 0:
                continue
            dl = idx.doc_lens[j]
            out[j] = out.get(j, 0.0) + w * (tf * 2.2) / (
                tf + 1.2 * (1 - 0.75 + 0.75 * dl / idx.avgdl)
            )
    return out


def _topk(scores: dict[int, float], k: int, exclude: int | None = None):
    items = [
        (j, s) for j, s in scores.items() if s > 0.0 and j != exclude
    ]
    items.sort(key=lambda x: (-x[1], x[0]))
    return items[:k]


def test_fixture_vocab_is_zipfian(tiny_oracle):
    """The lane is only meaningful if the fixture df spread is realistic:
    a hot head, a long rare tail, and most terms BELOW the default MLT
    df cap (0.5) -- everything the dense testdata vocabulary lacks."""
    idx = tiny_oracle
    fracs = sorted((d / idx.n_docs for d in idx.df.values()), reverse=True)
    assert len(fracs) >= 300  # real vocabulary, not ~31 dense terms
    assert fracs[0] > 0.15  # hot head terms exist
    assert fracs[len(fracs) // 2] < 0.10  # median term is rare
    below_default_cap = sum(1 for f in fracs if f <= 0.5)
    assert below_default_cap / len(fracs) > 0.9


def test_mlt_default_params_matches_brute(spark, tiny_index, tiny_oracle):
    """more_like_this with every parameter at its DEFAULT (k=10,
    max_terms=8, min_term_len=3, max_df_frac=0.5) must return a full
    result page on the Zipf fixture and match the brute-force
    reimplementation of its integer-deterministic selection + bag
    scoring."""
    from probe_spark.engine import SearchEngine
    from probe_spark.textkit import tokenize

    idx = tiny_oracle
    ix, _ = tiny_index
    eng = SearchEngine(spark, ix)
    seed = idx.docs[0]
    hits = eng.more_like_this(seed.url).collect()
    assert len(hits) == 10  # no df-cap override needed on this lane

    # selection: seed TEXT tokens, len>=3, 0 < df <= floor(0.5*n),
    # ranked (tf desc, df asc, term asc), top 8
    counts: dict[str, int] = {}
    for t in tokenize(seed.text):
        counts[t] = counts.get(t, 0) + 1
    cap = int(0.5 * idx.n_docs)
    eligible = [
        t
        for t in counts
        if len(t) >= 3 and 0 < idx.df.get(t, 0) <= cap
    ]
    sel = sorted(eligible, key=lambda t: (-counts[t], idx.df[t], t))[:8]
    assert sel  # the default cap keeps terms on a Zipf vocabulary

    expect = _topk(_bag_scores(idx, sel), 10, exclude=seed.doc_id)
    got = [(int(r["doc_id"]), float(r["score"])) for r in hits]
    assert [d for d, _ in got] == [d for d, _ in expect]
    for (gd, gs), (_, es) in zip(got, expect):
        assert gs == pytest.approx(es, rel=1e-9), gd
    assert [r["rank"] for r in hits] == list(range(1, 11))


def test_prefix_default_params_matches_brute(spark, tiny_index, tiny_oracle):
    """prefix_search with default max_terms=4, k=10: dictionary
    expansion (df desc, term asc) then disjunctive bag, brute-force
    verified on the Zipf vocabulary."""
    from probe_spark.engine import SearchEngine

    idx = tiny_oracle
    ix, _ = tiny_index
    eng = SearchEngine(spark, ix)
    prefix = "fire"
    cands = [t for t in idx.df if t.startswith(prefix)]
    assert len(cands) >= 2  # expansion is real on this vocabulary
    expansion = sorted(cands, key=lambda t: (-idx.df[t], t))[:4]

    hits = eng.prefix_search(prefix + "*").collect()
    assert len(hits) == 10
    expect = _topk(_bag_scores(idx, expansion), 10)
    got = [(int(r["doc_id"]), float(r["score"])) for r in hits]
    assert [d for d, _ in got] == [d for d, _ in expect]
    for (gd, gs), (_, es) in zip(got, expect):
        assert gs == pytest.approx(es, rel=1e-9), gd


@pytest.fixture(scope="module")
def suggest_index(tiny_index, tmp_path_factory, spark):
    """Copy of the Zipf index with the SymSpell lane built at the default
    depth -- a copy so the session-scoped fixture stays lane-free for
    the auto-routing tests elsewhere."""
    from probe_spark.symspell import build_suggest_buckets

    src, _ = tiny_index
    d = tmp_path_factory.mktemp("zipf_suggest") / "ix"
    shutil.copytree(src, d)
    build_suggest_buckets(spark, str(d), max_dist=2)
    return str(d)


def test_suggest_default_params_both_lanes(
    spark, suggest_index, tiny_oracle
):
    """suggest with default max_dist=2, limit=5, use_buckets=None (auto)
    on Zipf-spread dictionary dfs: ranking (distance asc, df desc, term
    asc) brute-force verified, and the auto-routed SymSpell lane must
    return the identical rows as the brute dictionary scan."""
    from probe_spark.engine import SearchEngine

    idx = tiny_oracle
    eng = SearchEngine(spark, suggest_index)
    # derive realistic typos from the corpus's own mid-frequency terms
    # (one dropped letter, one transposition) so the lane never depends
    # on a particular word surviving stemming into the dictionary
    mid = sorted(
        (t for t in idx.df if len(t) >= 6 and t.isalpha()),
        key=lambda t: (-idx.df[t], t),
    )[5:7]
    typos = ["firewal"] + [t[:-1] for t in mid] + [
        t[0] + t[2] + t[1] + t[3:] for t in mid
    ]
    for typo in typos:
        matches = [
            (t, _lev(typo, t), idx.df[t])
            for t in idx.df
            if abs(len(t) - len(typo)) <= 2 and _lev(typo, t) <= 2
        ]
        matches.sort(key=lambda x: (x[1], -x[2], x[0]))
        expect = [(t, d, df) for t, d, df in matches[:5]]
        assert expect, typo  # realistic typos resolve on this vocabulary

        auto = [
            (r["term"], int(r["dist"]), int(r["df"]))
            for r in eng.suggest(typo).collect()
        ]
        brute = [
            (r["term"], int(r["dist"]), int(r["df"]))
            for r in eng.suggest(typo, use_buckets=False).collect()
        ]
        assert auto == expect, typo
        assert brute == expect, typo
