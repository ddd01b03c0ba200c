"""warm_rescue_needles (batched cold-needle verification) must be
row-identical to the per-needle _rescue_frames path in every needle
class: IN-pushdown candidates, lazy semi-join (candidates provably over
the IN cap), declined/full-scan, sub-trigram, and corpus-refuted.  Caps
are forced per class via instance attributes."""

from __future__ import annotations

import pytest

from probe_spark.engine import SearchEngine

NEEDLES = ["firewall", "network", "zzzzqqqxxx", "kubernetes"]


def _frames_rows(eng, needles, ex_fn=False):
    frames = eng._rescue_frames(needles, ex_fn)
    if not frames:
        return []
    df = frames[0]
    for f in frames[1:]:
        df = df.unionByName(f)
    return sorted((r["term"], r["doc_id"]) for r in df.collect())


@pytest.mark.parametrize(
    "patch",
    [
        {},  # default caps: IN-pushdown class
        {"_TRI_DIRECT_FLOOR": 0, "_TRI_DIRECT_FRAC": 0.0},  # all declined
        {"_ISIN_CAP": 1},  # lazy semi-join + too-large verified sets
    ],
    ids=["in-pushdown", "declined-fullscan", "lazy-toolarge"],
)
def test_warm_equals_per_needle(spark, tiny_index, patch):
    ix, _ = tiny_index
    base = SearchEngine(spark, ix)
    for k, v in patch.items():
        setattr(base, k, v)
    expected = _frames_rows(base, NEEDLES)

    warmed = SearchEngine(spark, ix)
    for k, v in patch.items():
        setattr(warmed, k, v)
    warmed.warm_rescue_needles(NEEDLES, False)
    # every needle must be resolved by the batch: literal frame, empty
    # frame, or an explicit too-large marker -- no cold misses left
    for t in NEEDLES:
        assert (t, False) in warmed._verified_cache or (
            warmed._tri_post_df is None
        )
    assert _frames_rows(warmed, NEEDLES) == expected


def test_warm_refuted_needle_caches_empty(spark, tiny_index):
    ix, _ = tiny_index
    eng = SearchEngine(spark, ix)
    eng.warm_rescue_needles(["zzzzqqqxxx", "wwwvvvuuu"], False)
    assert eng._verified_ids.get(("zzzzqqqxxx", False)) == []
    assert _frames_rows(eng, ["zzzzqqqxxx"]) == []


def test_warm_single_needle_noop(spark, tiny_index):
    # < 2 cold needles: the batch warmer must stand down (single-query
    # paths keep the per-needle pipeline)
    ix, _ = tiny_index
    eng = SearchEngine(spark, ix)
    eng.warm_rescue_needles(["firewall"], False)
    assert ("firewall", False) not in eng._verified_cache
