"""Rescue needles lowercase as the oracle does (Python's str.lower), on the
driver and on Spark.  pyarrow's utf8_lower is not str.lower: it maps "İ"
to "i" where str.lower gives "i̇" (i + U+0307), and a final "Σ" to "σ"
where str.lower gives "ς"; both map the Kelvin sign to "k".  The driver
resolver lowercases ASCII rows with pyarrow and every other row with
str.lower; these pages put each case in text and in urls (for -n), beside
mixed-case ASCII."""

from __future__ import annotations

import shutil

import pytest

from probe_spark import indexer
from probe_spark.oracle import CorpusIndex, Doc
from probe_spark.oracle import search as oracle_search

PAGES = [
    ("https://a.example/istanbul", "Welcome to İstanbul the city"),
    ("https://b.example/guide", "ISTANBUL city guide"),
    ("https://c.example/ΟΔΟΣ", "big road city"),
    ("https://d.example/athens", "ΟΔΟΣ ΑΘΗΝΑΣ city"),
    ("https://e.example/road", "η οδος city"),
    ("https://f.example/mixed", "MixedCase Needle city"),
    ("https://g.example/MixedCase", "plain city words"),
    ("https://h.example/kelvin", "KELVIN K sign city"),
    ("https://i.example/filler", "city filler text"),
]

QUERIES = [
    '"İstanbul"',
    '"istanbul"',
    '"ΟΔΟΣ"',
    '"οδος"',
    '"k sign"',
    '"MixedCase"',
    'city -"οδος"',
    'city -"İstanbul"',
    'city -"mixedcase"',
]

# the trigram lane serves every needle (default caps), or declines them
# all, so the verify reads the whole doc store
CLASSES = {
    "lane": {},
    "declined": {"_TRI_DIRECT_FLOOR": 0, "_TRI_DIRECT_FRAC": 0.0},
}


@pytest.fixture(scope="module")
def unicode_index(spark, tmp_path_factory):
    """(index path, oracle over the index's own doc ids)."""
    import pyarrow.parquet as pq

    path = tmp_path_factory.mktemp("unicode") / "ix"
    df = spark.createDataFrame(
        [(u, t, "en") for u, t in PAGES], "url string, text string, lang string"
    )
    indexer.build_index(spark, df, str(path), n_buckets=2)
    t = pq.read_table(f"{path}/pages_indexed", columns=["doc_id", "url", "text"])
    docs = [
        Doc(d, u, x, "en")
        for d, u, x in sorted(
            zip(*(t[c].to_pylist() for c in ("doc_id", "url", "text")))
        )
    ]
    yield str(path), CorpusIndex.build(docs)
    shutil.rmtree(path.parent, ignore_errors=True)


@pytest.mark.parametrize("cls", sorted(CLASSES))
@pytest.mark.parametrize("budget", ["default", "zero"])
def test_non_ascii_needles_match_oracle(
    spark, unicode_index, monkeypatch, budget, cls
):
    """Quoted and excluded non-ASCII needles give the oracle's rows from
    the driver lane (default budget, no Spark job) and from the Spark
    plan (budget 0), with -n off and on."""
    from probe_spark.engine import SearchEngine

    if budget == "zero":
        monkeypatch.setattr(indexer, "DRIVER_READ_BYTES", 0)
    path, oracle_ix = unicode_index
    eng = SearchEngine(spark, path)
    for k, v in CLASSES[cls].items():
        setattr(eng, k, v)
    sched = spark.sparkContext._jsc.sc().dagScheduler()
    for ex_fn in (False, True):
        for q in QUERIES:
            j0 = sched.nextJobId()
            got = eng.search_local(q, k=20, exclude_filenames=ex_fn)
            if budget == "default":
                assert sched.nextJobId() == j0, (q, ex_fn)
            expected = oracle_search(oracle_ix, q, k=20, exclude_filenames=ex_fn)
            assert expected, (q, ex_fn)
            assert [d for d, _ in got] == [d for d, _ in expected], (q, ex_fn)
            for (_, gs), (_, es) in zip(got, expected):
                assert gs == pytest.approx(es, rel=1e-12, abs=1e-12), (q, ex_fn)
