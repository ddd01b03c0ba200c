"""Round-4 LLM-pipeline text operators: Gopher repetition signals,
boilerplate 3-gram mining, temperature language rebalancing.

Each entry is also under the driver's DuckDB gate (ALL_QUERIES); these
tests pin hand-computed expectations on tiny corpora so a regression is
caught without the oracle, plus the determinism/monotonicity contracts
the sampling op must keep at scale.
"""

from __future__ import annotations

import pandas as pd
import pytest

from probe_spark.entry_queries import (
    sample_lang_temperature,
    text_boilerplate_ngrams,
    text_repetition,
)


def _write_docs(tmp_path, rows):
    pdf = pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )
    pdf.to_parquet(tmp_path / "documents.parquet", index=False)
    return str(tmp_path)


def test_repetition_hand_computed(spark, tmp_path):
    sf = _write_docs(
        tmp_path,
        [
            # 2-grams: [a b, b a, a b, b c] -> 4 total 3 distinct -> 0.25
            # 3-grams: [a b a, b a b, a b c] -> all distinct -> 0.0
            # top word: 'a' and 'b' both 2/5 -> 0.4
            (0, "a b a b c", "en", "s", 9),
            (1, "x", "en", "s", 1),  # single word: guards, not sequence(1,0)
            (2, "y y y y", "en", "s", 7),  # fully repeated
        ],
    )
    got = {
        r["doc_id"]: r.asDict() for r in text_repetition(spark, sf).collect()
    }
    assert got[0]["n_words"] == 5
    assert got[0]["dup_2gram_frac"] == pytest.approx(0.25)
    assert got[0]["dup_3gram_frac"] == 0.0
    assert got[0]["top_word_frac"] == pytest.approx(0.4)
    assert got[1] == {
        "doc_id": 1,
        "n_words": 1,
        "dup_2gram_frac": 0.0,
        "dup_3gram_frac": 0.0,
        "top_word_frac": 1.0,
    }
    # "y y y y": 3 identical 2-grams -> 1 - 1/3; 2 identical 3-grams -> 0.5
    assert got[2]["dup_2gram_frac"] == pytest.approx(round(1 - 1 / 3, 6))
    assert got[2]["dup_3gram_frac"] == pytest.approx(0.5)
    assert got[2]["top_word_frac"] == 1.0


def test_repetition_keeps_null_text_doc(spark, tmp_path):
    """A doc with null text keeps its row (null top_word_frac) instead of
    vanishing in the top-word join."""
    sf = _write_docs(
        tmp_path, [(0, "a b a", "en", "s", 5), (1, None, "en", "s", 0)]
    )
    got = {
        r["doc_id"]: r.asDict() for r in text_repetition(spark, sf).collect()
    }
    assert sorted(got) == [0, 1]
    assert got[1]["top_word_frac"] is None
    assert got[0]["top_word_frac"] == pytest.approx(round(2 / 3, 6))


def test_read_pq_schema_cache_sees_part_file_rewrite(spark, tmp_path):
    """Rewriting a part file in place with a new schema leaves the
    directory's mtime alone; the schema cache must still re-infer."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from probe_spark.entry_queries import _read_pq

    table = tmp_path / "t.parquet"
    table.mkdir()
    part = table / "part-0.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), part)
    assert _read_pq(spark, str(table)).columns == ["a"]
    dir_mtime = os.stat(table).st_mtime_ns
    pq.write_table(pa.table({"a": [3], "b": ["x"]}), part)
    st = os.stat(part)
    # a later mtime even on coarse-grained filesystems
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 2 * 10**9))
    assert os.stat(table).st_mtime_ns == dir_mtime
    rows = _read_pq(spark, str(table)).collect()
    assert [r.asDict() for r in rows] == [{"a": 3, "b": "x"}]


def test_boilerplate_ngrams_df_threshold(spark, tmp_path):
    # "nav home link" appears once in each of 6 docs (df=6) and twice in
    # doc 0 (total=7); "uniq one two" appears in only one doc -> pruned.
    rows = [
        (0, "nav home link pad nav home link", "en", "s", 10),
        (6, "uniq one two three", "en", "s", 10),
    ] + [(i, f"nav home link filler{i}", "en", "s", 10) for i in range(1, 6)]
    sf = _write_docs(tmp_path, rows)
    got = {
        r["ngram"]: (r["df"], r["total"])
        for r in text_boilerplate_ngrams(spark, sf).collect()
    }
    assert got == {"nav home link": (6, 7)}


def test_lang_temperature_rebalances_and_is_deterministic(spark, tmp_path):
    # 90/10 skew: alpha=0.3 must keep a LOWER rate for the big language.
    rows = [(i, "w", "en", "s", 1) for i in range(90)] + [
        (100 + i, "w", "fr", "s", 1) for i in range(10)
    ]
    sf = _write_docs(tmp_path, rows)
    a = sample_lang_temperature(spark, sf).collect()
    b = sample_lang_temperature(spark, sf).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))  # deterministic
    rates = {r["lang"]: r["rate_ppm"] for r in a}
    assert rates["en"] < rates["fr"]
    kept = pd.DataFrame([r.asDict() for r in a])
    n_en = (kept["lang"] == "en").sum()
    n_fr = (kept["lang"] == "fr").sum()
    # expected kept: en 50*w_en/(w_en+w_fr) ~ 39, fr ~ 11 (capped at 10):
    # the mix must be flatter than the 9:1 input
    assert n_fr > 0 and n_en < 90
    assert n_en / max(n_fr, 1) < 9


def test_decontaminate_hand_computed(spark, tmp_path):
    # Eval slice = doc_id % 97 == 0 -> doc 0 only ("a b c d e": 3-grams
    # {a b c, b c d, c d e}).  doc 1 shares one gram, doc 3 is an exact
    # copy (all 3), doc 2 shares none, doc 4 is too short for any gram.
    sf = _write_docs(
        tmp_path,
        [
            (0, "a b c d e", "en", "s", 9),
            (1, "a b c x y", "en", "s", 9),
            (2, "x y z w", "en", "s", 7),
            (3, "a b c d e", "en", "s", 9),
            (4, "q", "en", "s", 1),
        ],
    )
    from probe_spark.entry_queries import pipeline_decontaminate

    df = pipeline_decontaminate(spark, sf)
    got = {r["doc_id"]: r.asDict() for r in df.collect()}
    assert set(got) == {1, 3}  # only contaminated training docs
    assert got[1] == {
        "doc_id": 1,
        "n_hits": 1,
        "n_ngrams": 3,
        "contam_ratio": round(1 / 3, 6),
    }
    assert got[3] == {
        "doc_id": 3,
        "n_hits": 3,
        "n_ngrams": 3,
        "contam_ratio": 1.0,
    }
    # scale contract: the eval-set membership probe must be a broadcast
    # join (no shuffle of the training side), not a sort-merge join
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dedup_span_exact_hand_computed(spark, tmp_path):
    # K=8 word spans.  doc 0 owns (min doc_id) both grams it shares with
    # doc 1, so doc 0 keeps everything; doc 1 loses the union of its two
    # overlapping duplicated spans (positions 1..8 and 2..9 -> 9 words,
    # overlaps counted once).  doc 2 is too short for any 8-gram.  doc 3
    # repeats an 8-gram three times WITHIN itself only -- within-doc
    # repetition is not cross-corpus duplication (df counts distinct
    # docs), so it must stay untouched.
    sf = _write_docs(
        tmp_path,
        [
            (0, "a b c d e f g h i j", "en", "s", 19),
            (1, "z a b c d e f g h i", "en", "s", 19),
            (2, "p q r", "en", "s", 5),
            (3, "m m m m m m m m m m", "en", "s", 19),
        ],
    )
    from probe_spark.entry_queries import dedup_span_exact

    got = {
        r["doc_id"]: r.asDict() for r in dedup_span_exact(spark, sf).collect()
    }
    assert got[0] == {
        "doc_id": 0,
        "n_words": 10,
        "n_dup_spans": 0,
        "n_removed_words": 0,
        "removed_frac": 0.0,
    }
    assert got[1] == {
        "doc_id": 1,
        "n_words": 10,
        "n_dup_spans": 2,
        "n_removed_words": 9,
        "removed_frac": 0.9,
    }
    assert got[2]["n_words"] == 3 and got[2]["n_removed_words"] == 0
    assert got[3]["n_dup_spans"] == 0 and got[3]["n_removed_words"] == 0


def test_pii_redact_hand_computed(spark, tmp_path):
    import hashlib

    sf = _write_docs(
        tmp_path,
        [
            (0, "hello world", "en", "s", 11),
            (2, "clean doc", "en", "s", 9),  # % 3 == 2: no injection
            (7, "x", "en", "s", 1),
        ],
    )
    from probe_spark.entry_queries import text_pii_redact

    got = {
        r["doc_id"]: r.asDict() for r in text_pii_redact(spark, sf).collect()
    }
    assert got[0]["n_emails"] == 1
    assert got[0]["n_ips"] == 1
    assert got[0]["n_phones"] == 1
    want0 = "hello world contact <EMAIL> from <IP> call <PHONE>"
    assert got[0]["redacted_md5"] == hashlib.md5(want0.encode()).hexdigest()
    # untouched doc: zero counts, md5 of the original text
    assert got[2] == {
        "doc_id": 2,
        "n_emails": 0,
        "n_ips": 0,
        "n_phones": 0,
        "redacted_md5": hashlib.md5(b"clean doc").hexdigest(),
    }
    # lpad: 7 -> "0007"; injected IP 10.7.0.49 -- all redacted
    want7 = "x contact <EMAIL> from <IP> call <PHONE>"
    assert got[7]["redacted_md5"] == hashlib.md5(want7.encode()).hexdigest()


def test_unigram_nll_hand_computed(spark, tmp_path):
    import math

    # corpus unigram LM: counts a=3 b=2 c=1, total=6
    #   lp(a)=ln(1/2)  lp(b)=ln(1/3)  lp(c)=ln(1/6)
    # doc 0 = "a a b": avg_nll = -(2*ln(1/2) + ln(1/3)) / 3
    # doc 1 = "a b c": avg_nll = -(ln(1/2) + ln(1/3) + ln(1/6)) / 3
    sf = _write_docs(
        tmp_path,
        [
            (0, "a a b", "en", "s", 5),
            (1, "a b c", "en", "s", 5),
        ],
    )
    from probe_spark.entry_queries import text_unigram_nll

    got = {
        r["doc_id"]: r.asDict() for r in text_unigram_nll(spark, sf).collect()
    }
    lp_a, lp_b, lp_c = math.log(1 / 2), math.log(1 / 3), math.log(1 / 6)
    assert got[0]["n_words"] == 3
    assert got[0]["avg_nll"] == round(-(2 * lp_a + lp_b) / 3, 6)
    assert got[1]["n_words"] == 3
    assert got[1]["avg_nll"] == round(-(lp_a + lp_b + lp_c) / 3, 6)
    # rare-word doc scores strictly worse (higher NLL) than common-word doc
    assert got[1]["avg_nll"] > got[0]["avg_nll"]


def test_decontaminate_fuzzy_hand_computed(spark, tmp_path):
    # eval slice = doc_id % 97 == 0 -> docs 0 and 97, identical bigram
    # sets {a b, b c, c d}.  train doc 1 shares 2 of 3 bigrams with both
    # (J = 2/(3+3-2) = 0.5) -> tie breaks to the LOWER eval id (0).
    # train doc 3 shares 1 (J = 1/(3+2-1) = 0.25).  train doc 2 shares
    # nothing -> absent (below threshold / no candidate pair at all).
    sf = _write_docs(
        tmp_path,
        [
            (0, "a b c d", "en", "s", 7),
            (97, "a b c d", "en", "s", 7),
            (1, "a b c x", "en", "s", 7),
            (2, "z z z", "en", "s", 5),
            (3, "c d e", "en", "s", 5),
        ],
    )
    from probe_spark.entry_queries import pipeline_decontaminate_fuzzy

    df = pipeline_decontaminate_fuzzy(spark, sf)
    got = {r["doc_id"]: r.asDict() for r in df.collect()}
    assert set(got) == {1, 3}
    assert got[1] == {"doc_id": 1, "eval_doc_id": 0, "jaccard": 0.5}
    assert got[3] == {"doc_id": 3, "eval_doc_id": 0, "jaccard": 0.25}
    # scale contract: the eval probe must be a broadcast join, and the
    # training side must never sort-merge
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pack_chunks_hand_computed(spark, tmp_path):
    # L=128, G=64.  Word counts 100/50/30 in group 0 and 20 in group 64:
    # offsets 0/100/150/180.  doc 1 straddles the chunk-0|1 boundary at
    # token 128; everything else fits one chunk.  doc 65's offset (180)
    # exercises the cross-group broadcast prefix path.
    sf = _write_docs(
        tmp_path,
        [
            (0, " ".join(["w"] * 100), "en", "s", 199),
            (1, " ".join(["w"] * 50), "en", "s", 99),
            (2, " ".join(["w"] * 30), "en", "s", 59),
            (65, " ".join(["w"] * 20), "en", "s", 39),
        ],
    )
    from probe_spark.entry_queries import pipeline_pack_chunks

    got = {
        r["doc_id"]: r.asDict()
        for r in pipeline_pack_chunks(spark, sf).collect()
    }
    assert got[0] == {
        "doc_id": 0, "n_tokens": 100, "start_offset": 0,
        "start_chunk": 0, "n_chunks": 1, "crosses_boundary": False,
    }
    assert got[1] == {
        "doc_id": 1, "n_tokens": 50, "start_offset": 100,
        "start_chunk": 0, "n_chunks": 2, "crosses_boundary": True,
    }
    assert got[2] == {
        "doc_id": 2, "n_tokens": 30, "start_offset": 150,
        "start_chunk": 1, "n_chunks": 1, "crosses_boundary": False,
    }
    assert got[65] == {
        "doc_id": 65, "n_tokens": 20, "start_offset": 180,
        "start_chunk": 1, "n_chunks": 1, "crosses_boundary": False,
    }


def test_split_leakage_report_hand_computed(spark, tmp_path):
    # md5(doc_id) buckets put 30 and 40 in the eval split (>= 98) and
    # 0/1/2 in train.  Shingles are word 3-grams.  Train doc 0 is an
    # exact copy of eval doc 30 (J = 1.0 -> leak); train doc 1 shares
    # exactly one shingle with BOTH eval docs (J = 1/5 each) -- the tie
    # must break to the lower eval id and stay below threshold; train
    # doc 2 shares nothing and must be absent from the report.
    sf = _write_docs(
        tmp_path,
        [
            (30, "a b c d e", "en", "s", 9),
            (40, "a b c x y", "en", "s", 9),
            (0, "a b c d e", "en", "s", 9),
            (1, "a b c q r", "en", "s", 9),
            (2, "z z z z", "en", "s", 7),
        ],
    )
    from probe_spark.entry_queries import split_leakage_report

    got = {
        r["doc_id"]: r.asDict()
        for r in split_leakage_report(spark, sf).collect()
    }
    assert set(got) == {0, 1}
    assert got[0] == {
        "doc_id": 0, "eval_doc_id": 30, "jaccard": 1.0, "is_leak": True,
    }
    assert got[1] == {
        "doc_id": 1, "eval_doc_id": 30, "jaccard": 0.2, "is_leak": False,
    }


def test_tfidf_topk_hand_computed(spark, tmp_path):
    import math

    # N=3; df: a=2 b=1 c=2.  doc 0 "a a b": b wins (1*ln3 > 2*ln1.5);
    # doc 1 "a c": exact tf-idf tie -> term-asc tie-break; doc 2 "c c c"
    # has a single distinct term -> one row only.
    sf = _write_docs(
        tmp_path,
        [
            (0, "a a b", "en", "s", 5),
            (1, "a c", "en", "s", 3),
            (2, "c c c", "en", "s", 5),
        ],
    )
    from probe_spark.entry_queries import text_tfidf_topk

    rows = sorted(
        (r["doc_id"], r["rank"], r["term"], r["tfidf"])
        for r in text_tfidf_topk(spark, sf).collect()
    )
    ln15, ln3 = math.log(3 / 2), math.log(3.0)
    assert rows == [
        (0, 1, "b", round(ln3, 6)),
        (0, 2, "a", round(2 * ln15, 6)),
        (1, 1, "a", round(ln15, 6)),
        (1, 2, "c", round(ln15, 6)),
        (2, 1, "c", round(3 * ln15, 6)),
    ]


def test_corpus_mixture_hand_computed(spark, tmp_path):
    # 6 corpus tokens: (en,s1)=2, (en,s2)=1, (de,s1)=3
    import pandas as pd

    pdf = pd.DataFrame(
        [
            (0, "a b", "en", "s1", 3),
            (1, "a", "en", "s2", 1),
            (2, "x y z", "de", "s1", 5),
        ],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    )
    pdf.to_parquet(tmp_path / "documents.parquet", index=False)
    from probe_spark.entry_queries import corpus_mixture

    got = {
        (r["lang"], r["source"]): r.asDict()
        for r in corpus_mixture(spark, str(tmp_path)).collect()
    }
    assert got[("en", "s1")]["n_docs"] == 1
    assert got[("en", "s1")]["n_tokens"] == 2
    assert got[("en", "s1")]["token_share_ppm"] == 333333
    assert got[("en", "s2")]["token_share_ppm"] == 166666
    assert got[("de", "s1")]["token_share_ppm"] == 500000


def test_epoch_mix_copies_match_pure_python_md5(spark, tmp_path):
    """Per-source epoch mixing: replicate floor(epochs) times + one
    fractional copy decided by the md5(doc_id) bucket.  The expected row
    multiset is recomputed with hashlib so a drift in either the weight
    synthesis or the copy rule is caught exactly."""
    import hashlib

    from probe_spark.entry_queries import sample_epoch_mix

    def bucket(v, mod):
        return int(hashlib.md5(str(v).encode()).hexdigest()[:8], 16) % mod

    rows = [(i, "w", "en", "alpha", 1) for i in range(10)] + [
        (10 + i, "w", "en", "beta", 1) for i in range(10)
    ]
    sf = _write_docs(tmp_path, rows)
    got = sorted(
        (r["doc_id"], r["source"], r["epochs_milli"], r["epoch"])
        for r in sample_epoch_mix(spark, sf).collect()
    )
    want = []
    for doc_id, _w, _l, src, _n in rows:
        em = 500 + bucket(src, 3000)
        copies = em // 1000 + (1 if bucket(doc_id, 1000) < em % 1000 else 0)
        want.extend((doc_id, src, em, e) for e in range(copies))
    assert got == sorted(want)
    # the synthesized weights exercise both paths on this fixture:
    # alpha = 647 milli-epochs (pure fractional DOWNsample, some docs
    # absent), beta = 3148 (3 full copies + 14.8% fractional fourth)
    ems = {src: 500 + bucket(src, 3000) for src in ("alpha", "beta")}
    assert ems["alpha"] == 647 and ems["beta"] == 3148
    n_alpha_docs = len({d for d, s, _e, _p in got if s == "alpha"})
    assert 0 < n_alpha_docs < 10  # downsampled, not emptied
    beta_copies = [
        sum(1 for d, s, _e, _p in got if s == "beta" and d == i)
        for i in range(10, 20)
    ]
    assert set(beta_copies) <= {3, 4} and 4 in beta_copies
    # determinism: a second run yields the identical multiset
    again = sorted(
        (r["doc_id"], r["source"], r["epochs_milli"], r["epoch"])
        for r in sample_epoch_mix(spark, sf).collect()
    )
    assert again == got


def test_text_entropy_hand_computed(spark, tmp_path):
    """H = ln(n) - sum(c ln c)/n on three analytic cases: 50/50 two-word
    doc = ln 2, all-distinct = ln n, single repeated word = 0."""
    import math

    from probe_spark.entry_queries import text_entropy

    rows = [
        (0, "a a b b", "en", "s", 1),
        (1, "a b c d", "en", "s", 1),
        (2, "a a a a", "en", "s", 1),
    ]
    sf = _write_docs(tmp_path, rows)
    got = {
        r["doc_id"]: r.asDict() for r in text_entropy(spark, sf).collect()
    }
    assert got[0]["n_words"] == 4 and got[0]["n_distinct"] == 2
    assert got[0]["entropy_nats"] == round(math.log(2), 6)
    assert got[1]["n_distinct"] == 4
    assert got[1]["entropy_nats"] == round(math.log(4), 6)
    assert got[2]["n_distinct"] == 1
    assert got[2]["entropy_nats"] == 0.0
    # diversity ordering: template < mixed < fully distinct
    assert (
        got[2]["entropy_nats"]
        < got[0]["entropy_nats"]
        < got[1]["entropy_nats"]
    )


def test_shard_manifest_matches_pure_python_md5(spark, tmp_path):
    """Shard routing and the integer-ppm balance audit recomputed with
    hashlib: exact per-shard doc/token counts, ranges, floor-div share."""
    import hashlib

    from probe_spark.entry_queries import pipeline_shard_manifest

    def bucket(v, mod):
        return int(hashlib.md5(str(v).encode()).hexdigest()[:8], 16) % mod

    rows = [(i, " ".join(["w"] * (i + 1)), "en", "s", 1) for i in range(20)]
    sf = _write_docs(tmp_path, rows)
    got = {
        r["shard"]: r.asDict()
        for r in pipeline_shard_manifest(spark, sf).collect()
    }
    want: dict[int, dict] = {}
    for i in range(20):
        sh = bucket(i, 16)
        e = want.setdefault(
            sh,
            {"n_docs": 0, "n_tokens": 0, "min_doc_id": i, "max_doc_id": i},
        )
        e["n_docs"] += 1
        e["n_tokens"] += i + 1  # doc i holds i+1 tokens
        e["min_doc_id"] = min(e["min_doc_id"], i)
        e["max_doc_id"] = max(e["max_doc_id"], i)
    total = sum(e["n_tokens"] for e in want.values())
    assert total == 210
    assert set(got) == set(want)
    for sh, e in want.items():
        g = got[sh]
        assert (
            g["n_docs"],
            g["n_tokens"],
            g["min_doc_id"],
            g["max_doc_id"],
        ) == (e["n_docs"], e["n_tokens"], e["min_doc_id"], e["max_doc_id"])
        assert g["share_ppm"] == (e["n_tokens"] * 1_000_000) // total
    # floor-division shares never over-claim the corpus
    assert sum(g["share_ppm"] for g in got.values()) <= 1_000_000
