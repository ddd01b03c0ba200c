"""Physical-plan assertions: the declarative query plans must keep their
predicates and projections at the parquet scans (Catalyst pushdown) -- the
properties that make the engine viable at 100 TB, checked against
.explain("formatted") output so regressions in plan shape fail loudly."""

import re

import pytest

from bench import HEADLINE


def _formatted_plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_postings_term_filter_pushed_down(spark, tiny_index):
    """Query-term retrieval must push term IN (...) into the postings scan
    (row-group pruning on the term-sorted files) and prune columns."""
    from pyspark.sql import functions as F

    path, _ = tiny_index
    post = (
        spark.read.parquet(f"{path}/postings")
        .filter(F.col("term").isin(["firewal", "whitelist"]))
        .select("term", "doc_id", "tf", "doc_len")
    )
    plan = _formatted_plan(post)
    assert "PushedFilters" in plan
    assert re.search(r"PushedFilters: \[.*[Ii]n\(term", plan), plan
    # column pruning: the scan must not read columns we did not select
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
    assert cols <= {"term", "doc_id", "tf", "doc_len"}, cols


def test_rescue_scan_docid_pushdown(spark, tiny_index):
    """The lane-pruned containment verify pushes doc_id IN (...) into the
    doc-store scan, so non-candidate row groups are skipped."""
    from probe_spark.engine import SearchEngine

    path, _ = tiny_index
    eng = SearchEngine(spark, path)
    ids = eng._tri_candidate_ids("parsejsontohtml5")
    assert ids  # the fixture corpus contains this string
    from pyspark.sql import functions as F

    scan = eng._docs_df.select("doc_id", "text").filter(
        F.col("doc_id").isin(ids[:50])
    )
    plan = _formatted_plan(scan)
    assert re.search(r"PushedFilters: \[.*[Ii]n\(doc_id", plan), plan


def test_docs_url_projection_prunes_text(spark, tiny_index):
    """Top-k url hydration must not read the text column."""
    path, _ = tiny_index
    from probe_spark.engine import SearchEngine

    eng = SearchEngine(spark, path)
    proj = eng._docs_df.select("doc_id", "url")
    plan = _formatted_plan(proj)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m, plan
    assert "text" not in m.group(1), m.group(1)


_PYTHON_NODES = re.compile(
    r"MapInPandas|MapInArrow|PythonMapInArrow|ArrowEvalPython|BatchEvalPython"
)


@pytest.mark.parametrize("shape", sorted(HEADLINE))
def test_disjunctive_query_whole_stage_codegen(spark, tiny_index, monkeypatch, shape):
    """Every headline shape is scored JVM-side (whole-stage codegen spans,
    no Python node anywhere in the plan).  Budget 0: the Spark plan, not
    the driver lane, serves the query."""
    from probe_spark import indexer
    from probe_spark.engine import SearchEngine

    monkeypatch.setattr(indexer, "DRIVER_READ_BYTES", 0)
    path, _ = tiny_index
    eng = SearchEngine(spark, path)
    df = eng.search(HEADLINE[shape], k=10)
    plan = _formatted_plan(df)
    # (WholeStageCodegen ids only materialize in the final adaptive plan,
    # so assert the absence of Python nodes -- the load-bearing property)
    assert not _PYTHON_NODES.search(plan), plan
    assert "AdaptiveSparkPlan" in plan  # AQE on (skew/coalesce re-planning)


def test_epoch_mix_weight_join_is_broadcast(spark, tmp_path):
    """The per-source weight table is bounded by n_sources -- joining it
    back to the corpus must be a BroadcastHashJoin (a sort-merge join
    here would shuffle the full corpus for a 20-row table)."""
    import pandas as pd

    from probe_spark.entry_queries import sample_epoch_mix

    pd.DataFrame(
        [(i, "w", "en", f"s{i % 3}", 1) for i in range(30)],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    ).to_parquet(tmp_path / "documents.parquet", index=False)
    plan = _formatted_plan(sample_epoch_mix(spark, str(tmp_path)))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_shard_manifest_single_corpus_shuffle(spark, tmp_path):
    """The manifest is ONE map-side-combinable groupBy(shard) over the
    corpus; the balance window runs over the S manifest rows only.  Plan
    must show a partial aggregate below the shard exchange (map-side
    combine) and no join at all."""
    import pandas as pd

    from probe_spark.entry_queries import pipeline_shard_manifest

    pd.DataFrame(
        [(i, "w w w", "en", "s", 1) for i in range(30)],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    ).to_parquet(tmp_path / "documents.parquet", index=False)
    plan = _formatted_plan(pipeline_shard_manifest(spark, str(tmp_path)))
    assert "Join" not in plan, plan
    # partial -> exchange -> final: the corpus-sized side combines map-side
    assert re.search(r"HashAggregate.*\n(.|\n)*Exchange", plan), plan


def test_dictionary_sorted_and_prefix_pushed_down(spark, tiny_index):
    """The term dictionary is written sorted by term, range-partitioned
    once it outgrows one file (indexer.sorted_dictionary):
    prefix_search's StringStartsWith must reach the scan's PushedFilters,
    and each file must be term-sorted, with the files' term ranges
    disjoint and ordered, so those filters actually prune."""
    from pathlib import Path

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    path, _ = tiny_index
    d = (
        spark.read.parquet(f"{path}/terms")
        .filter(F.col("term").startswith("fire"))
        .select("term", "df")
    )
    plan = _formatted_plan(d)
    assert "PushedFilters" in plan
    assert re.search(r"PushedFilters: \[.*StringStartsWith\(term", plan), plan
    # layout: each file is term-sorted (so its row groups carry tight,
    # ordered ranges) and per-file term min/max form an ordered,
    # non-overlapping chain (tiny_index's dictionary is one file; the
    # split layout is covered by test_index_layout)
    spans = []
    for f in sorted(Path(f"{path}/terms").glob("*.parquet")):
        md = pq.ParquetFile(str(f)).metadata
        if not md.num_rows:
            continue
        terms = pq.read_table(f, columns=["term"]).column("term").to_pylist()
        assert terms == sorted(terms), f
        mins, maxs = [], []
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            for i in range(rg.num_columns):
                c = rg.column(i)
                if c.path_in_schema == "term":
                    mins.append(c.statistics.min)
                    maxs.append(c.statistics.max)
        spans.append((min(mins), max(maxs)))
    assert spans
    spans.sort()
    for (lo1, hi1), (lo2, _hi2) in zip(spans, spans[1:]):
        assert lo1 <= hi1 <= lo2, spans
