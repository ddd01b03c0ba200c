"""SymSpell delete-neighborhood suggest lane.

The brute did-you-mean path (``SearchEngine.suggest``) runs a levenshtein
over the whole term dictionary per query -- vocabulary-sized, never
corpus-sized, but at web scale a vocabulary is tens of millions of terms
and an O(|vocab|) scan per keystroke is the wrong shape.  This module
implements the standard SymSpell bound (Garbe's symmetric-delete
algorithm, public): if ``lev(a, b) <= d`` then deleting at most ``d``
characters from each side yields a common string, so a precomputed table
of every vocabulary term's delete variants turns suggestion into

    generate the query's own <= 1 + L + L(L-1)/2 delete variants
    (driver-side, tiny) -> semi-join the bucket table -> exact
    levenshtein VERIFY on the candidate set only.

Recall is guaranteed by the delete bound; precision by the verify step,
so the lane returns bit-identical rows to the brute scan (the identity
is pinned by tests and the lane shares the brute path's DuckDB oracle in
``__spark_entry__``).  Scale shape: the bucket table is ~(1 + L +
L(L-1)/2) rows per term (~40x vocabulary at L=8 -- build-time space for
query-time work), written range-partitioned and sorted by ``variant`` so
each lookup prunes to a handful of row groups via parquet min/max
instead of scanning the dictionary.

Reference parity note: probe itself has no suggest feature; this is the
index-side service layer the web corpus needs (Lucene's
DirectSpellChecker role), built on the same terms table the reference's
ranking reads (src/ranking.rs df tables).
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from probe_spark.indexer import index_write

MANIFEST = "suggest_buckets.json"
TABLE = "suggest_buckets"

# SQL lambda, not python-side loops: one whole-stage-codegen pass emits a
# term's 1-delete array (transform over a position sequence); two applies
# give the 2-delete frontier.  substring(base, i+1) without a length arg
# is ANSI "rest of string".
_DEL1 = (
    "transform(sequence(1, length({c})), i ->"
    " concat(substring({c}, 1, i-1), substring({c}, i+1)))"
)


def delete_variants(q: str, max_dist: int) -> list[str]:
    """All strings reachable from ``q`` by deleting at most ``max_dist``
    characters (including ``q`` itself), deduped.  Driver-side: the query
    side of the symmetric-delete join is one short string."""
    frontier = {q}
    out = {q}
    for _ in range(max_dist):
        frontier = {
            s[:i] + s[i + 1 :] for s in frontier for i in range(len(s))
        } - out
        out |= frontier
    return sorted(out)


def build_suggest_buckets(
    spark: SparkSession, index_dir: str, max_dist: int = 2
) -> int:
    """Materialize the delete-neighborhood table for ``index_dir``'s term
    dictionary: rows (variant, term, df) for every delete of up to
    ``max_dist`` characters of lower(term).  Layout: range-partitioned +
    sorted by variant, so a suggest query's IN-filter lookup reads only
    the row groups whose [min, max] span a query variant.  A manifest
    beside the table records the source-index fingerprint; the engine
    disables the lane (falls back to the brute scan) when the dictionary
    changed after the build -- rerun this to refresh.  Returns the bucket
    row count."""
    import shutil

    from probe_spark.engine import index_fingerprint, parquet_rows

    p = Path(index_dir)
    # fingerprint the index BEFORE reading the dictionary: if an ingest
    # mutates terms/ while this build is running, the stored marker will
    # no longer match at load time and the table built from the old
    # dictionary is refused (fail-safe), instead of a post-build
    # fingerprint stamping the new index state onto stale buckets
    fp = _jsonable(index_fingerprint(index_dir))
    t = (
        spark.read.parquet(str(p / "terms"))
        .select(
            "term",
            F.col("df").cast("long").alias("df"),
            F.lower("term").alias("base"),
        )
    )
    levels = [t.select(F.col("base").alias("variant"), "term", "df")]
    frontier = t.select(
        F.explode(F.expr(_DEL1.format(c="base"))).alias("variant"),
        "term",
        "df",
    ).dropDuplicates(["variant", "term"])
    for _ in range(max_dist):
        levels.append(frontier)
        # expand only NON-EMPTY variants: a level-k variant of a term has
        # length len(base)-k, so levels are disjoint per term except for
        # '' regenerating itself -- with '' excluded from expansion the
        # per-level dedups make the union globally duplicate-free, and no
        # corpus-wide dropDuplicates shuffle of the ~(L^2/2)x-vocabulary
        # table is needed
        frontier = (
            frontier.filter(F.col("variant") != "")
            .select(
                F.explode(F.expr(_DEL1.format(c="variant"))).alias(
                    "variant"
                ),
                "term",
                "df",
            )
            .dropDuplicates(["variant", "term"])
        )
    buckets = levels[0]
    for lv in levels[1:]:
        buckets = buckets.unionByName(lv)
    # Pruning granularity IS the lane's value: a suggest query probes
    # ~1+L+L(L-1)/2 scattered variant points, and what it reads is
    # (points x row-group size), independent of vocabulary size.  Default
    # 128 MiB row groups make that file-sized (no better than the brute
    # scan); 8 MiB keeps each probe to ~a quarter-million rows while
    # leaving the write throughput intact (1 MiB groups tripled build
    # time for marginal extra pruning, measured at 100k terms).  Partition
    # count scales with the dictionary so per-file row-group counts stay
    # bounded at web vocabularies.
    n_parts = max(4, min(512, parquet_rows(p / "terms") // 25_000))
    # tmp-write + swap (the incremental.py terms-rewrite pattern): the
    # long distributed write lands beside the live table, the manifest is
    # unlinked only for the brief swap, and a crash at any point leaves
    # either the old or the new table WITHOUT a matching manifest --
    # never a matching manifest over half-written files
    tmp = p / (TABLE + "_tmp")
    (
        index_write(
            buckets.repartitionByRange(n_parts, "variant")
            .sortWithinPartitions("variant")
        )
        .option("parquet.block.size", str(8 << 20))
        .parquet(str(tmp))
    )
    n = parquet_rows(tmp)  # footer metadata, no Spark job
    (p / MANIFEST).unlink(missing_ok=True)
    shutil.rmtree(p / TABLE, ignore_errors=True)
    tmp.rename(p / TABLE)
    (p / MANIFEST).write_text(
        json.dumps(
            {"max_dist": int(max_dist), "rows": int(n), "fingerprint": fp}
        )
    )
    return n


def _jsonable(fp: tuple):
    """Fingerprint tuples -> the list shape json round-trips to, so the
    stored manifest compares equal to a freshly computed marker."""
    return json.loads(json.dumps(fp))


def fresh_table(index_dir: str) -> tuple[str | None, int]:
    """(table path, built_max_dist) when the table exists AND its manifest
    fingerprint matches the index's current state; (None, 0) otherwise --
    a stale lane silently yields to the always-correct brute scan rather
    than serving suggestions from a dictionary that no longer exists.
    Driver-side file reads only, no Spark job."""
    from probe_spark.engine import index_fingerprint

    p = Path(index_dir)
    mf = p / MANIFEST
    if not (p / TABLE).exists() or not mf.exists():
        return None, 0
    try:
        m = json.loads(mf.read_text())
    except (OSError, ValueError):
        return None, 0
    if m.get("fingerprint") != _jsonable(index_fingerprint(index_dir)):
        return None, 0
    return str(p / TABLE), int(m.get("max_dist", 0))


def load_if_fresh(
    spark: SparkSession, index_dir: str
) -> tuple[DataFrame | None, int]:
    """(buckets_df, built_max_dist) of the fresh_table, or (None, 0)."""
    path, max_dist = fresh_table(index_dir)
    if path is None:
        return None, 0
    return spark.read.parquet(path), max_dist
