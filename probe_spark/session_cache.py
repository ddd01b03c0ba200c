"""Session cache: per-(session, query) result dedup (SURVEY.md S8).

The reference persists returned block keys per (session_id, md5(query)) and
filters them from later identical searches (src/search/cache.rs:30-43,
312-316,544), invalidating entries whose file content changed by comparing
a stored content md5 (src/search/cache.rs:45-56).  The web-engine analog
keys on doc_id, stores md5(text) alongside, and revalidates against the
doc store: a doc whose text changed under incremental ingest is returned
again despite being cached.  The cache is a small parquet table (on a
deployment this is an Iceberg table with MERGE INTO semantics; append +
dedup-on-read is equivalent here).
"""

from __future__ import annotations

import hashlib
from pathlib import Path

from pyspark.sql import SparkSession


def _query_hash(query: str) -> str:
    """cache.rs keys on md5 of the query string (:312-316)."""
    return hashlib.md5(query.encode("utf-8")).hexdigest()


class SessionCache:
    def __init__(
        self, spark: SparkSession, path: str, index_dir: str | None = None
    ):
        """``index_dir``: when given, cached entries are validated against
        md5(text) of the current doc store (pages_indexed) -- the analog of
        cache.rs's file-md5 invalidation.  Without it the cache degrades to
        pure doc_id dedup (legacy behavior)."""
        self.spark = spark
        self.path = str(path)
        self.index_dir = str(index_dir) if index_dir else None

    def _current_md5(self, doc_ids: list[int]) -> dict[int, str] | None:
        """md5(text) per doc_id from the doc store (term-pruned read of k
        rows; k = result-list size, tiny)."""
        if self.index_dir is None or not doc_ids:
            return None
        docs_dir = Path(self.index_dir) / "pages_indexed"
        if not docs_dir.exists():
            docs_dir = Path(self.index_dir) / "docs"
        if not docs_dir.exists():
            return None
        from pyspark.sql import functions as F

        from probe_spark.indexer import doc_text_df

        rows = (
            doc_text_df(
                self.spark,
                self.index_dir,
                self.spark.read.parquet(str(docs_dir)),
            )
            # one JVM-parsed IN expression (py4j literal conversion is
            # ~2ms/element via .isin) -- pushed BEFORE the reference-mode
            # text join, so only the k result rows hydrate
            .filter(
                F.expr(
                    "doc_id IN (%s)" % ",".join(str(int(d)) for d in doc_ids)
                )
            )
            .select("doc_id", F.md5(F.col("text")).alias("m"))
            .collect()
        )
        return {int(r["doc_id"]): r["m"] for r in rows}

    def _cached_rows(self, session_id: str, query: str) -> list[tuple[int, str | None]]:
        p = Path(self.path)
        if not p.exists() or not any(p.rglob("*.parquet")):
            return []
        qh = _query_hash(query)
        from pyspark.sql import functions as F

        df = self.spark.read.parquet(self.path)
        if "doc_md5" not in df.columns:  # pre-invalidation layout
            df = df.withColumn("doc_md5", F.lit(None).cast("string"))
        rows = (
            df.where(
                (F.col("session_id") == session_id)
                & (F.col("query_hash") == qh)
            )
            .select("doc_id", "doc_md5")
            .distinct()
            .collect()
        )
        return [(int(r["doc_id"]), r["doc_md5"]) for r in rows]

    def filter_results(
        self, session_id: str, query: str, results: list[tuple[int, float]]
    ) -> list[tuple[int, float]]:
        """Drop docs already returned for this (session, query) -- UNLESS
        their text changed since they were cached (cache.rs:45-56
        invalidation): a changed doc is live again."""
        cached = self._cached_rows(session_id, query)
        if not cached:
            return results
        current = self._current_md5([d for d, _ in cached])
        seen: set[int] = set()
        for d, m in cached:
            if current is None or m is None:
                # no doc store to validate against / legacy row: keep the
                # old pure-dedup behavior
                seen.add(d)
            elif current.get(d) == m:
                seen.add(d)
        return [(d, s) for d, s in results if d not in seen]

    def add_results(
        self, session_id: str, query: str, results: list[tuple[int, float]]
    ) -> None:
        """cache.rs:544 (add_results_to_cache), storing the current text
        md5 per doc for later invalidation."""
        if not results:
            return
        qh = _query_hash(query)
        md5s = self._current_md5([d for d, _ in results]) or {}
        df = self.spark.createDataFrame(
            [
                (session_id, qh, int(d), md5s.get(int(d)))
                for d, _ in results
            ],
            "session_id string, query_hash string, doc_id long, doc_md5 string",
        )
        df.coalesce(1).write.mode("append").parquet(self.path)
