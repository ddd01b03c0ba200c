"""probe_spark: a PySpark-native inverted-index + BM25 engine with the
query and ranking semantics of probelabs/probe (see SURVEY.md).

Public API:

    from probe_spark import build_index, SearchEngine
"""

__version__ = "0.1.0"

__all__ = [
    "build_index",
    "SearchEngine",
    "get_spark",
]


def __getattr__(name):
    # lazy imports keep `import probe_spark` free of a pyspark dependency
    # for the pure-Python parity kernel (textkit/elastic/oracle)
    if name == "build_index":
        from probe_spark.indexer import build_index

        return build_index
    if name == "SearchEngine":
        from probe_spark.engine import SearchEngine

        return SearchEngine
    if name == "get_spark":
        from probe_spark.session import get_spark

        return get_spark
    raise AttributeError(name)
