"""quickwit_spark — a PySpark-native inverted-index + BM25 search engine.

A from-scratch rebuild of the indexing/search core of the reference engine
(Quickwit, at /root/reference) on idiomatic PySpark: DataFrame jobs build
per-partition immutable segments of delta-encoded varint-compressed posting
lists with per-block max-score metadata; a StableLog merge policy
hierarchically merges segments; queries answer top-k BM25 with posting-list
intersection/union and block-max WAND pruning, rank-identical to the
reference semantics.

Layout:
    functions/  tokenizers (code-aware), BM25 math, hashing
    index/      corpus generator, segment builder, manifest, merge
    search/     query AST, parser, execution engine, WAND
    pipeline/   doc mapper, OTLP decoding
    sources/    Iceberg tables: read, plan, incremental ingest and sync
    streaming/  Structured Streaming micro-batch ingest (incremental.py)
"""

__version__ = "0.1.0"


# Lazy public API (keeps `import quickwit_spark` free of pyspark cost):
# exported name -> (module, attribute)
_API = {
    "IndexConfig": ("quickwit_spark.config", "IndexConfig"),
    "build_index": ("quickwit_spark.index.builder", "build_index"),
    "build_index_pandas": ("quickwit_spark.index.builder",
                           "build_index_pandas"),
    "Manifest": ("quickwit_spark.index.manifest", "Manifest"),
    "run_merges": ("quickwit_spark.index.merge", "run_merges"),
    "update_index": ("quickwit_spark.index.builder", "update_index"),
    "apply_delete_query": ("quickwit_spark.index.deletes",
                           "apply_delete_query"),
    "build_term_partitioned": ("quickwit_spark.index.global_index",
                               "build_term_partitioned"),
    "GlobalIndexSearcher": ("quickwit_spark.index.global_index",
                            "GlobalIndexSearcher"),
    "IndexSearcher": ("quickwit_spark.search.engine", "IndexSearcher"),
    "UnionSearcher": ("quickwit_spark.search.multi", "UnionSearcher"),
    "native_search": ("quickwit_spark.search.rest",
                      "native_search"),
    "parse_query": ("quickwit_spark.search.parser", "parse_query"),
    "es_to_ast": ("quickwit_spark.search.es_dsl", "es_to_ast"),
    "es_search": ("quickwit_spark.search.es_dsl", "es_search"),
    "es_msearch": ("quickwit_spark.search.es_dsl", "es_msearch"),
    "es_count": ("quickwit_spark.search.es_dsl", "es_count"),
    "es_bulk": ("quickwit_spark.search.es_dsl", "es_bulk"),
    "es_field_caps": ("quickwit_spark.search.es_dsl", "es_field_caps"),
    "es_stats": ("quickwit_spark.search.es_dsl", "es_stats"),
    "es_cat_indices": ("quickwit_spark.search.es_dsl",
                       "es_cat_indices"),
    "es_get_mapping": ("quickwit_spark.search.es_dsl",
                       "es_get_mapping"),
    "es_delete_by_query": ("quickwit_spark.search.es_dsl",
                           "es_delete_by_query"),
    "aggregate": ("quickwit_spark.search.aggregations", "aggregate"),
    "otlp_logs_to_rows": ("quickwit_spark.pipeline.otlp",
                          "otlp_logs_to_rows"),
    "otlp_spans_to_rows": ("quickwit_spark.pipeline.otlp",
                           "otlp_spans_to_rows"),
    "find_trace_ids": ("quickwit_spark.pipeline.otlp",
                       "find_trace_ids"),
}


def __getattr__(name):
    if name in _API:
        import importlib
        mod, attr = _API[name]
        return getattr(importlib.import_module(mod), attr)
    raise AttributeError(f"module 'quickwit_spark' has no attribute {name!r}")
