"""spark-submit / CLI entry point: query an index.

    python scripts/search_job.py --index-dir /tmp/idx \
        --query 'lang:python content:"quick sort"~1' [--k 10] \
        [--sort n_chars:desc] [--count-only] [--es-body '{"query": ...}'] \
        [--global-layout] [--wand]

Single-node by default (the reference's `quickwit index search` CLI,
cli/src/index.rs); run under spark-submit with --distributed to fan leaf
search out over executors. Prints one JSON document per invocation.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

# allow running from a checkout without installation (build_index_job.py
# relies on --py-files; this CLI also works standalone)
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index-dir", required=True)
    ap.add_argument("--query", default="*")
    ap.add_argument("--k", type=int, default=10)
    ap.add_argument("--sort", default=None,
                    help="field:asc|desc[,field2:dir] (<=2 fields)")
    ap.add_argument("--count-only", action="store_true")
    ap.add_argument("--es-body", default=None,
                    help="raw ES _search JSON body (overrides --query)")
    ap.add_argument("--global-layout", action="store_true",
                    help="query the term-partitioned global layout "
                         "(term AND/OR queries over the text field)")
    ap.add_argument("--wand", action="store_true",
                    help="block-max pruned top-k (count becomes a "
                         "lower bound for OR)")
    ap.add_argument("--distributed", action="store_true",
                    help="fan leaf search out via a SparkSession")
    args = ap.parse_args()

    spark = None
    if args.distributed and not args.global_layout:
        # the global-layout query path is driver-side parquet pushdown
        # (O(#terms) partitions); a session would sit unused
        from pyspark.sql import SparkSession
        spark = SparkSession.builder.appName("quickwit-spark-search") \
            .getOrCreate()
        spark.sparkContext.setLogLevel("ERROR")

    if args.global_layout:
        from quickwit_spark.index.global_index import GlobalIndexSearcher
        s = GlobalIndexSearcher(args.index_dir)
    else:
        from quickwit_spark.search.engine import IndexSearcher
        s = IndexSearcher(args.index_dir, spark=spark)
    if args.es_body:
        from quickwit_spark.search.es_dsl import es_search
        print(json.dumps(es_search(s, json.loads(args.es_body))))
        return
    if args.count_only:
        print(json.dumps({"count": s.count(args.query)}))
        return
    if args.sort:
        sort_by = []
        for part in args.sort.split(","):
            f, _, d = part.partition(":")
            d = d or "asc"
            if d not in ("asc", "desc"):
                raise SystemExit(
                    f"bad sort direction {d!r} (asc|desc)")
            sort_by.append((f, d))
        res = s.sort_search(args.query, k=args.k,
                            sort_by=tuple(sort_by))
    else:
        res = s.search(args.query, k=args.k,
                       count_all=not args.wand)
    print(json.dumps({
        "num_hits": res.num_hits,
        "hits": [{"segment_id": h.segment_id, "doc_id": h.doc_id,
                  "score": h.score, "doc": {k: str(v) for k, v in
                                            h.doc.items()}}
                 for h in res.hits]}))


if __name__ == "__main__":
    main()
