"""spark-submit entry point: distributed index build.

    spark-submit --master local[32] \
        --py-files quickwit_spark.zip \
        scripts/build_index_job.py \
        --docs 500000 --partitions 32 --index-dir /tmp/qw_idx \
        [--input /path/to/corpus.parquet] [--merge] [--global-index]

Builds the inverted index over the synthetic source-code corpus (or a
user-supplied parquet with columns repo,path,commit,lang,content,sha256),
optionally runs the StableLog merge loop and the global term-partitioned
build, and prints one JSON line with throughput numbers (the scaling
harness parses it).
"""

from __future__ import annotations

import argparse
import json
import shutil
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=100_000)
    ap.add_argument("--partitions", type=int, default=32)
    ap.add_argument("--index-dir", required=True)
    ap.add_argument("--input", default=None,
                    help="parquet corpus path (default: synthetic)")
    ap.add_argument("--input-table", default=None,
                    help="catalog table name (e.g. an Iceberg table "
                         "'catalog.db.repos') read via spark.read.table — "
                         "the production entry point; requires the "
                         "catalog configured on the session")
    ap.add_argument("--iceberg-table", default=None,
                    help="path to an Iceberg v2 table directory read via "
                         "the built-in pure-Python connector "
                         "(quickwit_spark.sources.iceberg) — no catalog "
                         "or iceberg jar required")
    ap.add_argument("--iceberg-snapshot-id", type=int, default=None,
                    help="pin the Iceberg read to a snapshot id "
                         "(default: current)")
    ap.add_argument("--iceberg-sync", action="store_true",
                    help="with --iceberg-table: incremental CDC sync "
                         "instead of a full build — index exactly the "
                         "appended delta, retire documents the table "
                         "deleted/upserted since the last sync, advance "
                         "the source checkpoint atomically (exactly-once)")
    ap.add_argument("--avg-tokens", type=int, default=80)
    ap.add_argument("--merge", action="store_true")
    ap.add_argument("--global-index", action="store_true")
    ap.add_argument("--fresh", action="store_true",
                    help="remove index dir first (no resume)")
    ap.add_argument("--no-warm", action="store_true",
                    help="skip python-worker warmup before the timed build")
    ap.add_argument("--record", default="freq",
                    choices=["basic", "freq", "position"],
                    help="indexing regime: basic (tf=1), freq, or "
                         "position (enables phrase queries)")
    ap.add_argument("--routed-input", action="store_true",
                    help="lay the input out bucketed by routing key before "
                         "the timed build (models an Iceberg table bucketed "
                         "by doc key); the build then runs shuffle-free")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    spark = SparkSession.builder.appName("quickwit-spark-build").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism

    from quickwit_spark.config import IndexConfig
    from quickwit_spark.index.builder import build_index
    from quickwit_spark.index.corpus import corpus_df

    if args.fresh:
        shutil.rmtree(args.index_dir, ignore_errors=True)

    if args.iceberg_sync:
        if not args.iceberg_table:
            raise SystemExit("--iceberg-sync requires --iceberg-table")
        from quickwit_spark.sources.iceberg_ingest import sync_iceberg
        t0 = time.perf_counter()
        summary = sync_iceberg(spark, args.iceberg_table,
                               IndexConfig(index_uid="submit",
                                           index_dir=args.index_dir,
                                           record=args.record),
                               partitions_per_ingest=args.partitions,
                               snapshot_id=args.iceberg_snapshot_id)
        sec = time.perf_counter() - t0
        merge_sec = global_sec = None
        if args.merge:
            from quickwit_spark.index.merge import run_merges
            t0 = time.perf_counter()
            run_merges(args.index_dir, spark=spark)
            merge_sec = time.perf_counter() - t0
        if args.global_index:
            # a retirement rewrites/replaces segments, invalidating
            # rows of the existing layout — rebuild then; a pure
            # append delta takes the cheap incremental refresh
            from quickwit_spark.index.global_index import (
                GLOBAL_DIR, build_term_partitioned,
                refresh_term_partitioned)
            import os as _os
            t0 = time.perf_counter()
            have_layout = _os.path.exists(_os.path.join(
                args.index_dir, GLOBAL_DIR, "global_manifest.json"))
            if (have_layout and not summary.get("docs_retired")
                    and not summary.get("segments_rewritten")
                    and not args.merge):
                refresh_term_partitioned(spark, args.index_dir)
            else:
                build_term_partitioned(
                    spark, args.index_dir,
                    num_term_partitions=max(args.partitions, 4))
            global_sec = time.perf_counter() - t0
        print(json.dumps({"cores": cores, "sync_sec": round(sec, 3),
                          "merge_sec": merge_sec,
                          "global_sec": global_sec, **summary}))
        return

    if args.input_table:
        df = spark.read.table(args.input_table)
    elif args.iceberg_table:
        from quickwit_spark.sources.iceberg import load_table
        df = load_table(args.iceberg_table).read(
            spark, snapshot_id=args.iceberg_snapshot_id)
    elif args.input:
        df = spark.read.parquet(args.input)
    else:
        df = corpus_df(spark, args.docs, seed=42,
                       num_partitions=args.partitions,
                       avg_tokens=args.avg_tokens)
    if args.routed_input:
        from quickwit_spark.index.builder import route_partitions
        cfg0 = IndexConfig(index_uid="submit", index_dir=args.index_dir)
        df = route_partitions(df, cfg0, args.partitions).repartitionById(
            args.partitions, "_pid")
    df = df.cache()
    n_docs = df.count()  # materialize: timing excludes generation/read
    if n_docs == 0:
        # sum() over zero rows is NULL: fail with a message instead of
        # 'NoneType / float' after an empty build already ran
        raise SystemExit(
            "no input rows: nothing to index (input="
            f"{args.input_table or args.input or 'synthetic'})")
    bytes_raw = df.selectExpr("sum(length(content))").collect()[0][0]

    if not args.no_warm:
        # Warm one python worker per core (imports + first-call numpy/pandas
        # init) so the timed section measures steady-state throughput, not
        # interpreter cold start. On a real cluster executors are long-lived;
        # cold start is paid once per node, not per job.
        import pandas as pd

        def _warm(it):
            from quickwit_spark.index import builder  # noqa: F401
            from quickwit_spark.functions import tokenizers as tk
            for pdf in it:
                tk.tokenize_batch(["warmUp camelCase snake_case 0xdead"] * 64)
                yield pd.DataFrame({"ok": [len(pdf)]})
        (spark.range(cores * 2, numPartitions=cores * 2)
         .mapInPandas(_warm, schema="ok long").count())

    cfg = IndexConfig(index_uid="submit", index_dir=args.index_dir,
                      record=args.record)
    t0 = time.perf_counter()
    build_index(spark, df, cfg, num_partitions=args.partitions,
                wave_size=args.partitions, input_routed=args.routed_input)
    build_sec = time.perf_counter() - t0

    merge_sec = global_sec = None
    if args.merge:
        from quickwit_spark.index.merge import run_merges
        t0 = time.perf_counter()
        run_merges(args.index_dir, spark=spark)
        merge_sec = time.perf_counter() - t0
    if args.global_index:
        from quickwit_spark.index.global_index import build_term_partitioned
        t0 = time.perf_counter()
        build_term_partitioned(spark, args.index_dir,
                               num_term_partitions=max(args.partitions, 4))
        global_sec = time.perf_counter() - t0

    print(json.dumps({
        "cores": cores,
        "docs": n_docs,
        "bytes_raw": int(bytes_raw),
        "build_sec": round(build_sec, 3),
        "docs_per_sec": round(n_docs / build_sec, 1),
        "mb_per_sec": round(bytes_raw / 1e6 / build_sec, 2),
        "merge_sec": merge_sec,
        "global_sec": global_sec,
    }))


if __name__ == "__main__":
    main()
