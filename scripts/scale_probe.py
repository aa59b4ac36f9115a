"""spark-submit entry point: scale-trend probe (build → merge → global →
query latency, pruned vs exhaustive).

    spark-submit --master local[32] --driver-memory 96g \
        --conf spark.ui.enabled=false \
        --py-files quickwit_spark.zip scripts/scale_probe.py \
        --docs 10000000 --partitions 256 --work-dir /tmp/qw_probe10m \
        [--skip-global] [--resume]

Extends the committed 40k/400k/1M trend (BENCH/BASELINE.md): build wall +
docs/sec, full StableLog merge-hierarchy wall, global term-partitioned
build wall, and the query-side pruned-vs-exhaustive OR comparison with the
block-skip ratio — the measured curve behind the 100x-scale claims (at
10^12 docs exhaustive evaluation grows linearly with posting length while
the block-max pruned path stays ~flat; reference behavior: tantivy
block-max WAND [public], leaf.rs:1255-1274 pruning engagement).

Prints ONE JSON line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import time


def _median3(fn) -> float:
    fn()  # warm
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        fn()
        runs.append(time.perf_counter() - t0)
    runs.sort()
    return runs[1]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, required=True)
    ap.add_argument("--partitions", type=int, default=128)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--avg-tokens", type=int, default=80)
    ap.add_argument("--skip-global", action="store_true")
    ap.add_argument("--build-only", action="store_true",
                    help="stop after the build phase and print its JSON "
                         "(for re-measuring ingest throughput alone)")
    ap.add_argument("--refresh-frac", type=float, default=0.0,
                    help="after the global build, ingest a delta of this "
                         "fraction of the corpus and time the incremental "
                         "refresh (the O(delta) publish path) against the "
                         "measured full-rebuild cost")
    ap.add_argument("--resume", action="store_true",
                    help="reuse an existing index dir (skip build/merge "
                         "timing, re-run only the query probe)")
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    spark = SparkSession.builder.appName("quickwit-spark-probe").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    cores = spark.sparkContext.defaultParallelism

    from quickwit_spark.config import IndexConfig
    from quickwit_spark.index.builder import build_index, route_partitions
    from quickwit_spark.index.corpus import corpus_df
    from quickwit_spark.index.merge import run_merges
    from quickwit_spark.search import ast as A
    from quickwit_spark.search.engine import IndexSearcher, get_reader
    from quickwit_spark.search.wand import STATS

    index_dir = os.path.join(args.work_dir, "idx")
    cfg = IndexConfig(index_uid=f"probe{args.docs}", index_dir=index_dir)
    out: dict = {"cores": cores, "docs": args.docs}

    if not args.resume:
        shutil.rmtree(index_dir, ignore_errors=True)
        df = corpus_df(spark, args.docs, seed=42,
                       num_partitions=args.partitions,
                       avg_tokens=args.avg_tokens)
        # routed layout (the 100 TB path): pre-bucketed input, the build
        # itself is a narrow shuffle-free map
        df = route_partitions(df, cfg, args.partitions).repartitionById(
            args.partitions, "_pid")
        # DISK_ONLY: at 10M+ docs a MEMORY persist pins the whole corpus
        # in driver-JVM heap (local mode) and invites the OOM killer;
        # disk-backed blocks keep the heap flat and still avoid
        # regenerating the corpus per action
        from pyspark import StorageLevel
        df = df.persist(StorageLevel.DISK_ONLY)
        n = df.count()
        out["bytes_raw"] = int(
            df.selectExpr("sum(length(content))").collect()[0][0])
        t0 = time.perf_counter()
        build_index(spark, df, cfg, num_partitions=args.partitions,
                    wave_size=args.partitions, input_routed=True)
        out["build_sec"] = round(time.perf_counter() - t0, 3)
        out["docs_per_sec"] = round(n / out["build_sec"], 1)
        out["mb_per_sec"] = round(out["bytes_raw"] / 1e6 / out["build_sec"],
                                  2)
        df.unpersist()

        if args.build_only:
            print(json.dumps(out))
            return

        t0 = time.perf_counter()
        # bound merge memory: each in-flight doc costs ~2-3 KB decoded
        # in the merge working set (80-token docs), so 12M docs in
        # flight ~= 30 GB across python workers — fits this 128 GiB
        # host and lets the two final ~5M-doc ops run CONCURRENTLY
        # instead of as serial singleton waves. On a real cluster the
        # budget is per-task (each op is one task); see run_merges.
        run_merges(index_dir, spark=spark, max_docs_in_flight=12_000_000)
        out["merge_hierarchy_sec"] = round(time.perf_counter() - t0, 3)

        if not args.skip_global:
            from quickwit_spark.index.global_index import \
                build_term_partitioned
            t0 = time.perf_counter()
            build_term_partitioned(spark, index_dir,
                                   num_term_partitions=max(
                                       32, args.partitions // 8))
            out["global_build_sec"] = round(time.perf_counter() - t0, 3)

    searcher = IndexSearcher(index_dir)
    segs = searcher.manifest.segments()
    out["segments_after_merge"] = len(segs)

    # idf-asymmetric OR: one mid-df term + the two most common terms —
    # same shape as the 400k/1M trend rows
    big = max(segs, key=lambda s: s["num_docs"])
    td = get_reader(os.path.join(index_dir, "segments", big["segment_id"]),
                    searcher.tokenizer)._cached_termdict()
    nd = int(big["num_docs"])
    mid = td[(td.doc_freq >= nd // 200) & (td.doc_freq <= nd // 50)] \
        .sort_values("doc_freq")
    heads = td.sort_values("doc_freq").iloc[-2:]["term"].tolist()
    terms = ([mid.iloc[0]["term"]] if len(mid) else ["merge"]) + heads
    q_or = A.Bool(should=tuple(A.Term("content", t) for t in terms))
    out["or_terms"] = terms

    q_term = A.FullText("content", terms[-1])
    q_and = A.Bool(must=(A.Term("content", "merge"),
                         A.Term("content", "query")))
    # disable the leaf partial-request cache for the latency probes —
    # repeat timings would otherwise measure a dict hit, not the scoring
    # path (same discipline as bench.py); its hit latency is reported
    # separately below
    from quickwit_spark.search import engine as _eng
    _leaf_cache_max = _eng.LEAF_CACHE_MAX_ENTRIES
    _eng.LEAF_CACHE_MAX_ENTRIES = 0
    _eng.clear_leaf_cache()
    out["q_term_sec"] = round(_median3(lambda: searcher.search(
        q_term, k=10, fetch_fields=False)), 4)
    out["q_and_sec"] = round(_median3(lambda: searcher.search(
        q_and, k=10, fetch_fields=False)), 4)
    out["q_or_exhaustive_sec"] = round(_median3(lambda: searcher.search(
        q_or, k=10, fetch_fields=False, count_all=True)), 4)
    STATS["blocks_decoded"] = STATS["blocks_total"] = 0
    out["q_or_pruned_sec"] = round(_median3(lambda: searcher.search(
        q_or, k=10, fetch_fields=False, count_all=False)), 4)
    _eng.LEAF_CACHE_MAX_ENTRIES = _leaf_cache_max
    if STATS["blocks_total"]:
        out["block_skip_ratio"] = round(
            1 - STATS["blocks_decoded"] / STATS["blocks_total"], 4)
    # rank identity between the two paths (the correctness side of the
    # trend claim)
    exh = searcher.search(q_or, k=10, fetch_fields=False, count_all=True)
    prn = searcher.search(q_or, k=10, fetch_fields=False, count_all=False)
    out["rank_identical"] = (
        [(h.segment_id, h.doc_id) for h in exh.hits]
        == [(h.segment_id, h.doc_id) for h in prn.hits])

    # leaf partial-request cache: cold vs warm latency + hit rate for the
    # repeat of the expensive exhaustive-count term query (the
    # dashboard-refresh shape the cache exists for)
    from quickwit_spark.search import engine as _eng
    _eng.clear_leaf_cache()
    t0 = time.perf_counter()
    searcher.search(q_term, k=10, fetch_fields=False)
    out["q_term_leafcache_cold_sec"] = round(time.perf_counter() - t0, 4)
    runs = []
    for _ in range(3):
        t0 = time.perf_counter()
        searcher.search(q_term, k=10, fetch_fields=False)
        runs.append(time.perf_counter() - t0)
    out["q_term_leafcache_warm_sec"] = round(sorted(runs)[1], 4)
    st = _eng.leaf_cache_stats()
    out["leaf_cache_hit_rate"] = round(
        st["hits"] / max(st["hits"] + st["misses"], 1), 4)

    # incremental global refresh at this scale: the O(delta) publish the
    # 10^12-doc story depends on, vs the measured full-rebuild cost
    if args.refresh_frac > 0 and os.path.isdir(
            os.path.join(index_dir, "global")):
        from quickwit_spark.index.global_index import \
            refresh_term_partitioned
        from quickwit_spark.streaming.incremental import ingest_batch
        n_delta = max(100, int(args.docs * args.refresh_frac))
        delta = corpus_df(spark, n_delta, seed=977,
                          avg_tokens=args.avg_tokens)
        ingest_batch(delta, cfg, batch_id=9001,
                     partitions_per_batch=max(2, args.partitions // 32))
        t0 = time.perf_counter()
        refresh_term_partitioned(spark, index_dir)
        out["refresh_docs"] = n_delta
        out["refresh_sec"] = round(time.perf_counter() - t0, 3)
        if "global_build_sec" in out:
            out["refresh_vs_rebuild"] = round(
                out["global_build_sec"] / out["refresh_sec"], 1)

    # global term-partitioned layout queries (the 10^12-doc query path)
    if os.path.isdir(os.path.join(index_dir, "global")):
        from quickwit_spark.index.global_index import GlobalIndexSearcher
        g = GlobalIndexSearcher(index_dir)
        out["g_or_pruned_sec"] = round(_median3(
            lambda: g.search(q_or, k=10, fetch_fields=False,
                             count_all=False)), 4)
        STATS["blocks_decoded"] = STATS["blocks_total"] = 0
        g.search(q_or, k=10, fetch_fields=False, count_all=False)
        if STATS["blocks_total"]:
            out["g_block_skip_ratio"] = round(
                1 - STATS["blocks_decoded"] / STATS["blocks_total"], 4)
        out["g_and_sec"] = round(_median3(
            lambda: g.search(q_and, k=10, fetch_fields=False)), 4)

    print(json.dumps(out))


if __name__ == "__main__":
    main()
