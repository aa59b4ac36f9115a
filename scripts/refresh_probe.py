"""spark-submit entry point: incremental global-refresh probe.

Measures the publish path the 10^12-doc story depends on: after a base
corpus's full term-partitioned build, publishing a small delta must cost
O(delta), not O(corpus) — refresh_term_partitioned appends the new
segments' rows to a content-addressed delta directory instead of
re-shuffling the entire vocabulary.

    spark-submit --master local[32] --conf spark.ui.enabled=false \
        --py-files quickwit_spark.zip scripts/refresh_probe.py \
        --docs 1000000 --delta-frac 0.05 --partitions 64 \
        --work-dir /tmp/qw_refresh

Reports full-build wall, refresh wall, a post-refresh FULL rebuild wall
(the cost refresh avoids), and verifies the refreshed layout answers
queries rank-identically to that rebuild. Prints ONE JSON line.
"""

from __future__ import annotations

import argparse
import json
import shutil
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, required=True)
    ap.add_argument("--delta-frac", type=float, default=0.05)
    ap.add_argument("--partitions", type=int, default=64)
    ap.add_argument("--avg-tokens", type=int, default=80)
    ap.add_argument("--work-dir", required=True)
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    spark = SparkSession.builder.appName("qw-refresh-probe").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    from quickwit_spark.config import IndexConfig
    from quickwit_spark.index.builder import build_index
    from quickwit_spark.index.corpus import corpus_df
    from quickwit_spark.index.global_index import (
        GlobalIndexSearcher,
        build_term_partitioned,
        refresh_term_partitioned,
    )
    from quickwit_spark.streaming.incremental import ingest_batch

    shutil.rmtree(args.work_dir, ignore_errors=True)
    cfg = IndexConfig(index_uid="refresh-probe", index_dir=args.work_dir)

    base = corpus_df(spark, args.docs, seed=42, avg_tokens=args.avg_tokens)
    t0 = time.perf_counter()
    build_index(spark, base, cfg, num_partitions=args.partitions)
    base_build_sec = time.perf_counter() - t0

    t0 = time.perf_counter()
    build_term_partitioned(spark, args.work_dir)
    full_build_sec = time.perf_counter() - t0

    n_delta = max(1, int(args.docs * args.delta_frac))
    delta = corpus_df(spark, n_delta, seed=977,
                      avg_tokens=args.avg_tokens)
    delta_parts = max(1, args.partitions // 16)
    ingest_batch(delta, cfg, batch_id=7,
                 partitions_per_batch=delta_parts)

    t0 = time.perf_counter()
    gm = refresh_term_partitioned(spark, args.work_dir)
    refresh_sec = time.perf_counter() - t0
    assert gm["refresh_count"] == 1, gm

    import numpy as np

    from quickwit_spark.search import ast as A

    def _keys(searcher, terms, op, count_all=True):
        # refresh appends new segments to the END of the docid space
        # while a rebuild re-sorts all segment ids, so compare hits by
        # their stable (segment_id, local_doc) address + exact f32 score
        clauses = tuple(A.Term(searcher.text_field, t) for t in terms)
        node = A.Bool(must=clauses) if op == "and" else \
            A.Bool(should=clauses)
        res = searcher.search(node, k=10, fetch_fields=False,
                              count_all=count_all)
        return [(h.segment_id, h.doc_id, float(np.float32(h.score)))
                for h in res.hits]

    queries = [(["merge", "query"], "or"), (["get", "fetch"], "and"),
               (["codec"], "or")]
    g = GlobalIndexSearcher(args.work_dir)
    refreshed = [_keys(g, t, op) for t, op in queries]
    pruned = [_keys(g, t, op, count_all=False) for t, op in queries]

    # the cost the refresh avoided: a full rebuild over the same manifest
    t0 = time.perf_counter()
    build_term_partitioned(spark, args.work_dir, force=True)
    rebuild_sec = time.perf_counter() - t0
    g2 = GlobalIndexSearcher(args.work_dir)
    truth = [_keys(g2, t, op) for t, op in queries]
    # docid-order tie-breaks legitimately differ between the two docid
    # spaces: the score lists must be identical, and the hit addresses
    # must match for every score strictly above the k-th (docs TIED at
    # the boundary are interchangeable — either layout may pick any of
    # them, exactly like the reference's address tie-break)
    def _tie_aware_equal(r, t_):
        rs, ts = [x[2] for x in r], [x[2] for x in t_]
        if rs != ts:
            return False
        if not rs:
            return True
        boundary = rs[-1]
        return (sorted(x for x in r if x[2] != boundary)
                == sorted(x for x in t_ if x[2] != boundary))

    rank_identical = all(_tie_aware_equal(r, t_)
                         for r, t_ in zip(refreshed, truth))
    pruned_identical = all(_tie_aware_equal(p, t_)
                           for p, t_ in zip(pruned, truth))

    print(json.dumps({
        "docs": args.docs,
        "delta_docs": n_delta,
        "base_build_sec": round(base_build_sec, 2),
        "global_full_build_sec": round(full_build_sec, 2),
        "refresh_sec": round(refresh_sec, 2),
        "rebuild_after_delta_sec": round(rebuild_sec, 2),
        "refresh_speedup_vs_rebuild": round(rebuild_sec / refresh_sec, 1)
        if refresh_sec else None,
        "rank_identical_vs_rebuild": rank_identical,
        "pruned_rank_identical": pruned_identical,
        "ratio_bounds_sound_after_refresh": bool(g.ratio_bounds_sound),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
