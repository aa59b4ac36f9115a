"""Incremental global-index refresh: appended segments must produce a
layout whose query results match a full rebuild (modulo docid-space
ordering), bound soundness must degrade gracefully when the corpus
average fieldnorm grows, and removed segments must force a rebuild."""

import json
import os

import numpy as np
import pandas as pd
import pytest

import quickwit_spark as q
from quickwit_spark.config import IndexConfig
from quickwit_spark.index.corpus import corpus_pandas
from quickwit_spark.index.global_index import (
    GlobalIndexSearcher,
    build_term_partitioned,
    refresh_term_partitioned,
)
from quickwit_spark.index.manifest import Manifest
from quickwit_spark.search import ast as A
from quickwit_spark.streaming.incremental import ingest_batch


def _mk_base(spark, tmp, avg_tokens=80):
    d = str(tmp / "idx")
    pdf = corpus_pandas(800, seed=1, avg_tokens=avg_tokens)
    cfg = IndexConfig(index_uid="gr", index_dir=d)
    q.build_index_pandas(pdf, cfg, num_partitions=4)
    build_term_partitioned(spark, d, num_term_partitions=8)
    return d, cfg


def _ingest_more(spark, cfg, seed, avg_tokens, batch_id=1):
    pdf = corpus_pandas(400, seed=seed, avg_tokens=avg_tokens)
    ingest_batch(spark.createDataFrame(pdf), cfg, batch_id=batch_id,
                 partitions_per_batch=4)


def _bool(terms, op):
    clauses = tuple(A.Term("content", t) for t in terms)
    return A.Bool(must=clauses) if op == "and" else A.Bool(should=clauses)


def _scores(res, ndigits):
    return [round(float(h.score), ndigits) for h in res.hits]


def _score_profile(g, terms, op, k=15):
    res = g.search(_bool(terms, op), k=k, fetch_fields=False)
    return res.num_hits, _scores(res, 4)


QUERIES = [(["merge", "query"], "and"), (["fetch", "codec"], "or"),
           (["get"], "or")]


def test_refresh_appends_and_matches_full_rebuild(spark, tmp_path):
    d, cfg = _mk_base(spark, tmp_path)
    _ingest_more(spark, cfg, seed=2, avg_tokens=80)
    gm = refresh_term_partitioned(spark, d)
    assert gm["refresh_count"] == 1
    assert gm["num_docs"] == 1200
    assert gm["source_manifest_version"] == \
        Manifest.load(d).data["version"]

    g = GlobalIndexSearcher(d)
    refreshed = [_score_profile(g, t, op) for t, op in QUERIES]

    # pruned path on the refreshed layout stays rank-identical
    for terms, op in QUERIES:
        res_e = g.search(_bool(terms, op), k=10, fetch_fields=False)
        res_p = g.search(_bool(terms, op), k=10, fetch_fields=False,
                         count_all=False)
        assert _scores(res_e, 5) == _scores(res_p, 5)
        assert res_p.num_hits <= res_e.num_hits

    build_term_partitioned(spark, d, num_term_partitions=8, force=True)
    g2 = GlobalIndexSearcher(d)
    rebuilt = [_score_profile(g2, t, op) for t, op in QUERIES]
    # docid SPACES differ (refresh appends, rebuild re-sorts segments),
    # so compare hit counts and the ordered score vectors
    assert refreshed == rebuilt


def test_refresh_bound_soundness_flag(spark, tmp_path):
    # longer docs in the delta -> avg fieldnorm grows -> stored ratio
    # bounds of old rows are no longer upper bounds -> searcher must
    # disable them (and still return rank-identical pruned results)
    d, cfg = _mk_base(spark, tmp_path, avg_tokens=60)
    g0 = GlobalIndexSearcher(d)
    assert g0.ratio_bounds_sound
    _ingest_more(spark, cfg, seed=3, avg_tokens=200)
    refresh_term_partitioned(spark, d)
    g = GlobalIndexSearcher(d)
    assert not g.ratio_bounds_sound
    node = _bool(["fetch", "codec"], "or")
    res_e = g.search(node, k=10, fetch_fields=False)
    res_p = g.search(node, k=10, fetch_fields=False, count_all=False)
    assert _scores(res_e, 5) == _scores(res_p, 5)


def test_refresh_shrinking_avg_keeps_ratio_bounds(spark, tmp_path):
    d, cfg = _mk_base(spark, tmp_path, avg_tokens=120)
    _ingest_more(spark, cfg, seed=4, avg_tokens=40)
    refresh_term_partitioned(spark, d)
    g = GlobalIndexSearcher(d)
    assert g.ratio_bounds_sound  # avg shrank: old bounds conservative


def test_refresh_noop_and_removed_segment_fallback(spark, tmp_path):
    d, cfg = _mk_base(spark, tmp_path)
    gm1 = refresh_term_partitioned(spark, d)  # nothing new
    assert "refresh_count" not in gm1 or gm1["refresh_count"] == 0

    # merge rewrites segments -> old ids disappear -> full rebuild
    from quickwit_spark.index.merge import run_merges
    _ingest_more(spark, cfg, seed=5, avg_tokens=80)
    run_merges(d)
    gm2 = refresh_term_partitioned(spark, d)
    assert gm2["source_manifest_version"] == \
        Manifest.load(d).data["version"]
    assert sorted(gm2["segment_ids"]) == sorted(
        s["segment_id"] for s in Manifest.load(d).segments())
    g = GlobalIndexSearcher(d)
    res = g.search(A.Term("content", "merge"), k=5)
    assert res.num_hits > 0 and len(res.hits) == 5


def test_refresh_crash_rerun_is_idempotent(spark, tmp_path):
    """Crash AFTER the refresh's parquet write but BEFORE the manifest
    commit: the delta directory is orphaned (invisible to readers), and
    re-running the same transition overwrites it — no duplicate rows."""
    d, cfg = _mk_base(spark, tmp_path)
    gm_path = os.path.join(d, "global", "global_manifest.json")
    with open(gm_path) as f:
        gm_before = f.read()

    _ingest_more(spark, cfg, seed=2, avg_tokens=80)
    refresh_term_partitioned(spark, d)
    # simulate the crash: parquet delta exists, manifest rolled back
    with open(gm_path, "w") as f:
        f.write(gm_before)

    # reader pinned to the pre-refresh manifest never sees the orphan
    g_old = GlobalIndexSearcher(d)
    assert g_old.num_docs == 800
    base_profile = [_score_profile(g_old, t, op) for t, op in QUERIES]

    # re-run converges: same transition -> same delta dir, overwritten
    gm2 = refresh_term_partitioned(spark, d)
    assert gm2["refresh_count"] == 1
    assert len(gm2["posting_dirs"]) == 2
    refresh_dirs = [n for n in os.listdir(os.path.join(d, "global"))
                    if n.startswith("postings_r")]
    assert len(refresh_dirs) == 1
    assert gm2["posting_dirs"][1] == refresh_dirs[0]

    g = GlobalIndexSearcher(d)
    after = [_score_profile(g, t, op) for t, op in QUERIES]
    # full rebuild over the same manifest = ground truth (no dup rows:
    # a duplicated posting would double tf contributions and counts)
    build_term_partitioned(spark, d, num_term_partitions=8, force=True)
    g_full = GlobalIndexSearcher(d)
    truth = [_score_profile(g_full, t, op) for t, op in QUERIES]
    assert after == truth
    assert base_profile != truth  # refresh really added docs


def test_full_rebuild_sweeps_orphan_refresh_dirs(spark, tmp_path):
    """Two-phase orphan sweep: a rebuild RECORDS refresh dirs and only
    the NEXT rebuild deletes them — a reader pinned to the just-replaced
    manifest snapshot can still drain its read set (the r3 advisor's
    reader-pinning gap)."""
    d, cfg = _mk_base(spark, tmp_path)
    orphan = os.path.join(d, "global", "postings_rdeadbeef0000")
    os.makedirs(os.path.join(orphan, "tpid=0"), exist_ok=True)
    build_term_partitioned(spark, d, num_term_partitions=8, force=True)
    # grace period: still on disk (pinned readers can finish), invisible
    # to new readers via the manifest
    assert os.path.exists(orphan)
    gm = json.load(open(os.path.join(d, "global",
                                     "global_manifest.json")))
    (base1,) = gm["posting_dirs"]
    assert base1.startswith("postings_b")
    rec = json.load(open(os.path.join(d, "global", "_orphan_dirs.json")))
    assert "postings_rdeadbeef0000" in rec["dirs"]
    assert base1 not in rec["dirs"]  # the live base is never an orphan
    # the next rebuild sweeps what the previous one recorded — and a
    # forced rebuild with identical params writes a FRESH base dir (the
    # live one is pinned by readers of the just-replaced manifest)
    build_term_partitioned(spark, d, num_term_partitions=8, force=True)
    assert not os.path.exists(orphan)
    gm2 = json.load(open(os.path.join(d, "global",
                                      "global_manifest.json")))
    (base2,) = gm2["posting_dirs"]
    assert base2 != base1
    assert os.path.exists(os.path.join(d, "global", base1))  # drains
    rec2 = json.load(open(os.path.join(d, "global", "_orphan_dirs.json")))
    assert base1 in rec2["dirs"]
    # a third rebuild may REUSE base1's name: it was recorded as an
    # orphan by rebuild 2, i.e. its drain window is over, so
    # overwriting it is exactly as safe as sweeping it — and the
    # manifest flip makes it live again atomically
    build_term_partitioned(spark, d, num_term_partitions=8, force=True)
    gm3 = json.load(open(os.path.join(d, "global",
                                      "global_manifest.json")))
    assert gm3["posting_dirs"] == [base1]
    assert os.path.exists(os.path.join(d, "global", base2))  # draining
    rec3 = json.load(open(os.path.join(d, "global", "_orphan_dirs.json")))
    assert rec3["dirs"] == [base2]
