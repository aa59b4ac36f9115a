"""Distributed leaf fan-outs must return results identical to the
in-process leaf loop: sort_search (collector.rs:994-1145) and list_terms
(list_terms.rs:47-330, per-split leaf limit)."""

import os

import numpy as np
import pandas as pd
import pytest

from quickwit_spark.config import IndexConfig
from quickwit_spark.index.builder import build_index_pandas
from quickwit_spark.index.corpus import corpus_pandas
from quickwit_spark.search import ast as A
from quickwit_spark.search.engine import IndexSearcher


@pytest.fixture(scope="module")
def idx(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("dleaves")
    pdf = corpus_pandas(1200, seed=5)
    pdf["nchars"] = pdf["content"].str.len()
    cfg = IndexConfig(index_uid="dl", index_dir=str(tmp / "i"),
                      store_cols=("nchars", "lang"))
    build_index_pandas(pdf, cfg, num_partitions=6)
    return cfg


def _hits_key(res):
    return [(h.segment_id, h.doc_id, h.score) for h in res.hits]


@pytest.mark.parametrize("sort_by", [
    (("nchars", "desc"),),
    (("nchars", "asc"), ("_score", "desc")),
    (("_score", "desc"), ("_doc", "asc")),
])
def test_sort_search_distributed_identical(idx, spark, sort_by):
    local = IndexSearcher(idx.index_dir)
    dist = IndexSearcher(idx.index_dir, spark=spark, inprocess_doc_budget=0)
    node = A.Term("content", "merge")
    a = local.sort_search(node, k=15, sort_by=sort_by, fetch_fields=False)
    b = dist.sort_search(node, k=15, sort_by=sort_by, fetch_fields=False)
    assert a.num_hits == b.num_hits
    assert _hits_key(a) == _hits_key(b)


def test_sort_search_distributed_string_field(idx, spark):
    local = IndexSearcher(idx.index_dir)
    dist = IndexSearcher(idx.index_dir, spark=spark, inprocess_doc_budget=0)
    node = A.MatchAll()
    a = local.sort_search(node, k=10, sort_by=(("lang", "asc"),),
                          fetch_fields=False)
    b = dist.sort_search(node, k=10, sort_by=(("lang", "asc"),),
                         fetch_fields=False)
    assert _hits_key(a) == _hits_key(b)


def test_list_terms_distributed_and_limit_pushdown(idx, spark):
    local = IndexSearcher(idx.index_dir)
    dist = IndexSearcher(idx.index_dir, spark=spark, inprocess_doc_budget=0)
    for kw in ({}, {"start": "m", "end": "n"}, {"start": "get"},
               {"limit": 7}):
        a = local.list_terms(**kw)
        b = dist.list_terms(**kw)
        assert a == b, kw
    # per-segment pushdown still yields the true global top-limit
    full = local.list_terms(start="a", end="z", limit=10**9)
    lim = local.list_terms(start="a", end="z", limit=25)
    assert lim == full[:25]


def test_sort_search_after_pages_entire_set(idx, spark):
    """sort+search_after deep pagination: stitching pages with the
    last_sort_key cursor reproduces the one-shot ordering exactly, on
    both the in-process and distributed leaf paths."""
    for searcher in (IndexSearcher(idx.index_dir),
                     IndexSearcher(idx.index_dir, spark=spark, inprocess_doc_budget=0)):
        sort_by = (("nchars", "desc"), ("_doc", "asc"))
        node = A.Term("content", "merge")
        full = searcher.sort_search(node, k=10_000, sort_by=sort_by,
                                    fetch_fields=False)
        want = [(h.segment_id, h.doc_id) for h in full.hits]
        assert len(want) > 20
        pages, cursor = [], None
        while True:
            res = searcher.sort_search(node, k=7, sort_by=sort_by,
                                       fetch_fields=False,
                                       search_after=cursor)
            if not res.hits:
                break
            pages.extend((h.segment_id, h.doc_id) for h in res.hits)
            cursor = res.last_sort_key
        assert pages == want


def test_es_sort_search_after_round_trip(idx, spark):
    from quickwit_spark.search.es_dsl import es_search
    s = IndexSearcher(idx.index_dir)
    body = {"query": {"match": {"content": "merge"}},
            "sort": [{"nchars": {"order": "desc"}}], "size": 5}
    p1 = es_search(s, body)
    assert all("sort" in h for h in p1["hits"]["hits"])
    cursor = p1["hits"]["hits"][-1]["sort"]
    p2 = es_search(s, {**body, "search_after": cursor})
    ids1 = [h["_id"] for h in p1["hits"]["hits"]]
    ids2 = [h["_id"] for h in p2["hits"]["hits"]]
    assert not set(ids1) & set(ids2)
    # stitching matches a single size-10 request
    both = es_search(s, {**body, "size": 10})
    assert ids1 + ids2 == [h["_id"] for h in both["hits"]["hits"]]


@pytest.mark.parametrize("node", [
    A.Bool(should=(A.Term("content", "merge"), A.Term("content", "split"))),
    A.Bool(must=(A.Term("content", "merge"), A.Term("content", "index"))),
    A.Term("content", "get"),
])
def test_distributed_two_phase_seed_rank_identical(idx, spark, node):
    """count_all=False on the spark path uses the two-phase seed (largest
    segment first, its k-th score shipped into every leaf): top-k must be
    rank-identical to the exhaustive distributed and in-process paths."""
    local = IndexSearcher(idx.index_dir)
    dist = IndexSearcher(idx.index_dir, spark=spark, inprocess_doc_budget=0)
    exact = dist.search(node, k=10, fetch_fields=False, count_all=True)
    pruned = dist.search(node, k=10, fetch_fields=False, count_all=False)
    inproc = local.search(node, k=10, fetch_fields=False, count_all=False)
    assert _hits_key(exact) == _hits_key(pruned) == _hits_key(inproc)
    assert pruned.num_hits <= exact.num_hits


def test_search_many_batched_identical(idx, spark):
    """search_many: N queries in ONE fan-out must equal per-query
    search() on both counts and hit order, including a zero-hit query."""
    dist = IndexSearcher(idx.index_dir, spark=spark, inprocess_doc_budget=0)
    queries = [
        A.Term("content", "merge"),
        A.Bool(should=(A.Term("content", "split"),
                       A.Term("content", "index"))),
        A.Term("content", "zzz_absent_term"),
        A.Bool(must=(A.Term("content", "get"),),
               must_not=(A.Term("content", "merge"),)),
    ]
    batched = dist.search_many(queries, k=8, fetch_fields=False)
    single = [dist.search(q, k=8, fetch_fields=False) for q in queries]
    assert len(batched) == len(single) == 4
    for b, s in zip(batched, single):
        assert b.num_hits == s.num_hits
        assert _hits_key(b) == _hits_key(s)
    assert batched[2].num_hits == 0 and not batched[2].hits


def test_search_many_pruned_mode(idx, spark):
    dist = IndexSearcher(idx.index_dir, spark=spark, inprocess_doc_budget=0)
    queries = [A.Term("content", "merge"), A.Term("content", "split")]
    batched = dist.search_many(queries, k=5, fetch_fields=False,
                               count_all=False)
    exact = [dist.search(q, k=5, fetch_fields=False) for q in queries]
    for b, s in zip(batched, exact):
        assert _hits_key(b) == _hits_key(s)


def test_cost_based_leaf_placement(idx, spark, monkeypatch):
    """A query whose pruned segments hold fewer docs than
    inprocess_doc_budget must run in-process even with a SparkSession
    attached (root.rs:1643-1648 cost function analog); a zero budget
    pins the fan-out path for the gate."""
    node = A.Term("content", "merge")

    small = IndexSearcher(idx.index_dir, spark=spark)  # 1200 docs < budget
    calls = []
    orig = IndexSearcher._fan_out

    def spy(self, *a, **kw):
        calls.append(1)
        return orig(self, *a, **kw)

    monkeypatch.setattr(IndexSearcher, "_fan_out", spy)
    res_in = small.search(node, k=15, fetch_fields=False)
    assert not calls  # stayed in-process

    forced = IndexSearcher(idx.index_dir, spark=spark,
                           inprocess_doc_budget=0)
    res_dist = forced.search(node, k=15, fetch_fields=False)
    assert calls  # took the mapInPandas fan-out
    assert res_in.num_hits == res_dist.num_hits
    assert _hits_key(res_in) == _hits_key(res_dist)

    # a tiny budget sends even this corpus to the fan-out path
    calls.clear()
    eager = IndexSearcher(idx.index_dir, spark=spark,
                          inprocess_doc_budget=1)
    eager.search(node, k=15, fetch_fields=False)
    assert calls


def test_cost_gate_covers_all_fanout_surfaces(idx, spark, monkeypatch):
    """sort_search, list_terms, and search_many honor the same cost
    gate as search(): on a sub-budget corpus none of them launches a
    Spark job; a tiny budget restores the fan-out
    (previously only search() was gated, so an interactive sort or
    terms scan still paid ~100x job-scheduling overhead)."""
    node = A.Term("content", "merge")
    small = IndexSearcher(idx.index_dir, spark=spark)

    calls = []
    orig = IndexSearcher._fan_out

    def spy(self, *a, **kw):
        calls.append(1)
        return orig(self, *a, **kw)

    monkeypatch.setattr(IndexSearcher, "_fan_out", spy)

    class _NoJobs:
        def __getattr__(self, name):  # any Spark API use = a job risk
            raise AssertionError(f"in-process path touched spark.{name}")

    r_sort = small.sort_search(node, k=5, sort_by=(("_score", "desc"),),
                               fetch_fields=False)
    terms = small.list_terms(start="m", end="n", limit=10)
    r_many = small.search_many([node, A.Term("content", "query")], k=5,
                               fetch_fields=False)
    assert not calls and terms and r_sort.hits and len(r_many) == 2

    # belt-and-braces: the gated paths never touch the session at all
    monkeypatch.setattr(small, "spark", _NoJobs())
    small.list_terms(start="m", end="n", limit=10)
    small.sort_search(node, k=5, sort_by=(("_score", "desc"),),
                      fetch_fields=False)

    eager = IndexSearcher(idx.index_dir, spark=spark,
                          inprocess_doc_budget=1)
    e_sort = eager.sort_search(node, k=5, sort_by=(("_score", "desc"),),
                               fetch_fields=False)
    assert calls  # fan-out restored under a tiny budget
    assert _hits_key(e_sort) == _hits_key(r_sort)
    assert eager.list_terms(start="m", end="n", limit=10) == terms
