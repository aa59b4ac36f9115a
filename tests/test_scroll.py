"""Scroll API: TTL'd contexts in one in-memory store (scroll_context.rs,
root.rs:342-373). Paging an entire result set through _scroll-shaped
calls must reproduce the one-shot ranking exactly, for one index and
for a union, in score order and under a sort."""

import sys
import threading

import numpy as np
import pytest

from quickwit_spark.config import IndexConfig
from quickwit_spark.index.builder import build_index_pandas
from quickwit_spark.index.corpus import corpus_pandas
from quickwit_spark.search import ast as A
from quickwit_spark.search import mgmt_api as M
from quickwit_spark.search.engine import IndexSearcher
from quickwit_spark.search.es_dsl import (es_clear_scroll, es_scroll,
                                          es_scroll_search, es_search)
from quickwit_spark.search.multi import UnionSearcher
from quickwit_spark.search.scroll import scroll, scroll_clear, scroll_next


@pytest.fixture(scope="module")
def idx(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("scroll")
    pdf = corpus_pandas(300, seed=9)
    cfg = IndexConfig(index_uid="sc", index_dir=str(tmp / "i"))
    build_index_pandas(pdf, cfg, num_partitions=3)
    return cfg


def test_scroll_pages_entire_result_set(idx):
    s = IndexSearcher(idx.index_dir)
    node = A.Term("content", "merge")
    full = s.search(node, k=10_000, fetch_fields=False)
    assert full.num_hits > 30
    pages = []
    res, sid = scroll(s, node, k=7, fetch_fields=False)
    while res.hits:
        pages.extend((float(np.float32(h.score)), h.segment_id, h.doc_id)
                     for h in res.hits)
        res = scroll_next(sid)
    want = [(float(np.float32(h.score)), h.segment_id, h.doc_id)
            for h in full.hits]
    assert pages == want
    scroll_clear(sid)
    with pytest.raises(KeyError):
        scroll_next(sid)


def test_scroll_ttl_expiry(idx):
    s = IndexSearcher(idx.index_dir)
    res, sid = scroll(s, "content:merge", k=5, ttl_seconds=-1.0,
                      fetch_fields=False)
    with pytest.raises(KeyError):
        scroll_next(sid)


def test_scroll_survives_new_searcher_instance(idx):
    s1 = IndexSearcher(idx.index_dir)
    res, sid = scroll(s1, "content:merge", k=5, fetch_fields=False)
    # the context holds everything paging needs: once the opening
    # searcher is gone, the id alone pages
    del s1
    nxt = scroll_next(sid)
    assert nxt.hits
    assert nxt.hits[0].doc_id != res.hits[0].doc_id or \
        nxt.hits[0].segment_id != res.hits[0].segment_id


def test_scroll_context_is_json_not_pickle(tmp_path):
    """Persisted queries (the manifest's delete tasks) are tagged-JSON
    AST, never pickle — unpickling an attacker-writable file would be
    arbitrary code execution."""
    import datetime
    import json

    import pytest

    from quickwit_spark.search import ast as A
    from quickwit_spark.search.ast import ast_from_json, ast_to_json
    node = A.Bool(
        must=(A.Term("content", "x"), A.Phrase("content", "a b", slop=2)),
        must_not=(A.Wildcard("path", "*.py"),),
        should=(A.Boost(A.TermSet("lang", ("py", "rs")), 2.5),),
        filter=(A.Range("ts", gte=datetime.datetime(2024, 1, 2, 3, 4, 5),
                        lt=10),),
        minimum_should_match=1)
    j = json.loads(json.dumps(ast_to_json(node)))  # JSON-serializable
    assert ast_from_json(j) == node
    with pytest.raises(ValueError):
        ast_from_json({"t": "__import__"})  # unknown tags never execute


def _pages(first, sid):
    """Every hit of a scroll, page by page, to exhaustion."""
    res, out = first, []
    for _ in range(1000):
        if not res.hits:
            return out
        out.extend((h.segment_id, h.doc_id, float(np.float32(h.score)))
                   for h in res.hits)
        res = scroll_next(sid)
    raise AssertionError("scroll did not end in 1000 pages")


def _mk(root, name, docs):
    doc = {"version": "0.7", "index_id": name,
           "doc_mapping": {"mode": "dynamic",
                           "dynamic_mapping": {"tokenizer": "default",
                                               "fast": True}}}
    M.create_index(str(root), doc)
    M.ingest_ndjson(M.load_index_config(f"{root}/{name}"), docs)
    return f"{root}/{name}"


@pytest.fixture(scope="module")
def tied_union(tmp_path_factory):
    """Two indexes whose uids prefix each other (`logs`, `logs-2`) and
    hold the same docs, so every score ties across them."""
    root = tmp_path_factory.mktemp("tied")
    docs = [{"w": "alpha beta", "n": i % 3} for i in range(7)] + \
        [{"w": "alpha", "n": 9}, {"w": "gamma"}]
    return [_mk(root, "logs", docs), _mk(root, "logs-2", docs)]


@pytest.mark.parametrize("union", [False, True])
@pytest.mark.parametrize("sort_by", [None, (("n", "desc"),)])
@pytest.mark.parametrize("query", ["w:alpha", "*"])
def test_scroll_pages_to_exhaustion(idx, tied_union, union, sort_by,
                                    query):
    """Each hit comes back exactly once, in the one-shot order:
    search(k=...) for score order, sort_search for a sort."""
    if union:
        s = UnionSearcher(tied_union)
    else:
        s = IndexSearcher(idx.index_dir)
        query = {"w:alpha": "content:merge"}.get(query, query)
        sort_by = sort_by and (("lang", "desc"),)
    # docs are fetched: the union's sort merge reads its keys from them
    if sort_by:
        full = s.sort_search(query, k=10_000, sort_by=sort_by)
    else:
        full = s.search(query, k=10_000)
    want = [(h.segment_id, h.doc_id, float(np.float32(h.score)))
            for h in full.hits]
    assert len(want) == full.num_hits > 3
    for k in (1, 4):
        got = _pages(*scroll(s, query, k=k, sort_by=sort_by))
        assert got == want


def test_concurrent_scroll_opens_all_page(idx):
    """Eight threads open scrolls on one index at once: every context is
    kept, so every id pages."""
    s = IndexSearcher(idx.index_dir)
    body = {"query": {"match": {"content": "merge"}}, "size": 5}
    barrier = threading.Barrier(8, timeout=60)
    sids, errors = [None] * 8, []

    def run(i):
        try:
            barrier.wait()
            sids[i] = es_scroll_search(s, body, scroll="1m")["_scroll_id"]
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(repr(e))

    ts = [threading.Thread(target=run, args=(i,)) for i in range(8)]
    old_interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)  # switch threads often: widen any race
    try:
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=120)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(old_interval)
    assert errors == []
    assert len(set(sids)) == 8
    for sid in sids:
        page = es_scroll(sid)
        assert page.get("status") != 404 and page["hits"]["hits"]
        assert es_clear_scroll(sid)["num_freed"] == 1


@pytest.mark.parametrize("union", [False, True])
def test_es_scroll_sort_matches_search(idx, union):
    """A scroll's sort is parsed like _search's: `{"_score": {}}` pages
    in the same (descending) order, and a third field is refused."""
    s = (UnionSearcher([idx.index_dir]) if union
         else IndexSearcher(idx.index_dir))
    body = {"query": {"match": {"content": "merge"}},
            "sort": [{"_score": {}}], "size": 6}
    first = es_scroll_search(s, body, scroll="1m")
    sid = first["_scroll_id"]
    ids = [h["_id"] for h in first["hits"]["hits"]]
    for _ in range(100):
        got = [h["_id"] for h in es_scroll(sid)["hits"]["hits"]]
        if not got:
            break
        ids.extend(got)
    big = es_search(s, {**body, "size": 10_000})
    assert ids == [h["_id"] for h in big["hits"]["hits"]]
    assert len(ids) == big["hits"]["total"]["value"]
    with pytest.raises(ValueError, match="at most 2"):
        es_scroll_search(s, {**body, "sort": ["_score", "lang",
                                              "_doc"]})


@pytest.mark.parametrize("union", [False, True])
def test_sorted_scroll_page_fetches_k_docs(idx, union, monkeypatch):
    """A sorted scroll pages by its cursor: page n fetches exactly the k
    docs it returns, not the (n + 1) * k rows before it."""
    s = (UnionSearcher([idx.index_dir]) if union
         else IndexSearcher(idx.index_dir))
    fetched = []
    real = IndexSearcher._fetch

    def counting(self, sids, dids, scores):
        fetched.append(len(dids))
        return real(self, sids, dids, scores)

    monkeypatch.setattr(IndexSearcher, "_fetch", counting)
    sort_by = (("lang", "asc"), ("_doc", "desc"))
    full = s.sort_search("content:merge", k=10_000, sort_by=sort_by)
    want = [(h.segment_id, h.doc_id) for h in full.hits]
    assert len(want) > 20
    res, sid = scroll(s, "content:merge", k=5, sort_by=sort_by)
    got = [(h.segment_id, h.doc_id) for h in res.hits]
    for _ in range(3):
        fetched.clear()
        res = scroll_next(sid)
        assert sum(fetched) == len(res.hits) == 5
        got.extend((h.segment_id, h.doc_id) for h in res.hits)
    assert got == want[:20]
    scroll_clear(sid)
