"""Multi-index UnionSearcher: global merge order, multi-field sort
tie-breaks, cursor translation, page-based scroll."""

import pytest

from quickwit_spark.search import mgmt_api as M
from quickwit_spark.search.multi import (
    UnionSearcher, resolve_es_index_patterns)
from quickwit_spark.search.scroll import scroll, scroll_clear, scroll_next


def _mk(root, name, docs):
    doc = {"version": "0.7", "index_id": name,
           "doc_mapping": {"mode": "dynamic",
                           "dynamic_mapping": {"tokenizer": "default",
                                               "fast": True}}}
    M.create_index(str(root), doc)
    cfg = M.load_index_config(f"{root}/{name}")
    M.ingest_ndjson(cfg, docs)
    return f"{root}/{name}"


@pytest.fixture(scope="module")
def dirs(tmp_path_factory):
    root = tmp_path_factory.mktemp("union")
    d1 = _mk(root, "u1", [{"n": 1, "m": 5, "w": "alpha beta"},
                          {"n": 3, "m": 1, "w": "alpha"}])
    d2 = _mk(root, "u2", [{"n": 1, "m": 2, "w": "alpha"},
                          {"n": 2, "w": "beta"}])
    return [d1, d2]


def test_patterns():
    existing = ["gharchive-1", "gharchive-2", "other"]
    assert resolve_es_index_patterns(
        "", "gharchive-*", existing) == ["gharchive-1", "gharchive-2"]
    assert resolve_es_index_patterns(
        "", "gharchive-*,-*-2", existing) == ["gharchive-1"]
    with pytest.raises(KeyError):
        resolve_es_index_patterns("", "gharchive-*,missing", existing)
    assert resolve_es_index_patterns("", "zzz-*", existing) == []


def test_multi_field_sort_tiebreak(dirs):
    """Equal primary keys MUST fall through to the secondary sort
    field (the _KeyWrap __eq__ regression: identity comparison made
    tuple sorts ignore the second field)."""
    u = UnionSearcher(dirs)
    res = u.sort_search("*", k=10, sort_by=(("n", "asc"),
                                            ("m", "asc")))
    import json
    keys = [(json.loads(h.doc["__source"]).get("n"),
             json.loads(h.doc["__source"]).get("m"))
            for h in res.hits]
    # n=1 twice: m 2 before m 5; missing m sorts last within its n
    assert keys == [(1, 2), (1, 5), (2, None), (3, 1)]


def test_union_search_after_deep_page(dirs):
    """values+address cursors page through the union without skipping
    rows (per-index cursor translation: fetching without one starves
    deep pages)."""
    u = UnionSearcher(dirs)
    full = u.search("w:alpha", k=10)
    assert full.num_hits == 3
    page1 = u.search("w:alpha", k=1)
    h = page1.hits[0]
    page2 = u.search("w:alpha", k=2,
                     search_after=(h.score, h.segment_id, h.doc_id))
    ids = [(x.segment_id, x.doc_id) for x in page2.hits]
    want = [(x.segment_id, x.doc_id) for x in full.hits[1:]]
    assert ids == want


def test_union_scroll_pages(dirs):
    u = UnionSearcher(dirs)
    res, sid = scroll(u, "*", k=3, ttl_seconds=60,
                      sort_by=(("n", "desc"),))
    assert [h.doc["__source"] is not None for h in res.hits]
    first = [h.doc_id for h in res.hits]
    res2 = scroll_next(sid)
    assert res2.num_hits == 4 and len(res2.hits) == 1
    assert scroll_clear(sid)
    with pytest.raises(KeyError):
        scroll_next(sid)
    assert len(first) == 3


def test_union_search_fetches_only_the_winners(dirs, monkeypatch):
    """A union search merges every index's leaf parts at one root, then
    fetches the k winners' docs once, not each index's own top k."""
    from quickwit_spark.search.engine import SegmentReader
    fetched = []
    real = SegmentReader.read_docs

    def counting(self, doc_ids):
        fetched.extend(doc_ids)
        return real(self, doc_ids)

    monkeypatch.setattr(SegmentReader, "read_docs", counting)
    res = UnionSearcher(dirs).search("*", k=3)
    assert len(res.hits) == 3 and res.num_hits == 4
    assert all(h.doc for h in res.hits)
    assert len(fetched) == 3


def test_union_sorted_values_only_cursor(dirs):
    """ES values-only search_after pages a sorted union exactly (each
    index applies the strictly-after filter natively)."""
    u = UnionSearcher(dirs)
    full = u.sort_search("*", k=10, sort_by=(("n", "asc"),))
    import json as _j
    ns = [_j.loads(h.doc["__source"]).get("n") for h in full.hits]
    assert ns == [1, 1, 2, 3]
    page2 = u.sort_search("*", k=10, sort_by=(("n", "asc"),),
                          search_after=[1])
    ns2 = [_j.loads(h.doc["__source"]).get("n") for h in page2.hits]
    assert ns2 == [2, 3]
    with pytest.raises(ValueError, match="address cursors"):
        u.sort_search("*", k=2, sort_by=(("n", "asc"),),
                      search_after=[1, "seg", 0])


def test_union_search_after_uid_prefix(tmp_path):
    """Score-cursor paging where one index uid is a prefix of another
    (`logs`, `logs-2`): the root cursor filter must follow the merge's
    (uid, segment) tuple order, not the joined "uid/segment" string
    ('/' sorts after '-'), or tied hits are dropped."""
    dirs = [_mk(tmp_path, "logs", [{"w": "a"}, {"w": "b"}]),
            _mk(tmp_path, "logs-2", [{"w": "c"}, {"w": "d"}])]
    u = UnionSearcher(dirs)
    seen, cursor = [], None
    for _ in range(10):
        res = u.search("*", k=1, fetch_fields=False, search_after=cursor)
        if not res.hits:
            break
        h = res.hits[0]
        seen.append((h.segment_id, h.doc_id))
        cursor = (h.score, h.segment_id, h.doc_id)
    assert len(seen) == 4 and len(set(seen)) == 4
    assert {s.split("/", 1)[0] for s, _d in seen} == {"logs", "logs-2"}


def test_union_sorted_null_cursor_paging_ends(dirs):
    """Feeding back a hit's sort values pages to exhaustion even when a
    hit is missing the sort field (u2's doc without `m` emits a null
    cursor, which used to restart paging from the first hit)."""
    from quickwit_spark.search.es_dsl import es_search
    u = UnionSearcher(dirs)
    body = {"query": {"match_all": {}}, "sort": [{"m": {"order": "asc"}}],
            "size": 1}
    seen, cursor = [], None
    for _ in range(5):
        resp = es_search(u, {**body, "search_after": cursor}
                         if cursor is not None else body)
        hits = resp["hits"]["hits"]
        if not hits:
            break
        seen.append(hits[0]["_id"])
        cursor = hits[0]["sort"]
    else:
        raise AssertionError(f"paging did not end in 5 pages: {seen}")
    assert len(seen) == len(set(seen)) == 4


def test_union_sort_literal_dotted_key(tmp_path):
    """Docs that store a literal dotted key (`{"a.b": 3}`, kept as-is
    with expand_dots off) merge across indexes and emit cursors by
    their real value, like the nested `{"a": {"b": 2}}` shape."""
    from quickwit_spark.search.es_dsl import es_search

    def mk(name, docs):
        doc = {"version": "0.7", "index_id": name,
               "doc_mapping": {"mode": "dynamic",
                               "dynamic_mapping": {"expand_dots": False,
                                                   "fast": True}}}
        M.create_index(str(tmp_path), doc)
        M.ingest_ndjson(M.load_index_config(f"{tmp_path}/{name}"), docs)
        return f"{tmp_path}/{name}"

    u = UnionSearcher([mk("d1", [{"a.b": 3}, {"a.b": 1}]),
                       mk("d2", [{"a": {"b": 2}}, {"a": {"b": 4}}])])
    resp = es_search(u, {"query": {"match_all": {}},
                         "sort": [{"a.b": {"order": "asc"}}], "size": 4})
    assert [h["sort"] for h in resp["hits"]["hits"]] == [[1], [2], [3], [4]]
    resp = es_search(u, {"query": {"match_all": {}}, "size": 4,
                         "sort": [{"a.b": {"order": "asc"}}],
                         "search_after": [2]})
    assert [h["sort"] for h in resp["hits"]["hits"]] == [[3], [4]]


def test_union_sort_without_fetch_merges_by_field(tmp_path):
    """With fetch_fields=False the cross-index merge still orders by the
    sort field: the first two hits at k=2 are the first two at k=100,
    and the order is the fetch_fields=True order, with no docs."""
    docs = [{"w": "alpha beta", "n": i % 3} for i in range(7)]
    u = UnionSearcher([_mk(tmp_path, "logs", docs),
                       _mk(tmp_path, "logs-2", docs)])
    sort_by = (("n", "desc"),)

    def addrs(k, fetch):
        res = u.sort_search("w:alpha", k=k, sort_by=sort_by,
                            fetch_fields=fetch)
        assert all((h.doc != {}) == fetch for h in res.hits)
        return [(h.segment_id, h.doc_id) for h in res.hits]

    assert addrs(2, False) == addrs(100, False)[:2]
    assert addrs(2, False) == addrs(2, True)
    assert addrs(100, False) == addrs(100, True)


@pytest.mark.parametrize("sort_by", [(("n", "desc"),),
                                     (("m", "asc"), ("n", "desc")),
                                     (("_score", "desc"),)])
def test_union_sort_search_pages_by_next_cursor(tmp_path, sort_by):
    """A sorted union pages to exhaustion by its address cursor
    (`next_cursor`, whose segment is `uid/segment_id`): each hit comes
    back once, in the one-shot order, even where every sort value ties
    across indexes whose uids prefix each other."""
    docs = [{"w": "alpha beta", "n": i % 3, "m": i % 2} for i in range(7)] \
        + [{"w": "alpha"}]
    u = UnionSearcher([_mk(tmp_path, "logs", docs),
                       _mk(tmp_path, "logs-2", docs)])
    full = u.sort_search("w:alpha", k=100, sort_by=sort_by,
                         fetch_fields=False)
    want = [(h.segment_id, h.doc_id) for h in full.hits]
    assert len(want) == full.num_hits == 16
    got, cursor = [], None
    for _ in range(20):
        res = u.sort_search("w:alpha", k=3, sort_by=sort_by,
                            fetch_fields=False, search_after=cursor)
        if not res.hits:
            break
        got.extend((h.segment_id, h.doc_id) for h in res.hits)
        cursor = res.next_cursor
    assert got == want
