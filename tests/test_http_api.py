"""HTTP REST layer over the search façades: native + ES-compatible
routes served by SearchHttpServer, driven over real loopback HTTP.

Every response must byte-match the direct façade call it fronts — the
server is a routing veneer, pinned as exactly that."""

import json
import threading
import urllib.error
import urllib.request

import pytest

from quickwit_spark.config import IndexConfig
from quickwit_spark.index.builder import build_index_pandas
from quickwit_spark.index.corpus import corpus_pandas
from quickwit_spark.search.engine import IndexSearcher
from quickwit_spark.search import es_dsl, rest
from quickwit_spark.search.http_api import SearchHttpServer


@pytest.fixture(scope="module")
def served(tmp_path_factory):
    root = tmp_path_factory.mktemp("httproot")
    for name, n in (("alpha", 150), ("beta", 40)):
        cfg = IndexConfig(index_uid=name,
                          index_dir=str(root / name))
        build_index_pandas(corpus_pandas(n, seed=7), cfg,
                           num_partitions=2)
    with SearchHttpServer(str(root)) as srv:
        yield srv, str(root)


def _get(url):
    with urllib.request.urlopen(url, timeout=30) as r:
        return r.status, json.loads(r.read().decode())


def _send(url, payload, method="POST",
          ctype="application/json"):
    data = (payload if isinstance(payload, bytes)
            else json.dumps(payload).encode())
    req = urllib.request.Request(url, data=data, method=method,
                                 headers={"Content-Type": ctype})
    with urllib.request.urlopen(req, timeout=30) as r:
        return r.status, json.loads(r.read().decode())


def test_native_search_get_and_post(served):
    srv, root = served
    st, resp = _get(f"{srv.url}/api/v1/alpha/search"
                    "?query=content:merge&max_hits=5")
    assert st == 200 and len(resp["hits"]) == 5
    direct = rest.native_search(IndexSearcher(f"{root}/alpha"),
                                {"query": "content:merge",
                                 "max_hits": 5})
    # hits are plain documents (SearchResponseRest shape)
    assert resp["hits"] == direct["hits"]

    st, post = _send(f"{srv.url}/api/v1/alpha/search",
                     {"query": "content:merge", "max_hits": 5})
    assert st == 200
    assert post["hits"] == resp["hits"]


def test_es_search_count_and_parity(served):
    srv, root = served
    body = {"query": {"match": {"content": "merge"}}, "size": 4}
    st, resp = _send(f"{srv.url}/api/v1/_elastic/alpha/_search", body)
    assert st == 200 and len(resp["hits"]["hits"]) == 4
    direct = es_dsl.es_search(IndexSearcher(f"{root}/alpha"), body)
    assert resp["hits"]["hits"] == json.loads(
        json.dumps(direct["hits"]["hits"]))

    st, cnt = _send(f"{srv.url}/api/v1/_elastic/alpha/_count",
                    {"query": {"match": {"content": "merge"}}})
    assert st == 200 and cnt["count"] == resp["hits"]["total"]["value"]


def test_es_msearch_ndjson(served):
    srv, _ = served
    nd = (json.dumps({}) + "\n"
          + json.dumps({"query": {"match": {"content": "merge"}},
                        "size": 2}) + "\n"
          + json.dumps({}) + "\n"
          + json.dumps({"query": {"match_all": {}}, "size": 1}) + "\n")
    st, resp = _send(f"{srv.url}/api/v1/_elastic/alpha/_msearch",
                     nd.encode(), ctype="application/x-ndjson")
    assert st == 200 and len(resp["responses"]) == 2
    assert len(resp["responses"][0]["hits"]["hits"]) == 2
    assert len(resp["responses"][1]["hits"]["hits"]) == 1


def test_es_admin_surfaces(served):
    srv, root = served
    # format=json is REQUIRED, like the reference (0021 step 7)
    st, cat = _get(f"{srv.url}/api/v1/_elastic/_cat/indices"
                   "?format=json")
    assert st == 200
    assert {r["index"] for r in cat} == {"alpha", "beta"}

    st, health = _get(f"{srv.url}/api/v1/_elastic/_cluster/health")
    assert st == 200 and health["status"] == "green"

    st, caps = _get(f"{srv.url}/api/v1/_elastic/beta/_field_caps")
    assert st == 200 and "content" in caps["fields"]

    st, mapping = _get(f"{srv.url}/api/v1/_elastic/beta/_mapping")
    assert st == 200 and "beta" in mapping

    st, stats = _get(f"{srv.url}/api/v1/_elastic/beta/_stats")
    assert st == 200
    assert stats["_all"]["primaries"]["docs"]["count"] == 40

    st, res = _get(f"{srv.url}/api/v1/_elastic/_resolve/index/%2A")
    assert st == 200
    assert {i["name"] for i in res["indices"]} == {"alpha", "beta"}


def test_scroll_over_http(served):
    srv, _ = served
    st, first = _send(
        f"{srv.url}/api/v1/_elastic/alpha/_search?scroll=1m",
        {"query": {"match_all": {}}, "size": 60})
    assert st == 200 and len(first["hits"]["hits"]) == 60
    sid = first["_scroll_id"]
    st, second = _send(f"{srv.url}/api/v1/_elastic/_search/scroll",
                       {"scroll_id": sid})
    assert st == 200 and len(second["hits"]["hits"]) == 60
    page1 = {h["_id"] for h in first["hits"]["hits"]}
    page2 = {h["_id"] for h in second["hits"]["hits"]}
    assert not page1 & page2

    st, cleared = _send(f"{srv.url}/api/v1/_elastic/_search/scroll",
                        {"scroll_id": sid}, method="DELETE")
    assert st == 200 and cleared["succeeded"]
    with pytest.raises(urllib.error.HTTPError) as ei:
        _send(f"{srv.url}/api/v1/_elastic/_search/scroll",
              {"scroll_id": sid})
    assert ei.value.code == 404
    assert json.loads(ei.value.read())["error"]["type"] == \
        "search_context_missing_exception"


def test_error_shapes(served):
    srv, _ = served
    # unknown index -> ES-shaped 404
    with pytest.raises(urllib.error.HTTPError) as ei:
        _send(f"{srv.url}/api/v1/_elastic/nope/_search",
              {"query": {"match_all": {}}})
    assert ei.value.code == 404
    assert json.loads(ei.value.read())["error"]["type"] == \
        "index_not_found_exception"
    # malformed JSON -> 400 parsing_exception
    with pytest.raises(urllib.error.HTTPError) as ei:
        _send(f"{srv.url}/api/v1/_elastic/alpha/_search", b"{nope",
              ctype="application/json")
    assert ei.value.code == 400
    assert json.loads(ei.value.read())["error"]["type"] == \
        "parsing_exception"
    # unknown route -> 404
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(f"{srv.url}/api/v1/alpha/unknown_verb")
    assert ei.value.code == 404
    # path traversal in the index segment -> 400, never a dir probe
    with pytest.raises(urllib.error.HTTPError) as ei:
        _get(f"{srv.url}/api/v1/_elastic/..%2F..%2Fetc/_stats")
    assert ei.value.code == 400


def test_concurrent_requests(served):
    srv, _ = served
    errs = []

    def hit():
        try:
            st, resp = _get(f"{srv.url}/api/v1/alpha/search"
                            "?query=content:merge&max_hits=3")
            assert st == 200 and len(resp["hits"]) == 3
        except Exception as e:  # surface in main thread
            errs.append(e)

    threads = [threading.Thread(target=hit) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errs


def test_read_only_rejects_mutation(served):
    srv, _ = served
    for verb, payload in (("_delete_by_query",
                           {"query": {"match_all": {}}}),
                          ("_bulk", b'{"index":{}}\n{"repo":"r"}\n')):
        with pytest.raises(urllib.error.HTTPError) as ei:
            _send(f"{srv.url}/api/v1/_elastic/alpha/{verb}", payload)
        assert ei.value.code == 403
        assert json.loads(ei.value.read())["error"]["type"] == \
            "cluster_block_exception"


def test_writable_bulk_and_delete_over_http(tmp_path):
    root = tmp_path / "wroot"
    root.mkdir()
    cfg = IndexConfig(index_uid="w", index_dir=str(root / "w"),
                      sha_col=None)
    build_index_pandas(corpus_pandas(30, seed=3), cfg,
                       num_partitions=1)
    with SearchHttpServer(str(root), writable=True,
                          configs={"w": cfg}) as srv:
        # bulk-append 4 docs over HTTP; exactly-once on replay
        lines = []
        for i in range(4):
            lines.append({"index": {"_id": f"n{i}"}})
            lines.append({"repo": "bulkrepo", "path": f"n{i}.py",
                          "commit": "c", "lang": "python",
                          "content": f"bulkmarker doc {i}"})
        nd = "".join(json.dumps(x) + "\n" for x in lines).encode()
        st, resp = _send(f"{srv.url}/api/v1/_elastic/w/_bulk", nd,
                         ctype="application/x-ndjson")
        assert st == 200 and not resp["errors"]
        st, cnt = _send(f"{srv.url}/api/v1/_elastic/w/_count",
                        {"query": {"match": {"content": "bulkmarker"}}})
        assert cnt["count"] == 4
        st, replay = _send(f"{srv.url}/api/v1/_elastic/w/_bulk", nd,
                           ctype="application/x-ndjson")
        assert st == 200
        st, cnt2 = _send(f"{srv.url}/api/v1/_elastic/w/_count",
                         {"query": {"match": {"content": "bulkmarker"}}})
        assert cnt2["count"] == 4  # replay was a no-op

        # delete them over HTTP
        st, del_resp = _send(
            f"{srv.url}/api/v1/_elastic/w/_delete_by_query",
            {"query": {"match": {"content": "bulkmarker"}}})
        assert st == 200 and del_resp["deleted"] == 4
        st, cnt3 = _send(f"{srv.url}/api/v1/_elastic/w/_count",
                         {"query": {"match": {"content": "bulkmarker"}}})
        assert cnt3["count"] == 0
        st, total = _send(f"{srv.url}/api/v1/_elastic/w/_count", {})
        assert total["count"] == 30


def test_scroll_clear_num_freed_truthful(served):
    srv, _ = served
    # bogus id: ES semantics — succeeds with num_freed 0
    st, resp = _send(f"{srv.url}/api/v1/_elastic/_search/scroll",
                     {"scroll_id": "nonsense"}, method="DELETE")
    assert st == 200
    assert resp == {"succeeded": True, "num_freed": 0}
    # scroll opened on the SECOND index clears even though the first
    # searcher is probed first (the old code 'succeeded' on alpha
    # without freeing beta's context)
    st, opened = _send(
        f"{srv.url}/api/v1/_elastic/beta/_search?scroll=1m",
        {"query": {"match_all": {}}, "size": 5})
    sid = opened["_scroll_id"]
    st, cleared = _send(f"{srv.url}/api/v1/_elastic/_search/scroll",
                        {"scroll_id": sid}, method="DELETE")
    assert cleared == {"succeeded": True, "num_freed": 1}
    with pytest.raises(urllib.error.HTTPError) as ei:
        _send(f"{srv.url}/api/v1/_elastic/_search/scroll",
              {"scroll_id": sid})
    assert ei.value.code == 404


def test_scroll_writes_nothing_into_index_dirs(served):
    """The server is read-only: opening, paging and clearing a scroll,
    sorted or not, leaves every index directory's listing unchanged."""
    import os
    srv, root = served

    def listing():
        return {d: sorted(os.listdir(os.path.join(root, d)))
                for d in sorted(os.listdir(root))}

    before = listing()
    for body in ({"query": {"match_all": {}}, "size": 5},
                 {"query": {"match_all": {}}, "size": 5,
                  "sort": [{"lang": {"order": "asc"}}]}):
        for index in ("alpha", "alpha,beta"):
            st, opened = _send(
                f"{srv.url}/api/v1/_elastic/{index}/_search?scroll=1m",
                body)
            sid = opened["_scroll_id"]
            st, nxt = _send(f"{srv.url}/api/v1/_elastic/_search/scroll",
                            {"scroll_id": sid})
            assert st == 200 and nxt["hits"]["hits"]
            st, cleared = _send(
                f"{srv.url}/api/v1/_elastic/_search/scroll",
                {"scroll_id": sid}, method="DELETE")
            assert cleared["num_freed"] == 1
    assert listing() == before


def test_global_msearch_routes_by_header_index(served):
    srv, _ = served
    nd = (json.dumps({"index": "alpha"}) + "\n"
          + json.dumps({"query": {"match_all": {}}, "size": 1}) + "\n"
          + json.dumps({"index": "beta"}) + "\n"
          + json.dumps({"query": {"match_all": {}}, "size": 1}) + "\n")
    st, resp = _send(f"{srv.url}/api/v1/_elastic/_msearch",
                     nd.encode(), ctype="application/x-ndjson")
    assert st == 200 and len(resp["responses"]) == 2
    totals = [r["hits"]["total"]["value"] for r in resp["responses"]]
    assert totals == [150, 40]  # alpha then beta, in request order
    # headerless global msearch is a loud 400
    bad = json.dumps({}) + "\n" + json.dumps({"size": 1}) + "\n"
    with pytest.raises(urllib.error.HTTPError) as ei:
        _send(f"{srv.url}/api/v1/_elastic/_msearch", bad.encode(),
              ctype="application/x-ndjson")
    assert ei.value.code == 400
