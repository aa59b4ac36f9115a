"""The in-process search path: leaf partials are structured arrays, the
root merge is one lexsort, and a warm search or sort_search builds no
pandas DataFrame.

Also pins the root merge order (score desc, then segment_id desc, then
doc_id desc; max_score taken before the offset slice) and that query
analysis is memoized per request, never across requests.
"""

import numpy as np
import pandas as pd
import pytest

from quickwit_spark.config import IndexConfig
from quickwit_spark.functions import tokenizers
from quickwit_spark.index.builder import build_index_pandas
from quickwit_spark.index.corpus import corpus_pandas
from quickwit_spark.search import ast as A
from quickwit_spark.search import engine
from quickwit_spark.search.engine import (PARTIAL_DTYPE, IndexSearcher,
                                          _partial, clear_leaf_cache)


@pytest.fixture(scope="module")
def idx(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("scorepath") / "idx")
    build_index_pandas(corpus_pandas(1500, seed=5),
                       IndexConfig(index_uid="sp", index_dir=d,
                                   record="position"),
                       num_partitions=3)
    return d


def _dump(res):
    return (res.num_hits, res.max_score,
            [(h.score, h.segment_id, h.doc_id, h.doc) for h in res.hits])


def _run_all(s: IndexSearcher) -> list:
    """Every score-path shape once: term, AND, OR exact and pruned
    (the cross-segment bound walk), NOT, phrase, tag filter, offset, a
    search_after page, sort_search by a fast field, by two keys with a
    search_after page and by a string key, and search_many."""
    out = []
    for q, kw in [("session", {}),
                  ("session AND time", {}),
                  ("session OR fetch OR sort", {"count_all": True}),
                  ("session OR fetch OR sort", {"count_all": False}),
                  ("session -time", {}),
                  ('"meta sort"', {}),
                  ("session AND lang:python", {}),
                  ("session", {"offset": 5}),
                  ("session", {"fetch_fields": False})]:
        out.append(_dump(s.search(q, k=10, **kw)))
    first = s.search("fetch", k=4)
    out.append(_dump(first))
    out.append(_dump(s.search("fetch", k=4,
                              search_after=first.next_cursor)))
    out.append(_dump(s.sort_search("session", k=6,
                                   sort_by=(("fieldnorm", "desc"),))))
    two = (("lang", "asc"), ("fieldnorm", "desc"))
    first = s.sort_search("session OR fetch", k=5, sort_by=two)
    out.append(_dump(first))
    out.append(_dump(s.sort_search("session OR fetch", k=5, sort_by=two,
                                   search_after=first.next_cursor)))
    out.append(_dump(s.sort_search("fetch", k=5,
                                   sort_by=(("path", "desc"),))))
    out.append([_dump(r) for r in s.search_many(
        ["session", "fetch AND sort", "time -session"], k=6)])
    return out


def test_warm_search_builds_no_dataframe(idx, monkeypatch):
    s = IndexSearcher(idx)
    assert len(s.manifest.segments()) == 3
    _run_all(s)  # warm the readers
    clear_leaf_cache()
    expected = _run_all(s)
    # every shape matched something, so each one ran its whole path
    assert all(r[0] > 0 and r[2] for r in expected[:-1])
    assert all(r[0] > 0 for r in expected[-1])

    def no_frames(self, *a, **kw):
        raise AssertionError("pandas DataFrame built on the search path")

    monkeypatch.setattr(pd.DataFrame, "__init__", no_frames)
    clear_leaf_cache()
    assert _run_all(s) == expected  # leaves computed
    assert _run_all(s) == expected  # leaves served from the leaf cache


def test_leaf_partial_dtype(idx):
    s = IndexSearcher(idx)
    seg = s.manifest.segments()[0]
    seg_dir = f"{idx}/segments/{seg['segment_id']}"
    cnt, top = engine.segment_top_k(seg_dir, A.Term("content", "session"),
                                    5, s.tokenizer, s.text_field)
    assert top.dtype == PARTIAL_DTYPE and 0 < len(top) <= 5 <= cnt
    order = np.lexsort((-top["doc_id"], -top["score"]))
    assert order.tolist() == list(range(len(top)))


def test_root_merge_order(idx):
    s = IndexSearcher(idx)
    # "seg-a" is a prefix of "seg-ab"; scores tie across segments and
    # within one segment
    parts = [
        ("seg-a", 3, _partial([5, 3, 9], [2.0, 2.0, 1.0])),
        ("seg-ab", 2, _partial([7, 1], [3.0, 2.0])),
        ("seg-b", 2, _partial([4, 2], [2.0, 0.5])),
        ("seg-c", 4, _partial([], [])),
    ]
    expected = [(3.0, "seg-ab", 7), (2.0, "seg-b", 4), (2.0, "seg-ab", 1),
                (2.0, "seg-a", 5), (2.0, "seg-a", 3), (1.0, "seg-a", 9),
                (0.5, "seg-b", 2)]
    assert expected == sorted(expected, reverse=True)

    def merged(k, offset):
        res = s._merge_and_fetch(parts, k, offset, fetch_fields=False)
        assert res.num_hits == 11
        assert all(h.doc == {} for h in res.hits)
        return res, [(h.score, h.segment_id, h.doc_id) for h in res.hits]

    res, hits = merged(10, 0)
    assert hits == expected and res.max_score == 3.0
    res, hits = merged(3, 2)
    assert hits == expected[2:5]
    assert res.max_score == 3.0  # the best overall, not after the offset
    res, hits = merged(5, 10)
    assert hits == [] and res.max_score == 3.0
    empty = s._merge_and_fetch([("seg-c", 4, _partial([], []))], 10, 0,
                               fetch_fields=False)
    assert empty.num_hits == 4 and empty.hits == []


def test_query_analyzed_once_per_request(idx, monkeypatch):
    s = IndexSearcher(idx)
    calls = []
    real = engine.tokenize_one

    def counting(text, analyzer="source_code_default", **kw):
        calls.append((text, analyzer))
        return real(text, analyzer=analyzer, **kw)

    monkeypatch.setattr(engine, "tokenize_one", counting)
    clear_leaf_cache()
    node = A.FullText("content", "session time", operator="and")
    res = s.search(node, k=5)
    assert res.num_hits > 0
    assert calls == [("session time", s.tokenizer)]  # 3 segments, 1 call
    clear_leaf_cache()
    s.search(node, k=5)
    assert len(calls) == 2  # a new request analyzes again


def test_reregistered_analyzer_changes_next_search(tmp_path):
    name = "score_path_swap"
    tokenizers.register_custom_analyzer(name, "simple",
                                        filters=("lower_caser",))
    try:
        d = str(tmp_path / "idx")
        pdf = pd.DataFrame({
            "repo": ["r"] * 4, "path": [f"p{i}" for i in range(4)],
            "commit": ["c"] * 4, "lang": ["go"] * 4,
            "content": ["Alpha beta", "alpha gamma", "delta", "ALPHA"]})
        build_index_pandas(pdf, IndexConfig(index_uid="swap", index_dir=d,
                                            tokenizer=name, sha_col=None),
                           num_partitions=2)
        s = IndexSearcher(d)
        q = A.FullText("content", "ALPHA")
        assert s.search(q, k=10).num_hits == 3
        # the same name now keeps case: the query token is "ALPHA" and
        # the index holds only lowercased terms
        tokenizers.register_custom_analyzer(name, "simple", filters=())
        assert s.search(q, k=10).num_hits == 0
    finally:
        tokenizers._CUSTOM_ANALYZERS.pop(name, None)
