"""Sort-spec top-k (collector.rs:994-1145 semantics) and the
ConstWriteAmplification merge policy."""

import numpy as np
import pandas as pd
import pytest

from quickwit_spark.config import IndexConfig, MergePolicyConfig
from quickwit_spark.index.builder import build_index_pandas
from quickwit_spark.index.merge_policy import (
    ConstWriteAmplificationMergePolicy, MergeOperation)
from quickwit_spark.search import ast as A
from quickwit_spark.search.engine import IndexSearcher

WORDS = ["alpha", "beta", "gamma", "delta"]


def _mk(tmp_path, n=40, parts=3):
    rng = np.random.default_rng(7)
    texts, sizes = [], []
    for i in range(n):
        k = int(rng.integers(3, 12))
        toks = rng.choice(WORDS, size=k).tolist()
        texts.append(" ".join(toks))
        sizes.append(int(rng.integers(0, 500)))
    pdf = pd.DataFrame({
        "repo": [f"r{i % 5}" for i in range(n)],
        "path": [f"f{i:03d}.py" for i in range(n)],
        "commit": ["c"] * n,
        "lang": ["python"] * n,
        "content": texts,
        "size": sizes,
    })
    cfg = IndexConfig(index_uid="srt", index_dir=str(tmp_path / "idx"),
                      sha_col=None, store_cols=("size",))
    build_index_pandas(pdf, cfg, num_partitions=parts)
    return cfg, pdf


def test_sort_by_fast_field_matches_pandas(tmp_path):
    cfg, pdf = _mk(tmp_path)
    s = IndexSearcher(cfg.index_dir)
    res = s.sort_search(A.Term("content", "alpha"), k=10,
                        sort_by=(("size", "desc"),))
    got = [(h.doc["path"], h.doc["size"]) for h in res.hits]
    expect = (pdf[pdf["content"].str.contains("alpha")]
              .sort_values("size", ascending=False).head(100))
    # same size multiset for the top-10 (ties break by doc address,
    # which pandas does not model)
    assert [g[1] for g in got] == expect["size"].head(10).tolist()
    assert res.num_hits == len(expect)


def test_sort_two_fields_and_asc(tmp_path):
    cfg, pdf = _mk(tmp_path)
    s = IndexSearcher(cfg.index_dir)
    res = s.sort_search("*", k=len(pdf),
                        sort_by=(("lang", "asc"), ("size", "asc")))
    sizes = [h.doc["size"] for h in res.hits]
    assert sizes == sorted(sizes)
    with pytest.raises(ValueError):
        s.sort_search("*", k=3, sort_by=(("a", "asc"), ("b", "asc"),
                                         ("c", "asc")))


def test_sort_by_score_equals_search(tmp_path):
    cfg, _ = _mk(tmp_path)
    s = IndexSearcher(cfg.index_dir)
    q = A.Bool(should=(A.Term("content", "alpha"),
                       A.Term("content", "beta")))
    a = s.search(q, k=10, fetch_fields=False)
    b = s.sort_search(q, k=10, sort_by=(("_score", "desc"),),
                      fetch_fields=False)
    assert [(h.segment_id, h.doc_id) for h in a.hits] == \
        [(h.segment_id, h.doc_id) for h in b.hits]
    assert [round(h.score, 5) for h in a.hits] == \
        [round(h.score, 5) for h in b.hits]


def _seg(sid, docs, merge_ops=0):
    return {"segment_id": sid, "num_docs": docs,
            "num_merge_ops": merge_ops, "time_end": None}


def test_const_write_amplification_levels():
    pol = ConstWriteAmplificationMergePolicy(
        MergePolicyConfig(merge_factor=3, max_merge_factor=4))
    segs = [_seg(f"s{i}", 100) for i in range(7)]
    ops = pol.operations(segs)
    # 7 = 3 + remainder 4 (<= max_merge_factor absorbs the remainder)
    assert sorted(len(op.segments) for op in ops) == [3, 4]
    # only same-level segments merge together
    mixed = [_seg("a", 100, 0), _seg("b", 100, 0), _seg("c", 100, 1),
             _seg("d", 100, 1), _seg("e", 100, 1), _seg("f", 100, 0)]
    ops = pol.operations(mixed)
    assert len(ops) == 2
    for op in ops:
        levels = {s["num_merge_ops"] for s in op.segments}
        assert len(levels) == 1


def test_const_write_amplification_maturity():
    pol = ConstWriteAmplificationMergePolicy(
        MergePolicyConfig(merge_factor=2, max_merge_factor=3),
        max_merge_ops=2)
    segs = [_seg(f"s{i}", 100, merge_ops=2) for i in range(6)]
    assert pol.operations(segs) == []  # all mature: bounded amplification
    assert all(pol.is_mature(s) for s in segs)


def test_const_policy_deterministic_under_shuffle():
    pol = ConstWriteAmplificationMergePolicy(
        MergePolicyConfig(merge_factor=3, max_merge_factor=4))
    segs = [_seg(f"s{i}", 100 + i) for i in range(9)]
    a = [op.segment_ids() for op in pol.operations(segs)]
    b = [op.segment_ids() for op in pol.operations(segs[::-1])]
    assert a == b


def test_range_stats_segment_pruning(tmp_path):
    """Min/max stats pruning: a Range query outside a segment's bounds
    skips the segment before any file is opened (reference: split
    time_range pruning generalized to numeric fast fields)."""
    import pandas as pd
    from quickwit_spark.index.builder import build_index_pandas
    from quickwit_spark.search.engine import IndexSearcher
    from tests.oracle import prune_segments

    rows = []
    for i in range(40):
        rows.append({"repo": f"r{i}", "path": f"f{i}", "commit": "c",
                     "lang": "x", "content": f"word{i} shared",
                     "ts": 100 + i if i < 20 else 10_000 + i})
    pdf = pd.DataFrame(rows)
    cfg = IndexConfig(index_uid="pr", index_dir=str(tmp_path / "pr"),
                      sha_col=None, store_cols=("ts",))
    build_index_pandas(pdf, cfg, num_partitions=6)
    s = IndexSearcher(cfg.index_dir)
    segs = s.manifest.segments()
    assert all("ts" in seg["col_stats"] for seg in segs)

    node = s.parse("ts:>20000")  # beyond every segment's max
    assert prune_segments(segs, node, s.tag_fields) == []
    node2 = s.parse("ts:[100 TO 200]")
    kept = prune_segments(segs, node2, s.tag_fields)
    # only segments whose min <= 200 survive
    assert 0 < len(kept) <= len(segs)
    assert all(seg["col_stats"]["ts"][0] <= 200 for seg in kept)
    # correctness unchanged: query answers match full evaluation
    r = s.search(A.Bool(must=(A.Term("content", "shared"),),
                        filter=(A.Range("ts", gte=10_000),)), k=50,
                 fetch_fields=True)
    assert {h.doc["repo"] for h in r.hits} == {f"r{i}" for i in range(20, 40)}


def test_merge_unions_col_stats(tmp_path):
    import pandas as pd
    from quickwit_spark.config import MergePolicyConfig
    from quickwit_spark.index.builder import build_index_pandas
    from quickwit_spark.index.merge import run_merges
    from quickwit_spark.index.merge_policy import StableLogMergePolicy
    from quickwit_spark.index.manifest import Manifest
    pdf = pd.DataFrame({
        "repo": [f"r{i}" for i in range(30)],
        "path": [f"f{i}" for i in range(30)],
        "commit": ["c"] * 30, "lang": ["x"] * 30,
        "content": ["a b c"] * 30,
        "ts": list(range(1000, 1030)),
    })
    cfg = IndexConfig(index_uid="mu", index_dir=str(tmp_path / "mu"),
                      sha_col=None, store_cols=("ts",))
    build_index_pandas(pdf, cfg, num_partitions=4)
    run_merges(cfg.index_dir, policy=StableLogMergePolicy(
        MergePolicyConfig(merge_factor=2, max_merge_factor=4,
                          min_level_num_docs=1)))
    segs = Manifest.load(cfg.index_dir).segments()
    los = min(s["col_stats"]["ts"][0] for s in segs)
    his = max(s["col_stats"]["ts"][1] for s in segs)
    assert (los, his) == (1000.0, 1029.0)


def test_partition_cols_cluster_segments_for_pruning(tmp_path):
    """Routing by a partition expression (reference partition_key,
    routing_expression/mod.rs) co-locates same-valued docs, making tag
    pruning actually drop segments."""
    import pandas as pd
    from quickwit_spark.index.builder import build_index_pandas
    from quickwit_spark.search.engine import IndexSearcher
    from tests.oracle import prune_segments
    langs = ["go", "rust", "java", "py"]
    pdf = pd.DataFrame({
        "repo": [f"r{i}" for i in range(80)],
        "path": [f"f{i}" for i in range(80)],
        "commit": ["c"] * 80,
        "lang": [langs[i % 4] for i in range(80)],
        "content": ["alpha beta"] * 80,
    })
    cfg = IndexConfig(index_uid="rt", index_dir=str(tmp_path / "rt"),
                      sha_col=None, partition_cols=("lang",))
    build_index_pandas(pdf, cfg, num_partitions=16)
    s = IndexSearcher(cfg.index_dir)
    segs = s.manifest.segments()
    # every segment is single-language (value-routed)
    assert all(len(g["tags"]["lang"]) == 1 for g in segs)
    node = s.parse("lang:rust alpha")
    kept = prune_segments(segs, node, s.tag_fields)
    assert 0 < len(kept) < len(segs)
    assert all(g["tags"]["lang"] == ["rust"] for g in kept)
    # results correct
    r = s.search(node, k=100, fetch_fields=True)
    assert r.num_hits == 20
    assert all(h.doc["lang"] == "rust" for h in r.hits)


def test_sorted_early_exit_identical_topk(tmp_path, monkeypatch):
    """count_all=False sorted search visits segments best-bound-first
    and stops early — same top-k, fewer segments opened (the reference's
    split time-range ordering for 'newest k' queries)."""
    import numpy as np
    import pandas as pd
    from quickwit_spark.config import IndexConfig
    from quickwit_spark.index.builder import build_index_pandas
    from quickwit_spark.search import ast as A
    from quickwit_spark.search import engine as E

    n = 400
    pdf = pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": ["event common"] * n,
        # ts clusters by partition when routed on ts_bucket
        "ts_bucket": (np.arange(n) // 100).astype(np.int64),
        "ts": np.arange(n, dtype=np.int64),
    })
    cfg = IndexConfig(index_uid="srt", index_dir=str(tmp_path / "i"),
                      key_cols=("doc_id",), text_col="text",
                      tokenizer="default", tag_cols=(), sha_col=None,
                      store_cols=("ts", "ts_bucket"),
                      partition_cols=("ts_bucket",))
    build_index_pandas(pdf, cfg, num_partitions=4)
    s = E.IndexSearcher(cfg.index_dir)
    assert len(s.manifest.segments()) >= 3

    calls = []
    real = E.segment_sort_top_k

    def counting(seg_dir, *a, **kw):
        calls.append(seg_dir)
        return real(seg_dir, *a, **kw)

    monkeypatch.setattr(E, "segment_sort_top_k", counting)
    exact = s.sort_search(A.Term("text", "event"), k=10,
                          sort_by=(("ts", "desc"),), fetch_fields=False)
    n_exact_calls = len(calls)
    calls.clear()
    fast = s.sort_search(A.Term("text", "event"), k=10,
                         sort_by=(("ts", "desc"),), fetch_fields=False,
                         count_all=False)
    n_fast_calls = len(calls)
    assert [(h.segment_id, h.doc_id) for h in fast.hits] == \
        [(h.segment_id, h.doc_id) for h in exact.hits]
    assert n_fast_calls < n_exact_calls  # actually skipped segments
    assert fast.num_hits <= exact.num_hits
    # ascending direction too
    calls.clear()
    exact_a = s.sort_search(A.Term("text", "event"), k=10,
                            sort_by=(("ts", "asc"),), fetch_fields=False)
    calls.clear()
    fast_a = s.sort_search(A.Term("text", "event"), k=10,
                           sort_by=(("ts", "asc"),), fetch_fields=False,
                           count_all=False)
    assert [(h.segment_id, h.doc_id) for h in fast_a.hits] == \
        [(h.segment_id, h.doc_id) for h in exact_a.hits]
    assert len(calls) < n_exact_calls
