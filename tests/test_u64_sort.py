"""u64 fast-field semantics beyond i64::MAX (the reference pins sorting
such values, quickwit-search/src/tests.rs:743): storage, sort order,
range queries, and segment pruning must stay exact."""

import numpy as np
import pandas as pd

from quickwit_spark.config import IndexConfig
from quickwit_spark.index.builder import build_index_pandas
from quickwit_spark.search import ast as A
from quickwit_spark.search.engine import IndexSearcher

BIG = 2 ** 63


def _mk(tmp_path):
    vals = np.array([BIG + 5, 3, BIG + 1, 10, BIG + 9, 0],
                    dtype=np.uint64)
    pdf = pd.DataFrame({
        "repo": [f"r{i}" for i in range(6)],
        "path": [f"p{i}" for i in range(6)],
        "commit": ["c"] * 6, "lang": ["python"] * 6,
        "content": ["alpha beta"] * 6,
        "u64col": vals,
    })
    cfg = IndexConfig(index_uid="u", index_dir=str(tmp_path / "i"),
                      sha_col=None, store_cols=("u64col",))
    build_index_pandas(pdf, cfg, num_partitions=2)
    return cfg, vals


def test_u64_sort_and_range(tmp_path):
    cfg, vals = _mk(tmp_path)
    s = IndexSearcher(cfg.index_dir)
    res = s.sort_search(A.MatchAll(), k=6, sort_by=(("u64col", "desc"),))
    got = [int(h.doc["u64col"]) for h in res.hits]
    assert got == sorted((int(v) for v in vals), reverse=True)
    # range query across the i64 boundary stays exact
    r = s.search(A.Range("u64col", gte=BIG + 2), k=10, fetch_fields=True)
    assert sorted(int(h.doc["u64col"]) for h in r.hits) == [BIG + 5, BIG + 9]
    # pruning with int-exact per-segment stats never drops a live segment
    plan = s.explain(A.Range("u64col", gte=BIG + 2))
    kept_docs = plan["docs_to_consider"]
    assert r.num_hits == 2 and kept_docs >= 2


def test_prune_index_strict_bounds_past_2_53():
    """Strict range bounds near 2^53 must not over-prune: float rounding
    collapses 2^53+1 onto 2^53, so ties re-check int-exact."""
    from quickwit_spark.search import ast as A
    from quickwit_spark.search.engine import PruneIndex
    segs = [{"segment_id": "s0", "num_docs": 10, "tags": {},
             "col_stats": {"v": [0, 2 ** 53 + 1]}},
            {"segment_id": "s1", "num_docs": 10, "tags": {},
             "col_stats": {"v": [0, 2 ** 53]}}]
    pi = PruneIndex(segs, [])
    kept = [s["segment_id"]
            for s in pi.prune(A.Bool(filter=(A.Range("v", gt=2 ** 53),)),
                              [])]
    assert kept == ["s0"]  # s0's max strictly exceeds the bound
    kept2 = [s["segment_id"]
             for s in pi.prune(A.Bool(filter=(A.Range("v", lt=1),)), [])]
    assert kept2 == ["s0", "s1"]  # both have min 0 < 1


def test_u64_sort_distributed_matches_driver(tmp_path, spark,
                                            monkeypatch):
    """u64 sort keys ride the Spark fan-out as `key ^ (1 << 63)` in a
    long column (Spark has no unsigned long), which is exact: the
    distributed sort runs its leaves through _fan_out and matches the
    in-process order."""
    cfg, vals = _mk(tmp_path)
    local = IndexSearcher(cfg.index_dir)
    dist = IndexSearcher(cfg.index_dir, spark=spark, inprocess_doc_budget=0)
    fanned = []
    real = IndexSearcher._fan_out

    def spy(self, *a, **kw):
        fanned.append(1)
        return real(self, *a, **kw)

    monkeypatch.setattr(IndexSearcher, "_fan_out", spy)
    a = local.sort_search(A.MatchAll(), k=6, sort_by=(("u64col", "desc"),),
                          fetch_fields=False)
    b = dist.sort_search(A.MatchAll(), k=6, sort_by=(("u64col", "desc"),),
                         fetch_fields=False)
    assert [(h.segment_id, h.doc_id) for h in a.hits] == \
        [(h.segment_id, h.doc_id) for h in b.hits]
    assert fanned  # the leaves ran on the fan-out, not the driver


def test_u64_matched_docs_exact_through_spark(tmp_path, spark):
    """The aggregation relation carries a nullable u64 column exactly
    (decimal(20,0) over Spark): values past 2^53 keep every digit, and a
    null stays null."""
    vals = pd.array([BIG + 5, None, 2 ** 64 - 1, 3, 2 ** 53 + 1, 0],
                    dtype="UInt64")
    pdf = pd.DataFrame({
        "repo": [f"r{i}" for i in range(6)],
        "path": [f"p{i}" for i in range(6)],
        "commit": ["c"] * 6, "lang": ["python"] * 6,
        "content": ["alpha beta"] * 6, "u64col": vals,
    })
    cfg = IndexConfig(index_uid="u", index_dir=str(tmp_path / "i"),
                      sha_col=None, store_cols=("u64col",))
    build_index_pandas(pdf, cfg, num_partitions=2)
    rel = IndexSearcher(cfg.index_dir, spark=spark).matched_docs(
        A.MatchAll(), ["path", "u64col"])
    got = {r["path"]: (None if r["u64col"] is None else int(r["u64col"]))
           for r in rel.collect()}
    assert got == {f"p{i}": (None if v is pd.NA else int(v))
                   for i, v in enumerate(vals)}
