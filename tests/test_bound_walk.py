"""Cross-segment early-skip (bound-ordered walk with theta seeding):
top-k must be rank-identical to the exhaustive path, and segments whose
score bound cannot beat the global k-th hit must actually be skipped."""

import numpy as np
import pandas as pd
import pytest

import quickwit_spark as q
from quickwit_spark.config import IndexConfig
from quickwit_spark.search import ast as A
from quickwit_spark.search.engine import (
    IndexSearcher,
    clear_leaf_cache,
    segment_wand_bound,
)
from quickwit_spark.search.wand import STATS


def _mkdocs(n, content_fn):
    return pd.DataFrame({
        "repo": [f"r{i % 7}" for i in range(n)],
        "path": [f"f{i}.py" for i in range(n)],
        "commit": ["c"] * n,
        "lang": ["python"] * n,
        "content": [content_fn(i) for i in range(n)],
    })


@pytest.fixture(scope="module")
def skewed_idx(tmp_path_factory):
    """Segment routing by repo; repo r0's docs are short and term-dense
    (high BM25 for 'hot'), the rest long and term-sparse — so one
    segment holds all competitive docs for the 'hot' query."""
    d = str(tmp_path_factory.mktemp("bw") / "idx")
    rng = np.random.default_rng(4)

    def content(i):
        filler = " ".join(f"w{rng.integers(0, 500)}" for _ in range(200))
        if i % 7 == 0:  # repo r0: dense short docs
            return "hot hot hot value scan"
        return filler + (" hot" if i % 3 == 0 else "") + " value"
    docs = _mkdocs(700, content)
    cfg = IndexConfig(index_uid="bw", index_dir=d, text_col="content",
                      key_cols=["repo", "path", "commit"],
                      partition_cols=["repo"])
    q.build_index_pandas(docs, cfg, num_partitions=7)
    return d


def _pairs(res):
    return [(h.segment_id, h.doc_id, round(float(h.score), 5))
            for h in res.hits]


@pytest.mark.parametrize("query", [
    A.Bool(should=(A.Term("content", "hot"), A.Term("content", "value"))),
    A.Bool(must=(A.Term("content", "hot"), A.Term("content", "value"))),
    A.Term("content", "hot"),
])
def test_bound_walk_rank_identical(skewed_idx, query):
    s = IndexSearcher(skewed_idx)
    clear_leaf_cache()
    exact = s.search(query, k=10, fetch_fields=False, count_all=True)
    pruned = s.search(query, k=10, fetch_fields=False, count_all=False)
    assert _pairs(exact) == _pairs(pruned)
    # pruned may undercount, never overcount
    assert pruned.num_hits <= exact.num_hits


def test_bound_walk_skips_segments(skewed_idx):
    s = IndexSearcher(skewed_idx)
    clear_leaf_cache()
    before = STATS["segments_skipped"]
    node = A.Bool(should=(A.Term("content", "hot"),
                          A.Term("content", "value")))
    s.search(node, k=5, fetch_fields=False, count_all=False)
    assert STATS["segments_skipped"] > before


def test_bound_is_conservative(skewed_idx):
    """Every segment's bound must dominate its own best hit."""
    s = IndexSearcher(skewed_idx)
    import os
    node = A.Bool(should=(A.Term("content", "hot"),
                          A.Term("content", "value")))
    for seg in s.manifest.segments():
        seg_dir = os.path.join(skewed_idx, "segments", seg["segment_id"])
        b = segment_wand_bound(seg_dir, node, s.tokenizer, s.text_field)
        from quickwit_spark.search.engine import _segment_top_k_uncached
        cnt, top = _segment_top_k_uncached(
            seg_dir, node, 1, s.tokenizer, s.text_field, False, None)
        if len(top):
            assert b is not None and b >= float(top["score"][0]) - 1e-6


def test_and_missing_term_bounds_zero(skewed_idx):
    import os
    s = IndexSearcher(skewed_idx)
    node = A.Bool(must=(A.Term("content", "hot"),
                        A.Term("content", "zzz_not_in_corpus")))
    seg = s.manifest.segments()[0]
    seg_dir = os.path.join(skewed_idx, "segments", seg["segment_id"])
    assert segment_wand_bound(seg_dir, node, s.tokenizer,
                              s.text_field) == 0.0
    res = s.search(node, k=5, fetch_fields=False, count_all=False)
    assert res.num_hits == 0 and not res.hits


def test_randomized_equivalence_sweep(skewed_idx):
    """30 seeded random queries (1-3 terms, AND/OR/single): pruned
    bound-walk top-k must equal the exhaustive top-k on every one."""
    s = IndexSearcher(skewed_idx)
    clear_leaf_cache()
    rng = np.random.default_rng(99)
    vocab = ["hot", "value", "scan", "w1", "w17", "w333", "w42", "w7",
             "w100", "w250", "absent_zz"]
    for trial in range(30):
        nterms = int(rng.integers(1, 4))
        terms = list(rng.choice(vocab, size=nterms, replace=False))
        kind = ["or", "and", "single"][int(rng.integers(0, 3))]
        if kind == "single" or nterms == 1:
            node = A.Term("content", terms[0])
        elif kind == "and":
            node = A.Bool(must=tuple(A.Term("content", t) for t in terms))
        else:
            node = A.Bool(should=tuple(A.Term("content", t)
                                       for t in terms))
        k = int(rng.integers(1, 25))
        exact = s.search(node, k=k, fetch_fields=False, count_all=True)
        pruned = s.search(node, k=k, fetch_fields=False, count_all=False)
        assert _pairs(exact) == _pairs(pruned), (trial, terms, kind, k)


def test_explain_reports_segment_bounds(skewed_idx):
    s = IndexSearcher(skewed_idx)
    ex = s.explain(A.Bool(should=(A.Term("content", "hot"),
                                  A.Term("content", "value"))))
    assert ex["wand_prunable"]
    bounds = ex["segment_bounds"]
    assert len(bounds) == ex["segments_after_pruning"]
    vals = [b for _sid, b in bounds]
    assert vals == sorted(vals, reverse=True) and vals[0] > 0
    # non-WAND shapes report no bounds
    ex2 = s.explain(A.Phrase("content", ("hot", "value")))
    assert ex2["segment_bounds"] is None


def test_bound_is_metadata_only_blobs_lazy(skewed_idx):
    """segment_wand_bound must not read posting blobs: a segment skipped
    by the walk saved the blob I/O, not just the decode. Blobs load
    lazily on the first actual block decode."""
    from quickwit_spark.search.engine import get_reader, _READER_CACHE
    from quickwit_spark.search.wand import _make_cursors
    from quickwit_spark.index.manifest import Manifest

    m = Manifest.load(skewed_idx)
    seg = sorted(s["segment_id"] for s in m.segments())[0]
    seg_dir = f"{skewed_idx}/segments/{seg}"
    _READER_CACHE.clear()
    bound = segment_wand_bound(seg_dir, A.FullText("content", "hot"),
                               "source_code_default", "content")
    assert bound is not None and bound > 0
    reader = get_reader(seg_dir, "source_code_default")
    curs = [c for c in reader._wand_cursors.values() if c is not None]
    assert curs and all(c.docid_blob is None for c in curs)
    # first decode loads the blobs and scores correctly
    docids, scores = curs[0].decode_blocks(
        np.arange(len(curs[0].block_last)), reader.fieldnorm_ids(),
        reader.record)
    assert len(docids) > 0 and curs[0].docid_blob is not None
    assert float(scores.max()) <= bound + 1e-6
