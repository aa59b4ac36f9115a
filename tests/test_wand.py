"""Block-max WAND correctness: pruned top-k must be identical (scores,
tie order) to the exhaustive path, while actually skipping blocks."""

import numpy as np
import pytest

from quickwit_spark.config import IndexConfig
from quickwit_spark.index.builder import build_index_pandas
from quickwit_spark.index.corpus import corpus_pandas
from quickwit_spark.search import ast as A
from quickwit_spark.search import wand
from quickwit_spark.search.engine import IndexSearcher


@pytest.fixture(scope="module")
def idx(tmp_path_factory):
    tmp = tmp_path_factory.mktemp("wand")
    # enough docs that head terms span many 128-doc blocks
    pdf = corpus_pandas(4000, seed=42)
    cfg = IndexConfig(index_uid="wand", index_dir=str(tmp / "w"))
    build_index_pandas(pdf, cfg, num_partitions=1)
    return cfg


def _pick_terms(cfg):
    """Data-driven: (head term with many blocks, rare term with few)."""
    import os
    import pyarrow.parquet as pq
    from quickwit_spark.index.manifest import Manifest
    seg = Manifest.load(cfg.index_dir).segments()[0]
    td = pq.read_table(os.path.join(cfg.index_dir, "segments",
                                    seg["segment_id"], "termdict.parquet")
                       ).to_pandas()
    head = td.sort_values("doc_freq").iloc[-1]["term"]
    rare = td[(td["doc_freq"] >= 2) & (td["doc_freq"] <= 5)].iloc[0]["term"]
    return head, rare


def _query_set():
    qs = []
    heads = ["value", "get", "set", "key", "merge", "index"]
    tails = ["snapshot", "rollback", "backoff", "whatever_rare"]
    for h in heads[:4]:
        qs.append(A.FullText("content", h))
    for h, t in zip(heads, tails):
        qs.append(A.Bool(must=(A.Term("content", h),
                               A.Term("content", t))))
        qs.append(A.Bool(should=(A.Term("content", h),
                                 A.Term("content", t))))
    qs.append(A.Bool(should=tuple(
        A.Term("content", t) for t in heads)))
    qs.append(A.Bool(must=tuple(
        A.Term("content", t) for t in heads[:3])))
    return qs


@pytest.mark.parametrize("k", [10, 50])
def test_wand_rank_identical(idx, k):
    searcher = IndexSearcher(idx.index_dir)
    for qi, node in enumerate(_query_set()):
        exact = searcher.search(node, k=k, fetch_fields=False,
                                count_all=True)
        pruned = searcher.search(node, k=k, fetch_fields=False,
                                 count_all=False)
        a = [(np.float32(h.score).item(), h.segment_id, h.doc_id)
             for h in exact.hits]
        b = [(np.float32(h.score).item(), h.segment_id, h.doc_id)
             for h in pruned.hits]
        assert a == b, f"query {qi}: {node}"
        # AND counts stay exact; OR may under-count but never over-counts
        assert pruned.num_hits <= exact.num_hits


def test_wand_actually_skips(idx):
    searcher = IndexSearcher(idx.index_dir)
    head, rare = _pick_terms(idx)
    node = A.Bool(must=(A.Term("content", head), A.Term("content", rare)))
    exact = searcher.search(node, k=10, fetch_fields=False, count_all=True)
    wand.STATS["blocks_decoded"] = 0
    wand.STATS["blocks_total"] = 0
    pruned = searcher.search(node, k=10, fetch_fields=False, count_all=False)
    assert [(h.segment_id, h.doc_id) for h in exact.hits] == \
        [(h.segment_id, h.doc_id) for h in pruned.hits]
    assert wand.STATS["blocks_total"] > 0
    assert wand.STATS["blocks_decoded"] < wand.STATS["blocks_total"], \
        wand.STATS


@pytest.fixture(scope="module")
def skew_idx(tmp_path_factory):
    """Score-skewed corpus (log-normal lengths, bursty tf): the corpus
    shape where block-max pruning pays off."""
    tmp = tmp_path_factory.mktemp("wand_skew")
    pdf = corpus_pandas(5000, seed=7, skew=True)
    cfg = IndexConfig(index_uid="wand_skew", index_dir=str(tmp / "w"))
    build_index_pandas(pdf, cfg, num_partitions=1)
    return cfg


def test_wand_skewed_or_skips_majority(skew_idx):
    """North-star perf assertion: on an idf-asymmetric OR (mid-df term +
    very common terms) over the skewed corpus, the pruned path must skip
    the majority of posting blocks while staying rank-identical."""
    import os
    from quickwit_spark.search.engine import get_reader
    searcher = IndexSearcher(skew_idx.index_dir)
    seg = searcher.manifest.segments()[0]
    td = get_reader(os.path.join(skew_idx.index_dir, "segments",
                                 seg["segment_id"]),
                    searcher.tokenizer)._cached_termdict()
    nd = seg["num_docs"]
    mid = td[(td.doc_freq >= nd // 200)
             & (td.doc_freq <= nd // 50)].sort_values("doc_freq")
    big = td.sort_values("doc_freq").iloc[-2:]
    terms = [mid.iloc[0]["term"], *big["term"].tolist()]
    node = A.Bool(should=tuple(A.Term("content", t) for t in terms))
    exact = searcher.search(node, k=10, fetch_fields=False, count_all=True)
    wand.STATS["blocks_decoded"] = wand.STATS["blocks_total"] = 0
    pruned = searcher.search(node, k=10, fetch_fields=False,
                             count_all=False)
    a = [(np.float32(h.score).item(), h.segment_id, h.doc_id)
         for h in exact.hits]
    b = [(np.float32(h.score).item(), h.segment_id, h.doc_id)
         for h in pruned.hits]
    assert a == b
    skip = 1 - wand.STATS["blocks_decoded"] / wand.STATS["blocks_total"]
    assert skip >= 0.5, wand.STATS


def test_wand_or_topk_returns_slice(skew_idx):
    """or_topk returns only the top-k slice (not the full accumulator),
    with the seen-doc count as the lower-bound match count."""
    import os
    from quickwit_spark.index.manifest import Manifest
    from quickwit_spark.search.engine import get_reader
    from quickwit_spark.search.wand import or_topk
    seg = Manifest.load(skew_idx.index_dir).segments()[0]
    reader = get_reader(os.path.join(skew_idx.index_dir, "segments",
                                     seg["segment_id"]),
                        "source_code_default")
    docids, scores, count = or_topk(reader, ["merge", "id"], 10)
    assert len(docids) == 10
    assert count >= 10


def test_wand_or_skips_with_small_k(idx):
    searcher = IndexSearcher(idx.index_dir)
    node = A.Bool(should=tuple(
        A.Term("content", t)
        for t in ["value", "get", "set", "key", "snapshot", "rollback"]))
    wand.STATS["blocks_decoded"] = 0
    wand.STATS["blocks_total"] = 0
    r = searcher.search(node, k=5, fetch_fields=False, count_all=False)
    assert len(r.hits) == 5
    assert wand.STATS["blocks_decoded"] <= wand.STATS["blocks_total"]


def test_cursor_decoupled_bound_fallback():
    """Segments written before block_max_ratio existed must still build
    cursors (decoupled max_tf/min_fn bound) — forward compatibility of
    the pruned path with round-1 layouts."""
    import numpy as np
    from quickwit_spark.functions.bm25 import Bm25Weight
    from tests.oracle import encode_posting_blocks
    from quickwit_spark.search.wand import _TermCursor
    docids = np.arange(0, 600, 2, dtype=np.int64)
    tfs = np.ones(len(docids), dtype=np.int64) * 3
    fns = np.full(len(docids), 10, dtype=np.int64)
    enc = encode_posting_blocks(docids, tfs, fns)
    row = {"doc_freq": len(docids), **{k: enc[k] for k in
           ("block_last", "block_max_tf", "block_min_fn",
            "doc_offsets", "tf_offsets", "docid_blob", "tf_blob")}}
    w = Bm25Weight(len(docids), 1000, 40.0)
    cur = _TermCursor("t", row, w)  # NO block_max_ratio key
    assert len(cur.block_scores) == len(enc["block_last"])
    assert cur.max_score > 0
    d, s = cur.decode_blocks(np.arange(len(enc["block_last"])),
                             fns.max() * np.ones(600, dtype=np.int64),
                             "freq")
    assert d.tolist() == docids.tolist()


def test_single_term_exact_count_shortcut(tmp_path):
    """count_all single-term queries read num_hits from the term dict
    (df) and top-k from the pruned scorer — results must be identical
    to full exhaustive evaluation (hits, order, scores, count)."""
    import numpy as np
    from quickwit_spark.config import IndexConfig
    from quickwit_spark.index.builder import build_index_pandas
    from quickwit_spark.index.corpus import corpus_pandas
    from quickwit_spark.search import ast as A
    from quickwit_spark.search.engine import (IndexSearcher, get_reader,
                                              segment_top_k)
    import os
    pdf = corpus_pandas(3000, seed=21)
    cfg = IndexConfig(index_uid="cnt", index_dir=str(tmp_path / "i"))
    build_index_pandas(pdf, cfg, num_partitions=2)
    s = IndexSearcher(cfg.index_dir)
    seg = s.manifest.segments()[0]
    seg_dir = os.path.join(cfg.index_dir, "segments", seg["segment_id"])
    reader = get_reader(seg_dir, s.tokenizer)
    term = "merge"
    node = A.Term("content", term)
    # shortcut path (count_all=True, no cursor)
    cnt, top = segment_top_k(seg_dir, node, 10, s.tokenizer, "content",
                             use_wand=False)
    # ground truth: full eval
    scored = reader.eval(node, "content", scoring=True).with_scores()
    assert cnt == len(scored.docids)  # df == true match count
    order = np.lexsort((-scored.docids,
                        -scored.scores.astype(np.float64)))[:10]
    assert top["doc_id"].tolist() == scored.docids[order].tolist()
    assert np.allclose(np.asarray(top["score"]),
                       scored.scores[order].astype(np.float64))
    # absent term: clean empty
    cnt0, top0 = segment_top_k(seg_dir, A.Term("content", "zzznoterm"),
                               5, s.tokenizer, "content", use_wand=False)
    assert cnt0 == 0 and len(top0) == 0
    # search_after still takes the exhaustive path (full match list):
    res = s.search(node, k=5)
    if len(res.hits) == 5 and res.next_cursor is not None:
        page2 = s.search(node, k=5, search_after=res.next_cursor)
        ids1 = {(h.segment_id, h.doc_id) for h in res.hits}
        ids2 = {(h.segment_id, h.doc_id) for h in page2.hits}
        assert not ids1 & ids2


def _small_segment_reader(tmp_path, n_docs=50):
    import os

    import pandas as pd

    from quickwit_spark.config import IndexConfig
    from quickwit_spark.index.builder import build_index_pandas
    from quickwit_spark.index.manifest import Manifest
    from quickwit_spark.search.engine import SegmentReader

    docs = [{"repo": "r", "path": f"f{i}.py", "commit": "c", "lang": "py",
             "content": f"alpha beta w{i} " + "gamma " * 20}
            for i in range(n_docs)]
    cfg = IndexConfig(index_uid="wc", index_dir=str(tmp_path / "wc"),
                      sha_col=None)
    build_index_pandas(pd.DataFrame(docs), cfg, num_partitions=1)
    seg = Manifest.load(cfg.index_dir).segments()[0]
    return SegmentReader(
        os.path.join(cfg.index_dir, "segments", seg["segment_id"]),
        cfg.tokenizer)


def test_cursor_cache_bytes_are_pinned_and_refunded(tmp_path, monkeypatch):
    """Cached WAND cursors retain their lazily fetched posting blobs, so
    those bytes must count toward the reader byte budget — and a cache
    clear must refund them (no permanent upward drift). The postings
    file is over the cache cap here, so the cursor owns copies of its
    blobs; below the cap they are views into the pinned table (next
    test)."""
    import os

    from quickwit_spark.search.engine import SegmentReader
    from quickwit_spark.search.wand import (_clear_cursor_cache,
                                            _make_cursors)

    rd = _small_segment_reader(tmp_path)
    monkeypatch.setattr(SegmentReader, "CACHE_FILE_BYTES", os.path.getsize(
        os.path.join(rd.seg_dir, "postings.parquet")) - 1)
    base = rd.cache_footprint
    (cur,) = _make_cursors(rd, ["gamma"])
    after_meta = rd.cache_footprint
    assert after_meta > base          # metadata accounted
    cur.ensure_blobs()                # lazy blob fetch lands on the
    after_blobs = rd.cache_footprint  # CACHED cursor -> pinned
    assert after_blobs > after_meta
    held = rd._wand_cursor_bytes
    assert held > 0
    _clear_cursor_cache(rd, rd._wand_cursors)
    assert rd._wand_cursor_bytes == 0
    assert rd.cache_footprint == after_blobs - held  # exact refund


def test_cursor_blob_views_into_pinned_postings_pin_nothing(tmp_path):
    """Below the cache cap the postings table is pinned whole, and a
    cursor's blobs are views into it: fetching them pins no bytes."""
    from quickwit_spark.search.wand import _make_cursors

    rd = _small_segment_reader(tmp_path)
    (cur,) = _make_cursors(rd, ["gamma"])
    assert rd._postings_tbl is not None  # the pinned-table path
    before = rd.cache_footprint
    cur.ensure_blobs()
    assert isinstance(cur.docid_blob, memoryview)
    assert rd.cache_footprint == before
    docids, _tfs, df = rd.term_postings("gamma")
    assert len(docids) == df == 50


@pytest.mark.parametrize("pinned", [True, False])
def test_cursor_bytes_are_the_owned_nbytes(tmp_path, monkeypatch, pinned):
    """The reader counts what its cached cursors keep alive on their own:
    arrays that own their data and `bytes` blobs. Below the cache cap the
    block metadata and blobs are views into the pinned postings table and
    count 0; above it the cursor's copies count in full."""
    from quickwit_spark.search.engine import SegmentReader
    from quickwit_spark.search.wand import _make_cursors, _TermCursor

    if not pinned:
        monkeypatch.setattr(SegmentReader, "CACHE_FILE_BYTES", 0)
    rd = _small_segment_reader(tmp_path, n_docs=400)
    curs = _make_cursors(rd, ["gamma", "beta"])
    for cur in curs:
        cur.ensure_blobs()
    assert (rd._postings_tbl is not None) == pinned
    assert len(curs[0].block_last) > 1
    held = [getattr(c, a) for c in curs for a in _TermCursor.__slots__]
    owned = sum(v.nbytes for v in held
                if isinstance(v, np.ndarray) and v.flags.owndata)
    owned += sum(len(v) for v in held if isinstance(v, bytes))
    assert rd._wand_cursor_bytes == owned
    if pinned:
        assert not curs[0].block_last.flags.owndata
        assert not curs[0].doc_offsets.flags.owndata
    else:
        assert isinstance(curs[0].docid_blob, bytes)


def test_concurrent_cold_searches_pin_each_cursor_once(tmp_path,
                                                       monkeypatch):
    """Four threads running one cold single-term search share the
    segment's cached WAND cursor: it is built, its blobs fetched and its
    bytes pinned once, so the reader holds one thread's cursor bytes."""
    import threading

    import quickwit_spark.search.engine as eng

    cfg = IndexConfig(index_uid="wcold", index_dir=str(tmp_path / "wcold"))
    build_index_pandas(corpus_pandas(3000, seed=5), cfg, num_partitions=1)
    node = A.Term("content", "merge")

    def cold_cursor_bytes(n_threads) -> tuple[int, list]:
        monkeypatch.setattr(eng, "_READER_CACHE", type(eng._READER_CACHE)())
        eng.clear_leaf_cache()
        s = IndexSearcher(cfg.index_dir)
        barrier = threading.Barrier(n_threads, timeout=60)
        out = [None] * n_threads

        def run(i):
            barrier.wait()
            res = s.search(node, k=10, fetch_fields=False)
            out[i] = [(h.segment_id, h.doc_id, h.score) for h in res.hits]

        ts = [threading.Thread(target=run, args=(i,))
              for i in range(n_threads)]
        for t in ts:
            t.start()
        for t in ts:
            t.join(timeout=120)
            assert not t.is_alive()
        (reader,) = eng._READER_CACHE.values()
        return reader._wand_cursor_bytes, out

    single, (hits,) = cold_cursor_bytes(1)
    assert hits and single > 0
    threaded, outs = cold_cursor_bytes(4)
    assert outs == [hits] * 4
    assert threaded == single
