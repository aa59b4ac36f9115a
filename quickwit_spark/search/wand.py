"""Block-max WAND / MaxScore pruned top-k scoring.

Uses the per-block metadata written at build time (block_last, max_tf,
min_fieldnorm — SURVEY.md §2.3 posting-list construction) to skip decoding
posting blocks that cannot affect the top-k:

- AND (intersection): terms ordered by doc_freq ascending; the rarest term
  is decoded fully, every other term decodes only blocks whose docid range
  intersects the current candidate set (searchsorted on block_last — the
  classic skip-pointer intersection, vectorized).
- OR (union, sort by score): MaxScore/block-max hybrid. Terms ordered by
  their maximum possible score descending; after each decoded term the
  remaining-terms bound R shrinks. Once R < the running k-th best score,
  no unseen doc can enter the top-k, so remaining terms decode only blocks
  that (a) overlap current candidates and (b) have a block-max score able
  to lift some candidate above the threshold.

Scores are IDENTICAL to the exhaustive path (exact f32 BM25 on every doc
that can matter); only non-competitive work is skipped. The exact match
count is not collected — callers wanting exact counts use the exhaustive
path (the reference's CountHits::Underestimate trade-off,
search.proto:242-245).
"""

from __future__ import annotations

import numpy as np

from ..functions.bm25 import Bm25Weight
from ..index.codecs import decode_blocks_batch, decode_postings
from .engine import (_READER_LOCK, _isect_idx, _owned_nbytes, _top_k_order,
                     _union_ids)

__all__ = ["and_topk", "or_topk", "single_term_topk", "STATS"]

# instrumentation (tests / bench): decoded vs skipped block counts, plus
# whole segments skipped by the cross-segment bound walk (engine.search)
STATS = {"blocks_decoded": 0, "blocks_total": 0, "segments_skipped": 0}


class _TermCursor:
    """Posting metadata for one term within a segment (no blobs decoded).

    Blob columns are fetched LAZILY when `fetch_blobs` is given: the
    cross-segment bound walk and explain() only read `max_score` /
    `block_scores`, so a segment skipped by its bound never pays the
    posting-blob byte read — the bound really is metadata-only."""

    __slots__ = ("term", "doc_freq", "weight", "block_last", "doc_offsets",
                 "tf_offsets", "docid_blob", "tf_blob", "max_score",
                 "block_scores", "_fetch_blobs")

    _BLOB_COLS = ("doc_offsets", "tf_offsets", "docid_blob", "tf_blob")

    def __init__(self, term: str, row, weight: Bm25Weight,
                 fetch_blobs=None):
        self.term = term
        self.doc_freq = int(row["doc_freq"])
        self.weight = weight
        self.block_last = np.asarray(row["block_last"], dtype=np.int64)
        self._fetch_blobs = fetch_blobs
        if fetch_blobs is None:
            self._set_blobs(row)
        else:
            self.docid_blob = self.tf_blob = None
            self.doc_offsets = self.tf_offsets = None
        if row.get("block_max_ratio") is not None:
            # exact jointly-achievable bound written at build time
            self.block_scores = (weight.weight * np.asarray(
                row["block_max_ratio"], dtype=np.float32)).astype(np.float32)
        else:  # pre-ratio segments: decoupled (max_tf, min_fn) bound
            self.block_scores = weight.max_score(
                np.asarray(row["block_max_tf"], dtype=np.int64),
                np.asarray(row["block_min_fn"], dtype=np.int64))
        self.max_score = float(self.block_scores.max())

    def _set_blobs(self, row) -> None:
        # int32 or int64 as stored: a view into a pinned table stays one
        self.doc_offsets = np.asarray(row["doc_offsets"])
        self.tf_offsets = np.asarray(row["tf_offsets"])
        self.tf_blob = row["tf_blob"]
        # set last: a lock-free reader that sees it sees the rest too
        self.docid_blob = row["docid_blob"]

    def ensure_blobs(self) -> None:
        fetch = self._fetch_blobs  # read once: an install clears it
        if self.docid_blob is None and fetch is not None:
            fetch(self)

    def decode_blocks(self, block_idx: np.ndarray, fn_ids: np.ndarray,
                      record: str):
        """Decode selected blocks -> (docids, scores f32). Contiguous
        block runs are decoded in one varint pass (decode_blocks_batch),
        so a full-list decode costs the same as the exhaustive path."""
        STATS["blocks_decoded"] += len(block_idx)
        STATS["blocks_total"] += len(self.block_last)
        if len(block_idx) == 0:
            return (np.zeros(0, dtype=np.int64),
                    np.zeros(0, dtype=np.float32))
        self.ensure_blobs()
        if len(block_idx) == len(self.block_last):
            # nothing skipped: the plain full decode is cheaper than the
            # run-splicing machinery (flat-corpus adaptive fallback)
            docids, tfs = decode_postings(self.docid_blob, self.tf_blob)
        else:
            docids, tfs = decode_blocks_batch(
                self.docid_blob, self.tf_blob, self.doc_offsets,
                self.tf_offsets, self.block_last, self.doc_freq, block_idx)
        if record == "basic":
            tfs = np.ones(len(tfs), dtype=np.int64)
        return docids, self.weight.score(tfs, fn_ids[docids])


_CURSOR_META_COLS = ["doc_freq", "block_last"]
_CURSOR_BLOB_COLS = list(_TermCursor._BLOB_COLS)
_MISSING = object()


def _account_cursor_bytes(reader, nbytes: int) -> None:
    """Track cursor-cache bytes on the reader so the process byte
    budget (engine.get_reader) sees them; the running counter lets
    _clear_cursor_cache give the bytes back instead of drifting the
    accounting upward forever."""
    if not hasattr(reader, "_pin"):
        return
    reader._wand_cursor_bytes = getattr(reader, "_wand_cursor_bytes", 0) \
        + int(nbytes)
    reader._pin(nbytes)


def _clear_cursor_cache(reader, cache: dict) -> None:
    cache.clear()
    held = getattr(reader, "_wand_cursor_bytes", 0)
    if held and hasattr(reader, "_pin"):
        reader._wand_cursor_bytes = 0
        reader._pin(-held)


def _make_cursors(reader, terms: list[str]) -> list[_TermCursor]:
    # per-reader cursor cache: the arrow->numpy conversion of the block
    # metadata columns dominates warm pruned-query latency; cursors are
    # immutable per (segment, term), so convert once (bounded FIFO —
    # readers themselves live in a byte-budgeted LRU). Cursors are built
    # outside _READER_LOCK and inserted under it, so concurrent cold
    # searches pin each cursor once; the warm path takes no lock.
    cache = getattr(reader, "_wand_cursors", None)
    if cache is None:
        with _READER_LOCK:
            cache = getattr(reader, "_wand_cursors", None)
            if cache is None:
                cache = reader._wand_cursors = {}
    cursors = []
    # the build-time bound, else (older segments) the decoupled one's inputs
    cols = _CURSOR_META_COLS + (
        ["block_max_ratio"] if reader.has_postings_column("block_max_ratio")
        else ["block_max_tf", "block_min_fn"])
    for t in terms:
        cur = cache.get(t, _MISSING)
        if cur is _MISSING:
            cur, nbytes = _new_cursor(reader, t, cols)
            with _READER_LOCK:
                if t in cache:  # a concurrent search inserted it first
                    cur = cache[t]
                else:
                    if len(cache) >= 512:
                        _clear_cursor_cache(reader, cache)
                    # negative entries count toward the bound
                    cache[t] = cur
                    if cur is not None:
                        _account_cursor_bytes(reader, nbytes)
        cursors.append(cur)
    return cursors if any(c is not None for c in cursors) else []


def _new_cursor(reader, t: str, cols: list[str]
                ) -> tuple[_TermCursor | None, int]:
    """(an uncached cursor for term t, the bytes its metadata pins), or
    (None, 0) when the segment lacks the term. Metadata only: the
    posting blobs load on first decode, so bound-only consumers
    (segment_wand_bound / the cross-segment walk / explain) never read
    them."""
    tr = reader._term_row(t)
    if tr is None:
        return None, 0
    term_id, doc_freq = tr
    row = dict(zip(cols, reader._postings_cells(term_id, cols)))
    w = Bm25Weight(doc_freq, reader.num_docs, float(reader._avg_fieldnorm))

    def _fetch(cur, _tid=term_id, _rdr=reader):
        blobs = dict(zip(_CURSOR_BLOB_COLS,
                         _rdr._postings_cells(_tid, _CURSOR_BLOB_COLS)))
        # the cursor lives in the reader's cache, so what it memoizes is
        # PINNED, not a per-query transient — count it toward the reader
        # byte budget, once
        with _READER_LOCK:
            if cur.docid_blob is None:
                cur._set_blobs(blobs)
                cur._fetch_blobs = None
                _account_cursor_bytes(_rdr, _owned_nbytes(
                    (cur.doc_offsets, cur.tf_offsets, cur.docid_blob,
                     cur.tf_blob)))
    cur = _TermCursor(t, row, w, fetch_blobs=_fetch)
    return cur, _owned_nbytes((cur.block_last, cur.block_scores))


def _combine_in_query_order(parts, final_docids):
    """Sum per-term f32 scores at final_docids in ORIGINAL query order —
    bit-identical to the exhaustive path's clause-order summation. The
    SINGLE implementation shared by the pruned paths and the global
    searcher, so the rank-identity contract has one copy to keep."""
    scores = np.zeros(len(final_docids), dtype=np.float32)
    for docids, tscores in parts:
        idx = np.searchsorted(docids, final_docids)
        idx = np.clip(idx, 0, max(len(docids) - 1, 0))
        present = np.zeros(len(final_docids), dtype=bool)
        if len(docids):
            present = docids[idx] == final_docids
        scores[present] = (scores[present] +
                           tscores[idx[present]]).astype(np.float32)
    return scores


def _empty3():
    return (np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float32), 0)


def single_term_topk(reader, term: str, k: int,
                     initial_theta: float = float("-inf")):
    """Bound-ordered top-k for ONE term: decode blocks in DESCENDING
    block-bound order and stop once the next bound is strictly below the
    running k-th score. Docid-order WAND cannot skip here (a single
    cursor's threshold only catches up after most blocks are seen, and
    on flat corpora the adaptive fallback decodes everything), while
    bound-ordering touches only blocks whose bound >= final theta — on a
    10M-doc head term that is a handful of blocks instead of 44k.

    Exactness: every doc with score >= theta lies in a block whose bound
    >= theta (bound is the jointly-achievable max), and ties AT theta
    stay because pruning is strict-less-than. Scores are the same
    w.score(tf, fieldnorm) f32 values the exhaustive path computes, so
    top-k, tie-break and values are identical. Count returned is
    doc_freq — EXACT for a single term (unlike the OR lower bound).

    initial_theta seeds the threshold from OUTSIDE (the cross-segment
    bound walk: the global k-th best so far, pre-slacked by the caller)
    so later segments skip blocks from the first chunk. Local results
    may then hold fewer than k rows — only docs below the global bar
    are dropped, so the cross-segment merge is unaffected."""
    cursors = _make_cursors(reader, [term])
    if not cursors or cursors[0] is None:
        return _empty3()
    cur = cursors[0]
    d, s = single_cursor_topk(cur, reader.fieldnorm_ids(), reader.record,
                              k, initial_theta)
    return d, s, cur.doc_freq


def single_cursor_topk(cur, fn_ids, record: str, k: int,
                       initial_theta: float = float("-inf")
                       ) -> tuple[np.ndarray, np.ndarray]:
    """Bound-ordered top-k over ONE cursor (the single_term_topk core,
    also used per salt row by the global layout's single-term path).
    Returns (docids, scores) of the top-k slice; the caller supplies
    counts from term-dict metadata."""
    nblk = len(cur.block_last)
    k = max(k, 1)
    border = np.argsort(-cur.block_scores.astype(np.float64),
                        kind="stable")
    acc_d = np.zeros(0, dtype=np.int64)
    acc_s = np.zeros(0, dtype=np.float32)
    theta = None if initial_theta == float("-inf") \
        else np.float32(initial_theta)
    decoded = 0
    # chunk size: k blocks guarantee >= k candidates in round one when
    # blocks are full; growing chunks amortize the varint-batch overhead
    # if theta converges slowly
    chunk_sz = max(8, min(64, k))
    i = 0
    while i < nblk:
        chunk = border[i:i + chunk_sz]
        if theta is not None:
            chunk = chunk[cur.block_scores[chunk] >= theta]
            if len(chunk) == 0:
                break
        bidx = np.sort(chunk)
        cur.ensure_blobs()
        if len(bidx) == nblk:
            d, t = decode_postings(cur.docid_blob, cur.tf_blob)
        else:
            d, t = decode_blocks_batch(
                cur.docid_blob, cur.tf_blob, cur.doc_offsets,
                cur.tf_offsets, cur.block_last, cur.doc_freq, bidx)
        decoded += len(bidx)
        if record == "basic":
            t = np.ones(len(t), dtype=np.int64)
        s = cur.weight.score(t, fn_ids[d])
        acc_d = np.concatenate([acc_d, d])
        acc_s = np.concatenate([acc_s, s])
        if len(acc_s) >= k:
            kth = np.float32(np.partition(acc_s, -k)[-k])
            theta = kth if theta is None else max(theta, kth)
        i += chunk_sz
        chunk_sz = min(chunk_sz * 2, 1024)
        if theta is not None and i < nblk \
                and cur.block_scores[border[i]] < theta:
            break
    STATS["blocks_decoded"] += decoded
    STATS["blocks_total"] += nblk
    top = _top_k_order(acc_d, acc_s, k)
    return acc_d[top], acc_s[top]


def and_topk(reader, terms: list[str], k: int,
             initial_theta: float = float("-inf")):
    """Skip-based intersection with exact scores.
    Returns (docids, scores, match_count) of the FULL intersection
    (count is exact). initial_theta is used only on the single-term
    path; the multi-term intersection prunes by docid ranges, not
    scores (score-thresholded AND measured slower — see the exact-count
    note in segment_top_k), and the cross-segment walk still skips WHOLE
    segments whose bound is below the seed before reaching here."""
    if len(terms) == 1:
        return single_term_topk(reader, terms[0], k, initial_theta)
    groups = [[c] if c is not None else None
              for c in _make_cursors(reader, terms)]
    return and_topk_groups(groups, reader.fieldnorm_ids(), reader.record,
                           k)


def and_topk_groups(groups: list, fn_ids, record: str, k: int):
    """Skip-based intersection where each term is a GROUP of cursors
    covering disjoint docid ranges (one per salt row in the global
    term-partitioned layout; a single cursor per term in the segment
    case). The rarest term's group is decoded fully; every other group
    decodes only blocks whose docid range intersects the candidate set
    (the classic skip-pointer intersection, vectorized)."""
    if not groups or any(g is None for g in groups):
        return _empty3()
    df_of = [sum(c.doc_freq for c in g) for g in groups]
    order = sorted(range(len(groups)), key=lambda i: df_of[i])
    parts: list = [None] * len(groups)

    def decode_group(g, bsel=None):
        ds, ss = [], []
        for c in g:
            if bsel is None:
                bidx = np.arange(len(c.block_last))
            else:
                bidx = np.unique(np.searchsorted(c.block_last, bsel,
                                                 side="left"))
                bidx = bidx[bidx < len(c.block_last)]
            d, s = c.decode_blocks(bidx, fn_ids, record)
            ds.append(d)
            ss.append(s)
        # salt cursors cover ascending disjoint ranges in salt order
        return np.concatenate(ds), np.concatenate(ss)

    docids, s = decode_group(groups[order[0]])
    parts[order[0]] = (docids, s)
    cand = docids
    for i in order[1:]:
        if len(cand) == 0:
            return _empty3()
        d2, s2 = decode_group(groups[i], bsel=cand)
        parts[i] = (d2, s2)
        cand = _isect_idx(cand, d2)[0]
    if len(cand) == 0:
        return _empty3()
    return cand, _combine_in_query_order(parts, cand), len(cand)


def or_topk(reader, terms: list[str], k: int,
            initial_theta: float = float("-inf")):
    """MaxScore/block-max pruned union top-k (scores exact for returned
    docs; skipped docs provably below the threshold).
    Returns (docids, scores, match_count_lower_bound) where docids is
    exactly the top-k slice in (score desc, docid desc) order-defining
    terms (unsorted set; caller sorts) and the count is the number of
    matching docs SEEN (a lower bound — the reference's
    CountHits::Underestimate)."""
    if len(terms) == 1:
        return single_term_topk(reader, terms[0], k, initial_theta)
    return or_topk_cursors(_make_cursors(reader, terms),
                           reader.fieldnorm_ids(), reader.record, k,
                           initial_theta)


def or_topk_cursors(all_cursors: list, fn_ids, record: str, k: int,
                    initial_theta: float = float("-inf")):
    """Cursor-level pruned OR (shared by the per-segment and the GLOBAL
    term-partitioned searchers). Cursors may cover DISJOINT docid ranges
    of the same term (salted Zipf-head rows): treating each as its own
    MaxScore participant only over-estimates the remaining bound, which
    is conservative. fn_ids is any fancy-indexable docid->fieldnorm-id
    lookup (an array, or a lazy per-segment resolver).

    initial_theta (the cross-segment bound walk's pre-slacked global
    k-th best) lets pruning engage from the FIRST cursor, before k local
    candidates exist; local results may then return fewer than k rows —
    every dropped doc is provably below the global bar."""
    live = [(i, c) for i, c in enumerate(all_cursors) if c is not None]
    if not live:
        return _empty3()
    live.sort(key=lambda ic: -ic[1].max_score)

    # accumulator (decode-order sums) is used ONLY for pruning thresholds;
    # final scores are recombined in query order for f32 bit-parity
    acc_docs = np.zeros(0, dtype=np.int64)
    acc_scores = np.zeros(0, dtype=np.float32)
    parts: list = [None] * len(all_cursors)
    rest = np.cumsum([c.max_score for _, c in live][::-1])[::-1]
    seeded = initial_theta > float("-inf")
    theta = float(initial_theta) if seeded else -np.inf
    for j, (i, cur) in enumerate(live):
        remaining = rest[j + 1] if j + 1 < len(live) else 0.0
        if theta > -np.inf and (seeded or len(acc_docs) >= k):
            # block-max filter for EVERY cursor once theta is set: block b
            # can matter iff (an unseen doc could qualify through it:
            # block_score + remaining >= theta) or (a current candidate in
            # its range could: best_acc_in_block + block_score + remaining
            # >= theta). best >= 0 folds both into one test.
            nblk = len(cur.block_last)
            rem32 = np.float32(remaining)
            if cur.max_score + remaining < theta:
                # non-essential term: no unseen doc can qualify at all, so
                # blocks with no viable candidate are dead even when their
                # own bound is high
                unseen_ok = np.zeros(nblk, dtype=bool)
            else:
                unseen_ok = cur.block_scores + rem32 >= theta
            # adaptive engagement (tantivy leaf.rs:1255-1274 spirit — pay
            # pruning bookkeeping only where it can actually skip): the
            # expensive per-block candidate max is computed ONLY for
            # blocks unseen_ok doesn't already keep. On a flat corpus
            # unseen_ok is ~all-true and the pruned path degrades to the
            # exhaustive decode plus one vectorized comparison, instead
            # of losing to it.
            need = ~unseen_ok
            if need.any():
                nb = np.nonzero(need)[0]
                best = _max_in_blocks(acc_docs, acc_scores, cur, nb)
                keep = unseen_ok
                keep[nb] = cur.block_scores[nb] + rem32 + best >= theta
            else:
                keep = unseen_ok
            bidx = np.nonzero(keep)[0]
            d2, s2 = cur.decode_blocks(bidx, fn_ids, record)
        else:
            d2, s2 = cur.decode_blocks(
                np.arange(len(cur.block_last)), fn_ids, record)
        parts[i] = (d2, s2)
        if len(d2):
            acc_docs, acc_scores = _merge_add(acc_docs, acc_scores, d2, s2)
        if len(acc_docs) >= k:
            # small relative margin: the accumulator sums in decode order,
            # which can differ from clause-order sums by ~1 ulp — keep the
            # pruning threshold strictly conservative. Never drops below
            # an external seed (max).
            kth = float(np.partition(acc_scores, -k)[-k])
            theta = max(theta, kth - abs(kth) * 1e-5)

    count = len(acc_docs)
    qparts = [p for p in parts if p is not None]
    if count > k:
        # recombine (query-order f32 summation, matching the exhaustive
        # path bit-for-bit) only for COMPETITIVE candidates: recombined
        # sums differ from the accumulator's decode-order sums by ulps,
        # so anything below kth_acc minus the same relative slack the
        # theta logic uses cannot enter the top-k
        kth = float(np.partition(acc_scores, -k)[-k])
        csel = np.nonzero(acc_scores >= kth - abs(kth) * 1e-5)[0]
        cd = acc_docs[csel]
        final_scores = _combine_in_query_order(qparts, cd)
        # top-k slice under the engine's order (score desc, docid desc)
        top = _top_k_order(cd, final_scores, k)
        return cd[top], final_scores[top], count
    return acc_docs, _combine_in_query_order(qparts, acc_docs), count


def _max_in_blocks(acc_docs, acc_scores, cur, bidx):
    """Per selected block: the best current candidate score inside the
    block's docid range (so block bound + candidate best >= theta test).
    Vectorized: interleaved-boundary maximum.reduceat over the
    accumulator (blocks are disjoint and ascending)."""
    if len(bidx) == 0:
        return np.zeros(0, dtype=np.float32)
    los = np.where(bidx > 0, cur.block_last[np.maximum(bidx - 1, 0)] + 1, 0)
    his = cur.block_last[bidx]
    a = np.searchsorted(acc_docs, los, side="left")
    b = np.searchsorted(acc_docs, his, side="right")
    # blocks with no candidate in range get -inf (an unseen doc's chances
    # are judged by the caller's unseen_ok test, not here)
    out = np.full(len(bidx), -np.inf, dtype=np.float32)
    nz = b > a
    if not nz.any():
        return out
    # sentinel element keeps every reduceat index < len(arr)
    xs = np.r_[acc_scores, np.float32(-np.inf)]
    bounds = np.column_stack([a[nz], b[nz]]).ravel()
    seg = np.maximum.reduceat(xs, bounds)
    out[nz] = seg[::2]
    return out


def _merge_add(docs_a, scores_a, docs_b, scores_b):
    """Union of two sorted unique docid sets, scores added where present."""
    all_ids = _union_ids([docs_a, docs_b])
    scores = np.zeros(len(all_ids), dtype=np.float32)
    ia = np.searchsorted(all_ids, docs_a)
    scores[ia] = (scores[ia] + scores_a).astype(np.float32)
    ib = np.searchsorted(all_ids, docs_b)
    scores[ib] = (scores[ib] + scores_b).astype(np.float32)
    return all_ids, scores