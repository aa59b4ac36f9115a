"""Pure-Python scalar oracle engine (FIXTURES.md F4/F5).

Independent scalar reimplementation of tokenize->index->BM25->top-k used to
verify the Spark engine is rank-identical (scores compared as f32 values,
ties broken by the global doc address in sort direction). Shares only the
f32 BM25 formula constants and the fieldnorm quantization table with the
engine (both pinned by golden tests); everything else is dicts + loops.
"""

from __future__ import annotations

import numpy as np

from quickwit_spark.functions.bm25 import (
    B,
    K1,
    fieldnorm_to_id,
    id_to_fieldnorm,
    idf_f32,
)
from quickwit_spark.functions.fieldtypes import ip_norm_one
from quickwit_spark.functions.tokenizers import (
    ascii_fold,
    code_tokenize,
    tokenize_one,
)
from quickwit_spark.index.codecs import (
    BLOCK_SIZE,
    varint_decode,
    varint_encode,
)
from quickwit_spark.pipeline.doc_mapper import parse_datetime_bound
from quickwit_spark.search import ast as A
from quickwit_spark.search.engine import _prune_bound

f32 = np.float32


def scalar_analyze(text: str, analyzer: str) -> list[str]:
    if analyzer == "source_code_default":
        return [ascii_fold(t.lower()) for t in code_tokenize(text)
                if len(t) <= 255]
    if analyzer == "source_code_with_hex":
        return [ascii_fold(t.lower())
                for t in code_tokenize(text, hex_support=True)
                if len(t) <= 255]
    # fall back to the engine's own query tokenizer for other analyzers
    return tokenize_one(text, analyzer=analyzer)


class OracleSegment:
    def __init__(self, segment_id: str, docs: list[dict], text_field: str,
                 analyzer: str, record: str = "freq",
                 fieldnorms: bool = True):
        self.segment_id = segment_id
        self.docs = docs
        self.text_field = text_field
        self.analyzer = analyzer
        self.record = record
        self.n = len(docs)
        self.postings: dict[str, dict[int, int]] = {}
        self.fieldnorm_id: list[int] = []
        for doc_id, doc in enumerate(docs):
            toks = scalar_analyze(doc[text_field], analyzer)
            ln = len(toks) if fieldnorms else 1
            self.fieldnorm_id.append(
                int(fieldnorm_to_id(np.array([ln]))[0]))
            for t in toks:
                self.postings.setdefault(t, {}).setdefault(doc_id, 0)
                self.postings[t][doc_id] += 1
        total_fn = sum(int(id_to_fieldnorm(np.array([i]))[0])
                       for i in self.fieldnorm_id)
        self.avg = f32(f32(total_fn) / f32(self.n)) if self.n else f32(0)

    # -- scoring -------------------------------------------------------------

    def _score_term_text(self, term: str) -> dict[int, np.float32]:
        plist = self.postings.get(term, {})
        if not plist:
            return {}
        df = len(plist)
        idf = idf_f32(df, self.n)
        weight = f32(idf * (K1 + f32(1.0)))
        out = {}
        for doc_id, tf in plist.items():
            if self.record == "basic":
                tf = 1
            ln = f32(int(id_to_fieldnorm(
                np.array([self.fieldnorm_id[doc_id]]))[0]))
            norm = f32(K1 * (f32(1.0) - B + B * ln / self.avg))
            out[doc_id] = f32(weight * f32(f32(tf) / f32(f32(tf) + norm)))
        return out

    def eval(self, node: A.Node, scoring: bool = True) -> dict[int, np.float32]:
        if isinstance(node, A.MatchAll):
            return {d: f32(1.0) for d in range(self.n)}
        if isinstance(node, A.MatchNone):
            return {}
        if isinstance(node, A.Boost):
            return {d: f32(s * f32(node.boost))
                    for d, s in self.eval(node.inner, scoring).items()}
        if isinstance(node, A.FullText):
            if node.field == self.text_field:
                toks = scalar_analyze(node.text, self.analyzer)
            else:
                toks = [node.text]
            if not toks:
                return {}
            terms = [A.Term(node.field, t) for t in toks]
            if len(terms) == 1:
                return self.eval(terms[0], scoring)
            if node.operator == "and":
                return self.eval(A.Bool(must=tuple(terms)), scoring)
            return self.eval(A.Bool(should=tuple(terms)), scoring)
        if isinstance(node, A.Term):
            if node.field == self.text_field:
                return self._score_term_text(node.value)
            out = {}
            matches = [d for d in range(self.n)
                       if str(self.docs[d].get(node.field)) == node.value]
            idf = idf_f32(len(matches), self.n) if matches else f32(0)
            for d in matches:
                out[d] = idf
            return out
        if isinstance(node, A.TermSet):
            out = {}
            for d in range(self.n):
                if node.field == self.text_field:
                    if any(d in self.postings.get(v, {}) for v in node.values):
                        out[d] = f32(1.0)
                elif str(self.docs[d].get(node.field)) in node.values:
                    out[d] = f32(1.0)
            return out
        if isinstance(node, A.Range):
            out = {}
            for d in range(self.n):
                v = self.docs[d].get(node.field)
                if v is None:
                    continue
                ok = True
                if node.gte is not None:
                    ok &= v >= type(v)(node.gte)
                if node.gt is not None:
                    ok &= v > type(v)(node.gt)
                if node.lte is not None:
                    ok &= v <= type(v)(node.lte)
                if node.lt is not None:
                    ok &= v < type(v)(node.lt)
                if ok:
                    out[d] = f32(1.0)
            return out
        if isinstance(node, A.Bool):
            return self._eval_bool(node, scoring)
        raise TypeError(node)

    def _eval_bool(self, node: A.Bool, scoring: bool) -> dict[int, np.float32]:
        result: dict[int, np.float32] | None = None
        if not node.must and not node.filter and not node.should:
            # positive-less bool: implicit match-all, minus must_not
            # (tantivy_query_ast.rs:310-321) — mirrors the engine
            if (node.minimum_should_match or 0) > 0:
                return {}
            result = {d: f32(1.0) for d in range(self.n)}
        for clause in node.must:
            s = self.eval(clause, scoring)
            if result is None:
                result = dict(s)
            else:
                result = {d: f32(result[d] + s[d])
                          for d in result if d in s}
        for clause in node.filter:
            s = self.eval(clause, False)
            if result is None:
                result = {d: f32(0.0) for d in s}
            else:
                result = {d: v for d, v in result.items() if d in s}
        if node.should:
            msm = node.minimum_should_match
            if result is None:
                counts: dict[int, int] = {}
                sums: dict[int, np.float32] = {}
                for clause in node.should:
                    s = self.eval(clause, scoring)
                    for d, v in s.items():
                        counts[d] = counts.get(d, 0) + 1
                        sums[d] = f32(sums.get(d, f32(0.0)) + v)
                result = {d: sums[d] for d in sums
                          if counts[d] >= (msm if msm is not None else 1)}
            else:
                counts = {}
                for clause in node.should:
                    s = self.eval(clause, scoring)
                    for d in list(result):
                        if d in s:
                            result[d] = f32(result[d] + s[d])
                            counts[d] = counts.get(d, 0) + 1
                if msm is not None and msm > 0:
                    result = {d: v for d, v in result.items()
                              if counts.get(d, 0) >= msm}
        if result is None:
            return {}
        for clause in node.must_not:
            s = self.eval(clause, False)
            result = {d: v for d, v in result.items() if d not in s}
        return result


class OracleEngine:
    """Multi-segment oracle with the engine's merge + tie-break rules."""

    def __init__(self, segments: list[OracleSegment]):
        self.segments = segments

    def search(self, node: A.Node, k: int = 10):
        rows = []
        num_hits = 0
        for seg in self.segments:
            scores = seg.eval(node, scoring=True)
            num_hits += len(scores)
            for d, s in scores.items():
                rows.append((float(s), seg.segment_id, d))
        # score desc, then (segment_id, doc_id) desc
        rows.sort(key=lambda r: (-r[0], _neg_str(r[1]), -r[2]))
        return num_hits, rows[:k]


class _neg_str(str):
    """Reverse-ordering wrapper for descending string sort keys."""
    def __lt__(self, other):
        return str.__gt__(self, other)
    def __gt__(self, other):
        return str.__lt__(self, other)


def prune_segments(segments: list[dict], node: A.Node,
                   tag_fields: list[str]) -> list[dict]:
    """Scalar oracle for engine.PruneIndex: split pruning before any
    segment file is opened (reference: tag_pruning.rs + time-range
    pruning in file_backed_index/mod.rs:698-740), tag-set constraints
    and Range constraints against per-segment numeric min/max stats."""
    tag_constraints = A.collect_tag_filters(node, tag_fields)
    range_constraints = A.collect_range_filters(node)
    if not tag_constraints and not range_constraints:
        return segments
    out = []
    for seg in segments:
        ok = True
        for field, allowed in tag_constraints:
            vals = seg.get("tags", {}).get(field)
            if vals is not None and not (set(vals) & allowed):
                ok = False
                break
        for rng in range_constraints:
            if not ok:
                break
            stats = seg.get("col_stats", {}).get(rng.field)
            if stats is None:
                continue
            lo, hi = stats
            if seg.get("field_types", {}).get(rng.field) == "ip":
                # hex-string stats over the normalized transport: string
                # order == numeric IP order, so pruning mirrors the
                # numeric path after normalizing the query bound
                try:
                    if rng.gte is not None and hi < ip_norm_one(rng.gte):
                        ok = False
                    if rng.gt is not None and hi <= ip_norm_one(rng.gt):
                        ok = False
                    if rng.lte is not None and lo > ip_norm_one(rng.lte):
                        ok = False
                    if rng.lt is not None and lo >= ip_norm_one(rng.lt):
                        ok = False
                except ValueError:
                    pass
                continue
            if seg.get("field_types", {}).get(rng.field) == "datetime":
                # millis stats vs query literals in any accepted
                # datetime form: coerce the bound like the leaf does
                def _dt(b):
                    ms = parse_datetime_bound(b)
                    if ms is None:
                        raise ValueError(b)
                    return ms
                try:
                    if rng.gte is not None and hi < _dt(rng.gte):
                        ok = False
                    if rng.gt is not None and hi <= _dt(rng.gt):
                        ok = False
                    if rng.lte is not None and lo > _dt(rng.lte):
                        ok = False
                    if rng.lt is not None and lo >= _dt(rng.lt):
                        ok = False
                except ValueError:
                    pass
                continue
            try:
                # exact int comparison when possible (u64 > i64::MAX
                # bounds lose precision through float)
                if rng.gte is not None and hi < _prune_bound(rng.gte):
                    ok = False
                if rng.gt is not None and hi <= _prune_bound(rng.gt):
                    ok = False
                if rng.lte is not None and lo > _prune_bound(rng.lte):
                    ok = False
                if rng.lt is not None and lo >= _prune_bound(rng.lt):
                    ok = False
            except (TypeError, ValueError):
                continue  # non-numeric bound: no pruning
        if ok:
            out.append(seg)
    return out


def varint_decode_with_sizes(buf) -> tuple[np.ndarray, np.ndarray]:
    """Scalar-loop oracle for codecs.varint_decode_with_sizes: the
    decoder the engine used before its one-pass kernel, one masked OR
    per byte position. Needs at least one terminator byte in a
    non-empty buffer."""
    a = np.frombuffer(buf, dtype=np.uint8)
    if a.size == 0:
        return np.zeros(0, dtype=np.uint64), np.zeros(0, dtype=np.int64)
    ends = np.nonzero((a & 0x80) == 0)[0]
    starts = np.empty(ends.shape, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lens = ends - starts + 1
    vals = np.zeros(ends.shape, dtype=np.uint64)
    for j in range(int(lens.max())):
        active = lens > j
        b = a[starts[active] + j].astype(np.uint64)
        vals[active] |= (b & np.uint64(0x7F)) << np.uint64(7 * j)
    return vals, lens


def encode_posting_blocks(docids: np.ndarray, tfs: np.ndarray,
                          fieldnorm_ids: np.ndarray):
    """Encode one term's postings (docids strictly increasing) into blocks.

    Reference twin of the production encoder: the build path encodes all
    terms at once inside builder.write_segment (vectorized across the
    whole partition). test_codecs_property pins this single-term readable
    form byte-identical to write_segment's output, so the two cannot
    silently drift.

    Returns dict with:
      block_last:  int64[]  last docid per block
      block_max_tf: int32[] max tf per block
      block_min_fn: int32[] min fieldnorm id per block
      doc_offsets: int32[]  start byte offset of each block in docid_blob
      tf_offsets:  int32[]  start byte offset of each block in tf_blob
      docid_blob:  bytes
      tf_blob:     bytes
    """
    n = len(docids)
    docids = np.asarray(docids, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    fieldnorm_ids = np.asarray(fieldnorm_ids, dtype=np.int64)

    deltas = np.empty(n, dtype=np.uint64)
    deltas[0] = docids[0]
    deltas[1:] = np.diff(docids).astype(np.uint64)
    # block-aligned: delta of each block's first entry is vs prev block's last
    # (true by construction since deltas are consecutive diffs)

    nblocks = (n + BLOCK_SIZE - 1) // BLOCK_SIZE
    block_last = np.empty(nblocks, dtype=np.int64)
    block_max_tf = np.empty(nblocks, dtype=np.int32)
    block_min_fn = np.empty(nblocks, dtype=np.int32)
    doc_offsets = np.empty(nblocks, dtype=np.int32)
    tf_offsets = np.empty(nblocks, dtype=np.int32)
    doc_parts: list[bytes] = []
    tf_parts: list[bytes] = []
    dpos = tpos = 0
    for bi in range(nblocks):
        lo, hi = bi * BLOCK_SIZE, min((bi + 1) * BLOCK_SIZE, n)
        block_last[bi] = docids[hi - 1]
        block_max_tf[bi] = tfs[lo:hi].max()
        block_min_fn[bi] = fieldnorm_ids[lo:hi].min()
        d = varint_encode(deltas[lo:hi])
        t = varint_encode(tfs[lo:hi].astype(np.uint64))
        doc_offsets[bi] = dpos
        tf_offsets[bi] = tpos
        dpos += len(d)
        tpos += len(t)
        doc_parts.append(d)
        tf_parts.append(t)
    return {
        "block_last": block_last,
        "block_max_tf": block_max_tf,
        "block_min_fn": block_min_fn,
        "doc_offsets": doc_offsets,
        "tf_offsets": tf_offsets,
        "docid_blob": b"".join(doc_parts),
        "tf_blob": b"".join(tf_parts),
    }


def decode_block(docid_blob: bytes, tf_blob: bytes, doc_offsets: np.ndarray,
                 tf_offsets: np.ndarray, block_last: np.ndarray,
                 block_idx: int) -> tuple[np.ndarray, np.ndarray]:
    """Decode a single block independently: the per-block twin of
    codecs.decode_blocks_batch."""
    dstart = int(doc_offsets[block_idx])
    dend = int(doc_offsets[block_idx + 1]) if block_idx + 1 < len(doc_offsets) \
        else len(docid_blob)
    tstart = int(tf_offsets[block_idx])
    tend = int(tf_offsets[block_idx + 1]) if block_idx + 1 < len(tf_offsets) \
        else len(tf_blob)
    deltas = varint_decode(docid_blob[dstart:dend]).astype(np.int64)
    base = int(block_last[block_idx - 1]) if block_idx > 0 else 0
    docids = base + np.cumsum(deltas)
    tfs = varint_decode(tf_blob[tstart:tend]).astype(np.int64)
    return docids, tfs
