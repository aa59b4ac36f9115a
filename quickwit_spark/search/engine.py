"""Search execution engine: segment pruning -> per-segment scoring ->
global top-k merge -> fetch.

Mirrors the reference's query lifecycle (SURVEY.md §3.1): the driver plays
root (plan + merge: root.rs:1187-1230), executors play leaves
(leaf.rs:436-565) via mapInPandas over the segment list, and the fetch
phase reads only the winners' rows from each segment's doc store
(root.rs:808-889).

Scoring semantics (rank-identity contract, SURVEY.md §2.5):
  - BM25 with per-segment statistics (the reference scores each split with
    its own stats at the leaf), f32 arithmetic (functions/bm25.py);
  - bool: must/should score, filter/must_not don't; clause scores summed
    in clause order (f32);
  - sort: score desc by default here; tie-break key is the global doc
    address (segment_id, doc_id) compared in the direction of the first
    sort order (collector.rs:1086-1145);
  - count: num_hits is the exact match count collected alongside top-k.
"""

from __future__ import annotations

import bisect
import contextlib
import contextvars
import json
import math
import os
import struct
import threading
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

from ..functions.bm25 import K1, Bm25Weight, idf_f32
from ..functions.fieldtypes import (bytes_from_b64, hex_to_ip_display,
                                    ip_norm_one)
from ..functions.tokenizers import analyzer_generation, tokenize_one
from ..index.codecs import (_binary_cells, decode_positions, decode_postings,
                            varint_decode)
from ..index.manifest import Manifest
from . import ast as A

# ---------------------------------------------------------------------------
# Per-segment evaluation
# ---------------------------------------------------------------------------


def _prefix_upper(prefix: str) -> str | None:
    """Smallest string > every string with this prefix (exclusive upper
    bound for a startswith range), or None when no bound exists (prefix
    is all U+10FFFF). `prefix + "\\uffff"` is NOT such a bound: terms
    containing supplementary-plane code points (> U+FFFF) sort above it
    and would be silently dropped from the scan."""
    for i in range(len(prefix) - 1, -1, -1):
        c = ord(prefix[i])
        if c < 0x10FFFF:
            nxt = c + 1
            if 0xD800 <= nxt <= 0xDFFF:
                # never emit a lone surrogate (not encodable as UTF-8 for
                # the parquet filter); no valid term contains one either
                nxt = 0xE000
            return prefix[:i] + chr(nxt)
    return None


def _toplevel_alternation(pat: str) -> bool:
    """True when the regex has a `|` outside every group / char class —
    the one shape where a leading-literal prefix pushdown is unsound."""
    depth = 0
    in_class = False
    i = 0
    while i < len(pat):
        c = pat[i]
        if c == "\\":
            i += 2
            continue
        if in_class:
            if c == "]":
                in_class = False
        elif c == "[":
            in_class = True
        elif c == "(":
            depth += 1
        elif c == ")":
            depth = max(0, depth - 1)
        elif c == "|" and depth == 0:
            return True
        i += 1
    return False


@dataclass
class _Scored:
    """Sorted unique docids + aligned f32 scores (None => non-scoring set)."""
    docids: np.ndarray
    scores: np.ndarray | None

    @classmethod
    def empty(cls):
        return cls(np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.float32))

    def with_scores(self) -> "_Scored":
        if self.scores is not None:
            return self
        return _Scored(self.docids,
                       np.ones(len(self.docids), dtype=np.float32))


# A leaf partial: one segment's top-k candidates, ordered by (score desc,
# doc_id desc) — the reference's PartialHit records (collector.rs).
PARTIAL_DTYPE = np.dtype([("doc_id", "<i8"), ("score", "<f8")])


def _partial(docids, scores) -> np.ndarray:
    out = np.empty(len(docids), dtype=PARTIAL_DTYPE)
    out["doc_id"] = docids
    out["score"] = scores
    return out


# Per-request memo of query analysis and leaf-cache keys: every segment
# of a request analyzes the same query text and keys the same AST, so
# both are computed once per request instead of once per segment. It is
# scoped to one request, never the process: register_custom_analyzer can
# redefine an analyzer name between requests. Outside a request (Spark
# executors, direct leaf calls) nothing is memoized.
_REQUEST_MEMO: contextvars.ContextVar[dict | None] = contextvars.ContextVar(
    "_REQUEST_MEMO", default=None)


@contextlib.contextmanager
def _request_scope():
    """Open a request memo unless one is already open (search_many ->
    search is one request). Used as a decorator on the entry points."""
    if _REQUEST_MEMO.get() is not None:
        yield
        return
    token = _REQUEST_MEMO.set({})
    try:
        yield
    finally:
        _REQUEST_MEMO.reset(token)


def _analyze(text: str, analyzer: str) -> list[str]:
    """tokenize_one, memoized per (text, analyzer) within a request."""
    memo = _REQUEST_MEMO.get()
    if memo is None:
        return tokenize_one(text, analyzer=analyzer)
    key = ("analyze", text, analyzer)
    toks = memo.get(key)
    if toks is None:
        toks = memo[key] = tokenize_one(text, analyzer=analyzer)
    return list(toks)


def _node_key(node: A.Node) -> str:
    """Canonical JSON of an AST (the leaf-cache key), memoized per node
    object within a request. The memo holds the node, so its id cannot
    be reused by another object while the request lasts."""
    memo = _REQUEST_MEMO.get()
    if memo is None:
        return json.dumps(A.ast_to_json(node), sort_keys=True)
    ent = memo.get(("node", id(node)))
    if ent is None:
        ent = memo[("node", id(node))] = (
            node, json.dumps(A.ast_to_json(node), sort_keys=True))
    return ent[1]


def _postings_index(tbl: pa.Table) -> dict:
    """Column name -> numpy view of a postings table: (offsets, values)
    for list and binary columns (binary values as a memoryview), the
    values array for scalar columns."""
    out = {}
    list_off = None
    for name, col in zip(tbl.column_names, tbl.columns):
        t = col.type
        if pa.types.is_binary(t) or pa.types.is_large_binary(t):
            data, off = _binary_cells(col)
            out[name] = (off, memoryview(data))
        elif pa.types.is_list(t) or pa.types.is_large_list(t):
            values, off = _binary_cells(col)
            # the per-block lists share one per-term block count: keep
            # one copy of their (widened) offsets, not one per column
            if list_off is not None and np.array_equal(off, list_off):
                off = list_off
            out[name] = (off, values)
            list_off = off
        else:
            out[name] = col.to_numpy()
    return out


def _row_cells(index: dict, i: int, cols: list[str]) -> list:
    out = []
    for c in cols:
        ix = index[c]
        if isinstance(ix, tuple):
            off, values = ix
            out.append(values[off[i]:off[i + 1]])
        else:
            out.append(ix[i])
    return out


def _owned_nbytes(values) -> int:
    """Bytes `values` keep alive on their own: arrays that own their data
    and `bytes` blobs. Views (into a pinned table) count 0."""
    return sum(v.nbytes if isinstance(v, np.ndarray) and v.flags.owndata
               else len(v) if isinstance(v, bytes) else 0 for v in values)


class SegmentReader:
    """Lazy reader over one immutable segment directory."""

    def __init__(self, seg_dir: str, tokenizer: str = "source_code_default"):
        self.seg_dir = seg_dir
        with open(os.path.join(seg_dir, "meta.json")) as f:
            self.meta = json.load(f)
        # per-segment analyzer: a segment carries the doc-mapping REV it
        # was built under (update_doc_mapping bumps the index-level
        # config without rewriting segments), so query compilation is
        # per segment — the passed tokenizer is only a fallback for
        # pre-rev metadata. Also makes the seg_dir-keyed reader cache
        # immune to callers passing a different default.
        self.tokenizer = self.meta.get("tokenizer") or tokenizer
        self.num_docs = int(self.meta["num_docs"])
        self.record = self.meta.get("record", "freq")
        self._avg_fieldnorm = (
            np.float32(self.meta["total_fieldnorm"]) /
            np.float32(self.num_docs)) if self.num_docs else np.float32(0)
        self._fn_ids: np.ndarray | None = None
        self._doc_cols: dict[str, np.ndarray] = {}
        self._src_docs: list | None = None
        self._src_vals: dict = {}
        self._src_kinds: dict | None = None
        self._termdict: pd.DataFrame | None = None
        self._term_index: dict[str, int] | None = None
        self._postings_tbl = None
        # column -> numpy view of the pinned table (_postings_index)
        self._postings_cols: dict = {}
        self._docs_md: pq.FileMetaData | None = None
        self._docs_schema: pa.Schema | None = None
        self._docs_rg_starts: np.ndarray | None = None
        # decoded doc-store row groups by index: zero-copy slices of
        # the reads that fetched them
        self._doc_blocks: dict[int, pa.Table] = {}
        # bytes this reader ACTUALLY pins right now. Grows as lazy loads
        # land (decompressed termdict/postings, touched doc columns,
        # fieldnorms, WAND cursor metadata) — the earlier on-disk
        # (zstd-compressed) estimate under-counted pinned memory by the
        # decompression factor times the touched-column count, so
        # QW_READER_CACHE_BYTES did not actually bound executor memory
        self._pinned_bytes = 0

    @property
    def cache_footprint(self) -> int:
        return self._pinned_bytes

    def _pin(self, nbytes: int) -> None:
        """Record newly pinned bytes and re-enforce the process budget —
        growth happens lazily long after get_reader's insert check."""
        with _READER_LOCK:
            self._pinned_bytes += int(nbytes)
            _enforce_reader_budget()

    # cache whole termdict/postings files when small enough — the analog
    # of the reference's hotcache + leaf cache (split opened in one read,
    # docs/internals/split-format.md; leaf_cache.rs). Above the cap we
    # fall back to filtered parquet reads (predicate pushdown).
    CACHE_FILE_BYTES = 256 * 1024 * 1024

    # -- raw data access ---------------------------------------------------

    def docs_schema(self) -> pa.Schema:
        """Arrow schema of docs.parquet. Its footer (FileMetaData, schema,
        row-group start offsets) is parsed once per reader and pinned."""
        if self._docs_md is None:
            md = pq.read_metadata(os.path.join(self.seg_dir, "docs.parquet"))
            starts = np.cumsum([0] + [md.row_group(i).num_rows
                                      for i in range(md.num_row_groups)],
                               dtype=np.int64)
            with _READER_LOCK:  # concurrent first fetches pin it once
                if self._docs_md is None:
                    self._docs_schema = md.schema.to_arrow_schema()
                    self._docs_rg_starts = starts
                    self._docs_md = md
                    self._pin(md.serialized_size + starts.nbytes)
        return self._docs_schema

    def _docs_file(self) -> pq.ParquetFile:
        """docs.parquet reopened against the cached footer; the reader
        holds no file handle between reads."""
        self.docs_schema()
        return pq.ParquetFile(os.path.join(self.seg_dir, "docs.parquet"),
                              metadata=self._docs_md)

    def read_docs(self, doc_ids) -> pa.Table:
        """Doc-store rows of the given local doc ids, in that order, with
        every column but `_seg_doc`. Locates the row groups holding them
        (`_seg_doc` is the row index, so bisecting the cumulative row
        counts finds each id), decodes the ones this reader does not
        hold yet in one read, then one `take` over the needed groups.
        Decoded groups stay in the reader, like the reference's doc-store
        block cache (the segment is immutable, so they never go stale)."""
        cols = [c for c in self.docs_schema().names if c != "_seg_doc"]
        starts = self._docs_rg_starts
        ids = np.asarray(doc_ids, dtype=np.int64)
        rg = np.searchsorted(starts, ids, side="right") - 1
        groups = np.unique(rg)
        if not len(groups):
            return self._docs_schema.empty_table().select(cols)
        blocks = {g: self._doc_blocks.get(g) for g in groups.tolist()}
        missing = [g for g, b in blocks.items() if b is None]
        if missing:
            with self._docs_file() as f:
                t = f.read_row_groups(missing, columns=cols)
            off = 0
            for g in missing:
                n = int(starts[g + 1] - starts[g])
                blk = t.slice(off, n)
                off += n
                # a concurrent fetch may have inserted it first: keep
                # one copy, and count it once
                blocks[g] = self._doc_blocks.setdefault(g, blk)
                if blocks[g] is blk:
                    self._pin(blk.nbytes)
        sizes = starts[groups + 1] - starts[groups]
        # each group's first row within the concatenated blocks
        base = np.cumsum(sizes) - sizes
        return pa.concat_tables(list(blocks.values())).take(pa.array(
            ids - starts[rg] + base[np.searchsorted(groups, rg)]))

    def _docs_column(self, col: str) -> pa.ChunkedArray:
        if col not in self.doc_fields():
            # ParquetFile.read skips unknown names; keep read_table's error
            raise pa.ArrowInvalid(
                f"No match for FieldRef.Name({col}) in docs.parquet")
        with self._docs_file() as f:
            return f.read(columns=[col]).column(0)

    def fieldnorm_ids(self) -> np.ndarray:
        if self._fn_ids is None:
            fn = self._docs_column("fieldnorm_id").to_numpy().astype(
                np.int64)
            with _READER_LOCK:  # concurrent cold searches pin it once
                if self._fn_ids is None:
                    self._fn_ids = fn
                    self._pin(fn.nbytes)
        return self._fn_ids

    def doc_column(self, col: str) -> np.ndarray:
        if col not in self._doc_cols:
            a = np.asarray(self._docs_column(col).to_pandas())
            self._doc_cols[col] = a
            # object columns (strings/ip/bytes): nbytes counts only the
            # 8B pointers; deep-measure once at load (values immutable)
            self._pin(int(pd.Series(a).memory_usage(index=False,
                                                    deep=True))
                      if a.dtype == object else a.nbytes)
        return self._doc_cols[col]

    def source_values(self, path: str,
                      keep_lists: bool = False) -> np.ndarray:
        """Per-doc values of a dotted path, extracted from the stored
        `__source` JSON — the dynamic fast-field analog (the reference
        materializes real columnar fast fields for `dynamic_mapping:
        {fast: true}` paths; we answer sort/agg on dynamic paths from
        the doc store instead, segment-local and cached per reader —
        at 100 TB a hot dynamic sort key should be promoted to a
        mapped fast field, which IS columnar here).

        All-numeric paths come back float64 with NaN for missing
        (missing-last sorting falls out of na_position); mixed-type
        paths stay object arrays.  ``keep_lists=True`` (the
        aggregation path) keeps array values as lists — every doc's
        value is then normalized to a list so terms aggs can explode a
        multi-valued field; the default drops lists to None (sort keys
        must be scalars)."""
        cached = self._src_vals.get((path, keep_lists))
        if cached is not None:
            return cached
        vals: list = []
        numeric = True
        any_list = False
        for d in self._source_docs():
            cur = source_path_value(d, path)
            if isinstance(cur, dict):
                cur = None
            if isinstance(cur, list):
                if keep_lists:
                    any_list = True
                    numeric = False
                else:
                    cur = None  # sort keys must be scalars
            if cur is not None and not isinstance(cur, list) \
                    and (isinstance(cur, bool)
                         or not isinstance(cur, (int, float))):
                numeric = False
            vals.append(cur)
        if any_list:
            # normalize: every value is a list (ES treats a scalar as
            # a one-element array field)
            vals = [v if isinstance(v, list)
                    else None if v is None else [v] for v in vals]
            arr = np.empty(len(vals), dtype=object)
            arr[:] = vals
        elif numeric:
            arr = np.array([float(v) if v is not None else np.nan
                            for v in vals], dtype=np.float64)
        else:
            arr = np.array(vals, dtype=object)
        self._src_vals[(path, keep_lists)] = arr
        self._pin(arr.nbytes if arr.dtype != object else
                  int(pd.Series(arr).memory_usage(index=False,
                                                  deep=True)))
        return arr

    def source_field_kinds(self, exclude: set | None = None) -> dict:
        """Per dynamic path: which JSON kinds appear in THIS segment —
        {"str","int","float","bool"} flags plus "coerced" (int AND
        float at the same path in the same segment: the columnar side
        coerced ints to double, so `long` exists only as indexed terms
        — the reference's field-caps aggregatable=false case).  Paths
        under mapped columns are excluded by the caller."""
        if self._src_kinds is not None:
            return self._src_kinds
        kinds: dict[str, set] = {}

        def walk(prefix, node):
            if isinstance(node, dict):
                for k, v in node.items():
                    walk(f"{prefix}.{k}" if prefix else str(k), v)
            elif isinstance(node, (list, tuple)):
                for v in node:
                    walk(prefix, v)
            elif node is not None:
                s = kinds.setdefault(prefix, set())
                if isinstance(node, bool):
                    s.add("bool")
                elif isinstance(node, int):
                    s.add("int")
                elif isinstance(node, float):
                    s.add("float")
                else:
                    s.add("str")

        for d in self._source_docs():
            if isinstance(d, dict):
                walk("", d)
        out = {}
        for path, s in kinds.items():
            if exclude and path in exclude:
                continue
            flags = {k: True for k in s}
            if "int" in s and "float" in s:
                flags["coerced"] = True
            out[path] = flags
        self._src_kinds = out
        return out

    def _source_docs(self) -> list:
        """Every doc's parsed `__source` JSON (None if absent or bad)."""
        if self._src_docs is None:
            docs = []
            for s in self.doc_column("__source"):
                try:
                    docs.append(json.loads(s)
                                if isinstance(s, str) else None)
                except json.JSONDecodeError:
                    docs.append(None)
            self._src_docs = docs
        return self._src_docs

    def sort_keys(self, col: str, kind: str) -> "_SortColumn":
        """A sort field's _SortColumn (kind from sort_spec), cached."""
        ck = ("__sort__", col, kind)
        got = self._doc_cols.get(ck)
        if got is None:
            if kind == "val":
                # a doc column, else (dynamic mode with stored source) a
                # dotted source path; a non-scalar value is missing
                got = _SortColumn.of_values(
                    self._docs_column(col).to_pylist()
                    if col in self.doc_fields() or not self.dynamic
                    or "__source" not in self.doc_fields() else
                    [v if isinstance(v, (str, int, float)) else None
                     for v in (source_path_value(d, col)
                               for d in self._source_docs())])
            else:
                arr = self._docs_column(col)
                if kind == "i64" and not pa.types.is_integer(arr.type):
                    arr = arr.cast(pa.int64())  # timestamps: their ticks
                miss = np.asarray(arr.is_null().to_numpy(), dtype=bool)
                vals = arr.fill_null(False if kind == "bool" else 0
                                     ).to_numpy()
                got = _SortColumn.typed(vals, kind, miss | (
                    np.isnan(vals) if kind == "f64" else False))
            self._doc_cols[ck] = got
            objs = 0 if got.vals is None else len(got.vals) + len(got.uniq)
            self._pin(9 * len(got.keys) + 64 * objs)
        return got

    def sortable_column(self, col: str) -> np.ndarray:
        """A doc column, else (dynamic mode with stored source) the
        path's values from `__source` (find_field_or_hit_dynamic for
        the sort/agg value path)."""
        if col in self.doc_fields():
            return self.doc_column(col)
        if self.dynamic and "__source" in self.doc_fields():
            return self.source_values(col)
        return self.doc_column(col)  # raises its usual error

    def _cached_termdict(self) -> pd.DataFrame | None:
        if self._termdict is None:
            path = os.path.join(self.seg_dir, "termdict.parquet")
            if os.path.getsize(path) > self.CACHE_FILE_BYTES:
                return None
            td = pq.read_table(path).to_pandas()
            index = {t: i for i, t in enumerate(td["term"])}
            with _READER_LOCK:  # concurrent cold searches pin it once
                if self._termdict is None:
                    self._term_index = index
                    # views of the frame's own buffers: no extra bytes
                    self._term_ids = td["term_id"].to_numpy()
                    self._term_dfs = td["doc_freq"].to_numpy()
                    # set last: a lock-free reader that sees the frame
                    # sees its index too
                    self._termdict = td
                    # dict slots reference the SAME str objects as the
                    # frame (already deep-counted); ~100 B/slot covers
                    # the hash table
                    self._pin(int(td.memory_usage(index=False,
                                                  deep=True).sum())
                              + 100 * len(index))
        return self._termdict

    def lookup_terms(self, terms: list[str]) -> pd.DataFrame:
        """termdict rows for the given terms (in-memory dict when cached,
        else predicate pushed to parquet)."""
        td = self._cached_termdict()
        if td is not None:
            rows = [self._term_index[t] for t in set(terms)
                    if t in self._term_index]
            return td.iloc[sorted(rows)]
        t = pq.read_table(os.path.join(self.seg_dir, "termdict.parquet"),
                          filters=[("term", "in", list(set(terms)))])
        return t.to_pandas()

    def scan_terms(self, predicate, include_dynamic: bool = False,
                   prefix: str | None = None) -> pd.DataFrame:
        """Termdict scan with a pandas predicate (wildcard/regex/
        list_terms path). Dynamic-namespace terms (\\x01-prefixed) are
        excluded unless asked for — a text-field wildcard must not match
        them.

        `prefix` is an optional literal prefix pushed down to the read
        (the automaton-over-FST idea of wildcard_query.rs:79-148 mapped
        onto a sorted parquet termdict): cold reads become a term-range
        parquet filter (row-group min/max stats prune — the termdict is
        written term-sorted), cached reads a binary-search slice. The
        predicate still runs on the pruned slice, so the bound is pure
        pruning, never correctness."""
        df = self._cached_termdict()
        if df is None:
            filters = None
            if prefix:
                filters = [("term", ">=", prefix)]
                up = _prefix_upper(prefix)
                if up is not None:
                    filters.append(("term", "<", up))
            df = pq.read_table(os.path.join(self.seg_dir,
                                            "termdict.parquet"),
                               filters=filters).to_pandas()
        elif prefix:
            terms = df["term"].to_numpy()
            lo = int(np.searchsorted(terms, prefix, side="left"))
            up = _prefix_upper(prefix)
            hi = int(np.searchsorted(terms, up, side="left")) \
                if up is not None else len(terms)
            df = df.iloc[lo:hi]
        mask = predicate(df["term"])
        if not include_dynamic and self.dynamic:
            # both dynamic namespaces (\x01 exact, \x02 numeric) sort
            # below every tokenizer-produced term
            mask &= df["term"] >= "\x03"
        return df[mask]

    @property
    def dynamic(self) -> bool:
        return bool(self.meta.get("dynamic", False))

    def dyn_normalizer(self, path: str) -> str | None:
        """Fast-value normalizer for a dynamic path: mapped dyn-text
        roots (object/json text fields) keep their own (none unless
        configured) — only CATCH-ALL dynamic paths take the
        dynamic_mapping fast normalizer (0007: repo.name stays
        case-sensitive while actor.login lowercases)."""
        for root in (self.meta.get("dyn_text_fields") or {}):
            if path == root or path.startswith(root + "."):
                return None
        return self.meta.get("dynamic_fast_normalizer")

    def dyn_analyzer(self, field: str) -> str:
        """Analyzer owning a dynamic-namespace path (longest mapped
        root wins, else the catch-all dynamic tokenizer)."""
        from ..index.builder import resolve_dyn_analyzer
        return resolve_dyn_analyzer(
            field, self.meta.get("dynamic_tokenizer", "raw"),
            self.meta.get("dyn_text_fields") or None)

    def doc_fields(self) -> set[str]:
        """Stored doc-map column names, from the cached footer."""
        if not hasattr(self, "_doc_field_names"):
            self._doc_field_names = set(self.docs_schema().names)
        return self._doc_field_names

    def _attr_value(self, field: str, value, dtype):
        """Coerce one query literal for an attribute column, honoring
        typed fast fields (field_mapping_type.rs:42-44): ip literals
        normalize to the sortable hex transport the builder stored, so
        equality AND range comparisons are numeric; bytes literals
        base64-decode. Everything else falls through to dtype coercion."""
        ftype = self.meta.get("field_types", {}).get(field)
        if ftype == "ip":
            try:
                return ip_norm_one(value)
            except ValueError as e:
                raise InvalidQueryValue(str(e)) from None
        if ftype == "bytes":
            try:
                return bytes_from_b64([value])[0]
            except ValueError as e:
                raise InvalidQueryValue(str(e)) from None
        if ftype == "datetime":
            # datetime columns store epoch millis; query literals may
            # be rfc3339, bare dates (2023/05/25), or epoch numbers
            # scaled by magnitude (quickwit-datetime lenient parsing)
            from ..pipeline.doc_mapper import parse_datetime_bound
            ms = parse_datetime_bound(value)
            if ms is None:
                raise InvalidQueryValue(
                    f"cannot parse {value!r} as a datetime for "
                    f"field {field!r}")
            return ms
        return _coerce(value, dtype)

    def _dynamic_range_ids(self, node: A.Range) -> np.ndarray:
        """Range over an unmapped numeric path: the builder indexes
        numeric leaves as sortable f64-bit terms in the \\x02 namespace,
        so a numeric range is a lexicographic term-range scan + posting
        union (the reference's typed dynamic-field range resolution).
        Open bounds (gt/lt) use nextafter to stay exclusive."""
        import math

        from ..index.builder import dynamic_num_key
        lo = -math.inf
        hi = math.inf  # keys compared as [lo_key, hi_key]; see below
        try:
            if node.gte is not None:
                lo = max(lo, float(node.gte))
            if node.gt is not None:
                lo = max(lo, math.nextafter(float(node.gt), math.inf))
            if node.lte is not None:
                hi = min(hi, float(node.lte))
            if node.lt is not None:
                hi = min(hi, math.nextafter(float(node.lt),
                                            -math.inf))
        except (TypeError, ValueError):
            # non-numeric bounds: a STRING range over the path's fast
            # values, normalized like the fast column would be
            # (rest-api-tests 0007: `actor.login: {gte: "H"}` under
            # the lowercase normalizer is case-insensitive)
            return self._dynamic_string_range_ids(node)
        if hi < lo:
            return np.zeros(0, dtype=np.int64)
        lo_key = dynamic_num_key(node.field, lo)
        # inclusive hi: compare <= hi_key (every key is the same fixed
        # width, so <= on the encoded string is exact)
        hi_key = dynamic_num_key(node.field, hi)
        td = self.scan_terms(lambda s: (s >= lo_key) & (s <= hi_key),
                             include_dynamic=True,
                             prefix=f"\x02{node.field}\x00")
        return self._union_postings_docids(td["term_id"].tolist())

    def _dynamic_string_range_ids(self, node: A.Range) -> np.ndarray:
        norm = self.dyn_normalizer(node.field)

        def nz(x):
            return x.lower() if norm == "lowercase" \
                and isinstance(x, str) else x
        if "__source" not in self.doc_fields():
            # no stored source (legacy dynamic index): range over the
            # exact \x01 terms instead
            pfx = f"\x01{node.field}\x00"

            def pred(s):
                vs = s.str.slice(len(pfx))
                m = s.str.startswith(pfx)
                if node.gte is not None:
                    m &= vs >= str(node.gte)
                if node.gt is not None:
                    m &= vs > str(node.gt)
                if node.lte is not None:
                    m &= vs <= str(node.lte)
                if node.lt is not None:
                    m &= vs < str(node.lt)
                return m
            td = self.scan_terms(pred, prefix=pfx,
                                 include_dynamic=True)
            return self._union_postings_docids(td["term_id"].tolist())
        vals = self.source_values(node.field)
        n = len(vals)
        keep = np.zeros(n, dtype=bool)
        for i in range(n):
            v = vals[i]
            if not isinstance(v, str):
                continue
            v = nz(v)
            ok = True
            if node.gte is not None:
                ok &= v >= nz(str(node.gte))
            if node.gt is not None:
                ok &= v > nz(str(node.gt))
            if node.lte is not None:
                ok &= v <= nz(str(node.lte))
            if node.lt is not None:
                ok &= v < nz(str(node.lt))
            keep[i] = ok
        return np.nonzero(keep)[0].astype(np.int64)

    def _union_postings_docids(self, term_ids: list) -> np.ndarray:
        """Docid union across many terms (the wildcard / dynamic-exists /
        dynamic-range multi-term shapes): fetches ONLY the docid blobs
        (column-pruned) and skips the tf varint decode — no pandas
        per-row objects in the loop."""
        if not term_ids:
            return _union_ids([])
        pr = self.postings_rows([int(t) for t in term_ids],
                                columns=["docid_blob"])
        sets = [np.cumsum(varint_decode(b).astype(np.int64))
                for b in pr["docid_blob"].to_numpy()]
        return _union_ids(sets)

    def _dynamic_term(self, field: str, value) -> str:
        """Dynamic-mode term for an unmapped path
        (find_field_or_hit_dynamic, quickwit-query/src/query_ast/
        utils.rs): exact `\\x01path\\x00value` in the shared termdict."""
        if isinstance(value, bool):
            value = "true" if value else "false"
        return f"\x01{field}\x00{value}"

    def has_postings_column(self, col: str) -> bool:
        if self._postings_tbl is not None:
            return col in self._postings_tbl.schema.names
        schema = pq.read_schema(os.path.join(self.seg_dir,
                                             "postings.parquet"))
        return col in schema.names

    def postings_rows(self, term_ids: list[int],
                      columns: list[str] | None = None) -> pd.DataFrame:
        # dedup like the cold path's `in` filter (take() would duplicate
        # rows for duplicate ids — a silent contract mismatch)
        ids = sorted({int(i) for i in term_ids})
        tbl = self._postings_table()
        if tbl is not None:
            # postings rows are ordered by term_id == row index; select
            # BEFORE take so a metadata/docid-only request (wildcard and
            # regex unions ask for docid_blob alone) skips the
            # arrow->pandas conversion of the other per-block list
            # columns — that conversion dominates warm latency
            if columns is not None:
                tbl = tbl.select(columns)
            return tbl.take(ids).to_pandas()
        # uncached (large file): prune to the requested columns so
        # metadata-only lookups (WAND bounds) never pay the posting-blob
        # byte read
        t = pq.read_table(os.path.join(self.seg_dir, "postings.parquet"),
                          filters=[("term_id", "in", ids)], columns=columns)
        return t.to_pandas()

    def _postings_table(self) -> pa.Table | None:
        """The whole postings file, read and pinned once when it is at
        most CACHE_FILE_BYTES; None above the cap."""
        if self._postings_tbl is None:
            path = os.path.join(self.seg_dir, "postings.parquet")
            if os.path.getsize(path) > self.CACHE_FILE_BYTES:
                return None
            tbl = pq.read_table(path)
            if any(c.num_chunks > 1 for c in tbl.columns):
                tbl = tbl.combine_chunks()
            cols = _postings_index(tbl)
            # int32 offsets are widened into a copy (shared arrays count
            # once); int64 ones are views
            arrays = {id(a): a for v in cols.values()
                      for a in (v if isinstance(v, tuple) else (v,))}
            owned = _owned_nbytes(arrays.values())
            with _READER_LOCK:  # concurrent cold searches pin it once
                if self._postings_tbl is None:
                    # index first: a lock-free reader that sees the
                    # table sees its column index too
                    self._postings_cols = cols
                    self._postings_tbl = tbl
                    self._pin(tbl.nbytes + owned)
        return self._postings_tbl

    # -- leaf evaluation -----------------------------------------------------

    def _term_row(self, term: str) -> tuple[int, int] | None:
        """(term_id, doc_freq) via the in-memory term index when cached."""
        td = self._cached_termdict()
        if td is not None:
            i = self._term_index.get(term)
            if i is None:
                return None
            return int(self._term_ids[i]), int(self._term_dfs[i])
        rows = self.lookup_terms([term])
        if len(rows) == 0:
            return None
        return int(rows.iloc[0]["term_id"]), int(rows.iloc[0]["doc_freq"])

    def _postings_cells(self, term_id: int, cols: list[str]) -> list:
        """One posting row's cells, sliced from numpy views of the cached
        arrow table: no arrow->pandas or `as_py` conversion per cell.
        Blob cells are memoryviews and list cells numpy arrays, both
        views into the pinned table. Above the cache cap the row is read
        alone and its cells are copies (bytes and owned arrays)."""
        if self._postings_table() is not None:
            return _row_cells(self._postings_cols, term_id, cols)
        row = pq.read_table(os.path.join(self.seg_dir, "postings.parquet"),
                            filters=[("term_id", "=", term_id)],
                            columns=cols)
        return [bytes(v) if isinstance(v, memoryview) else
                v.copy() if isinstance(v, np.ndarray) else v
                for v in _row_cells(_postings_index(row), 0, cols)]

    def term_postings(self, term: str) -> tuple[np.ndarray, np.ndarray, int]:
        """(docids, tfs, doc_freq) for one text term; empty if absent."""
        tr = self._term_row(term)
        if tr is None:
            z = np.zeros(0, dtype=np.int64)
            return z, z, 0
        term_id, doc_freq = tr
        docid_blob, tf_blob = self._postings_cells(
            term_id, ["docid_blob", "tf_blob"])
        docids, tfs = decode_postings(docid_blob, tf_blob)
        return docids, tfs, doc_freq

    @property
    def has_positions(self) -> bool:
        return self.record == "position"

    def term_postings_positions(self, term: str):
        """(docids, tfs, doc_freq, positions, run_starts); positions are
        token ordinals grouped per posting (record="position" only)."""
        tr = self._term_row(term)
        if tr is None:
            z = np.zeros(0, dtype=np.int64)
            return z, z, 0, z, z
        term_id, doc_freq = tr
        docid_blob, tf_blob, pos_blob = self._postings_cells(
            term_id, ["docid_blob", "tf_blob", "pos_blob"])
        docids, tfs = decode_postings(docid_blob, tf_blob)
        pos, run_starts = decode_positions(pos_blob, tfs)
        return docids, tfs, doc_freq, pos, run_starts

    def eval(self, node: A.Node, text_field: str, scoring: bool = True
             ) -> _Scored:
        if isinstance(node, A.MatchAll):
            ids = np.arange(self.num_docs, dtype=np.int64)
            return _Scored(ids, np.ones(self.num_docs, dtype=np.float32)
                           if scoring else None)
        if isinstance(node, A.MatchNone):
            return _Scored.empty()
        if isinstance(node, A.Boost):
            inner = self.eval(node.inner, text_field, scoring)
            if inner.scores is not None:
                inner = _Scored(inner.docids,
                                (inner.scores * np.float32(node.boost)
                                 ).astype(np.float32))
            return inner
        if isinstance(node, A.FullText):
            if node.field == text_field:
                toks = _analyze(node.text, self.tokenizer)
            elif node.field not in self.doc_fields() and self.dynamic:
                # full-text on a dynamic-namespace path analyzes the
                # query with the FIELD's analyzer (query_ast/utils.rs
                # find_field_or_hit_dynamic + the json field's
                # indexing options); raw = one exact term
                an = self.dyn_analyzer(node.field)
                toks = _analyze(node.text, an) \
                    if an != "raw" else [node.text]
            else:
                toks = [node.text]
            if not toks:
                if node.zero_terms_all:
                    # ES match zero_terms_query: "all"
                    return self.eval(A.MatchAll(), text_field, scoring)
                return _Scored.empty()
            terms = tuple(A.Term(node.field, t) for t in toks)
            if len(terms) == 1:
                return self.eval(terms[0], text_field, scoring)
            b = A.Bool(must=terms) if node.operator == "and" \
                else A.Bool(should=terms)
            return self.eval(b, text_field, scoring)
        if isinstance(node, A.Term):
            if node.field == text_field:
                docids, tfs, df = self.term_postings(node.value)
                if not scoring or df == 0:
                    return _Scored(docids, None if not scoring else
                                   np.zeros(0, dtype=np.float32))
                w = Bm25Weight(df, self.num_docs, float(self._avg_fieldnorm))
                fn = self.fieldnorm_ids()[docids]
                if self.record == "basic":
                    tfs = np.ones(len(tfs), dtype=np.int64)
                return _Scored(docids, w.score(tfs, fn))
            if node.field not in self.doc_fields() and self.dynamic:
                # unmapped path -> dynamic-field exact term
                docids, _tfs, _df = self.term_postings(
                    self._dynamic_term(node.field, node.value))
                if not scoring:
                    return _Scored(docids, None)
                idf = idf_f32(len(docids), self.num_docs) \
                    if len(docids) else np.float32(0)
                return _Scored(docids, np.full(len(docids), idf,
                                               dtype=np.float32))
            # attribute term (tag / keyword column)
            col = self.doc_column(node.field)
            mask = col == self._attr_value(node.field, node.value, col.dtype)
            docids = np.nonzero(mask)[0].astype(np.int64)
            if not scoring:
                return _Scored(docids, None)
            idf = idf_f32(len(docids), self.num_docs) if len(docids) else \
                np.float32(0)
            return _Scored(docids, np.full(len(docids), idf,
                                           dtype=np.float32))
        if isinstance(node, A.TermSet):
            if node.field == text_field:
                sets = [self.term_postings(v)[0] for v in node.values]
                ids = _union_ids(sets)
            elif node.field not in self.doc_fields() and self.dynamic:
                sets = [self.term_postings(
                    self._dynamic_term(node.field, v))[0]
                    for v in node.values]
                ids = _union_ids(sets)
            else:
                col = self.doc_column(node.field)
                vals = {self._attr_value(node.field, v, col.dtype)
                        for v in node.values}
                ids = np.nonzero(np.isin(col, list(vals)))[0].astype(np.int64)
            return _Scored(ids, np.ones(len(ids), dtype=np.float32)
                           if scoring else None)
        if isinstance(node, A.Range):
            if node.field not in self.doc_fields() and self.dynamic:
                ids = self._dynamic_range_ids(node)
                return _Scored(ids, np.ones(len(ids), dtype=np.float32)
                               if scoring else None)
            col = self.doc_column(node.field)
            if col.dtype == object:
                # string/ip/bytes columns may hold None: Python-object
                # comparison against None raises, so restrict the
                # compare to non-null rows (nulls never match a range)
                valid = pd.notna(col)
                vals = col[valid]
                m = np.ones(len(vals), dtype=bool)
                if node.gte is not None:
                    m &= vals >= self._attr_value(node.field, node.gte,
                                                  col.dtype)
                if node.gt is not None:
                    m &= vals > self._attr_value(node.field, node.gt,
                                                 col.dtype)
                if node.lte is not None:
                    m &= vals <= self._attr_value(node.field, node.lte,
                                                  col.dtype)
                if node.lt is not None:
                    m &= vals < self._attr_value(node.field, node.lt,
                                                 col.dtype)
                mask = np.zeros(len(col), dtype=bool)
                mask[np.nonzero(valid)[0][m]] = True
                ids = np.nonzero(mask)[0].astype(np.int64)
                return _Scored(ids, np.ones(len(ids), dtype=np.float32)
                               if scoring else None)
            mask = np.ones(len(col), dtype=bool)
            if node.gte is not None:
                mask &= col >= self._attr_value(node.field, node.gte,
                                                col.dtype)
            if node.gt is not None:
                mask &= col > self._attr_value(node.field, node.gt,
                                               col.dtype)
            if node.lte is not None:
                mask &= col <= self._attr_value(node.field, node.lte,
                                                col.dtype)
            if node.lt is not None:
                mask &= col < self._attr_value(node.field, node.lt,
                                               col.dtype)
            ids = np.nonzero(mask)[0].astype(np.int64)
            return _Scored(ids, np.ones(len(ids), dtype=np.float32)
                           if scoring else None)
        if isinstance(node, A.FieldPresence):
            if node.field not in self.doc_fields() and self.dynamic:
                # exists on a dynamic path: prefix scan of its
                # namespace. A PARENT path exists when any subfield
                # does (`object_multi:*` matches docs with any
                # object_multi.* leaf — the reference's qw_search_api
                # 0003 exists semantics), so scan both `path\0` and
                # `path.` prefixes.
                tids: list = []
                for pfx in (f"\x01{node.field}\x00",
                            f"\x01{node.field}."):
                    td = self.scan_terms(
                        lambda s, p=pfx: s.str.startswith(p),
                        prefix=pfx, include_dynamic=True)
                    tids.extend(td["term_id"].tolist())
                ids = self._union_postings_docids(tids)
                # mapped TYPED children of the path live in doc
                # columns, not the dynamic namespace: `object_multi:*`
                # must also count docs with a non-null
                # object_multi.object_fast_field column
                col_sets = [ids]
                for col in self.doc_fields():
                    if col.startswith(node.field + "."):
                        cmask = ~pd.isna(self.doc_column(col))
                        col_sets.append(
                            np.nonzero(np.asarray(cmask))[0]
                            .astype(np.int64))
                if len(col_sets) > 1:
                    ids = _union_ids(col_sets)
                return _Scored(ids, np.ones(len(ids), dtype=np.float32)
                               if scoring else None)
            col = self.doc_column(node.field)
            mask = ~pd.isna(col)
            ids = np.nonzero(np.asarray(mask))[0].astype(np.int64)
            return _Scored(ids, np.ones(len(ids), dtype=np.float32)
                           if scoring else None)
        if isinstance(node, (A.Wildcard, A.Regex)):
            import re
            if isinstance(node, A.Wildcard):
                # `\*`/`\?` are ESCAPED literals; a pattern left with
                # no live wildcard degrades to an analyzed term (the
                # reference's 0005 step 18: jour\? is the token "jour"
                # after analysis, not a one-char wildcard)
                parts: list[tuple[str, str]] = []
                live = False
                _i = 0
                _p = node.pattern
                while _i < len(_p):
                    c = _p[_i]
                    if c == "\\" and _i + 1 < len(_p):
                        parts.append(("lit", _p[_i + 1]))
                        _i += 2
                        continue
                    if c in "*?":
                        live = True
                        parts.append(("wc", c))
                    else:
                        parts.append(("lit", c))
                    _i += 1
                if not live:
                    literal = "".join(x for _k, x in parts)
                    return self.eval(
                        A.FullText(node.field, literal,
                                   operator="and"),
                        text_field, scoring)
                pat = "".join(
                    (".*" if x == "*" else ".") if k == "wc"
                    else re.escape(x) for k, x in parts)
                lit = ""
                for k, x in parts:
                    if k == "wc":
                        break
                    lit += x
            else:
                pat = node.pattern
                # longest literal prefix of the regex, conservatively: up
                # to the first metacharacter; a quantifier binds the
                # preceding char, so drop it from the literal. A TOP-LEVEL
                # alternation voids the prefix entirely: in "foo|bar" the
                # literal "foo" does not constrain the "bar" branch, so
                # pushing it down would drop that branch's matches.
                if _toplevel_alternation(pat):
                    lit = ""
                else:
                    m = re.match(r"[^\\.^$*+?{}\[\]|()]*", pat)
                    lit = m.group(0)
                    if lit and len(lit) < len(pat) \
                            and pat[len(lit)] in "*+?{":
                        lit = lit[:-1]
            rx = re.compile(f"^(?:{pat})$")
            if isinstance(node, A.Wildcard):
                # wildcard patterns are normalized with the field's
                # analyzer, like the reference ("Jou*al" matches the
                # lowercased token "journal" — 0005 step 14); raw /
                # whitespace analyzers keep case
                an = (self.tokenizer if node.field == text_field
                      else self.dyn_analyzer(node.field)
                      if node.field not in self.doc_fields()
                      and self.dynamic else "raw")
                if an not in ("raw", "whitespace"):
                    pat = pat.lower()
                    lit = lit.lower()
            if node.field == text_field:
                # vectorized C-level regex over the (prefix-pruned) term
                # dictionary — no per-term Python closure
                td = self.scan_terms(
                    lambda s: s.str.fullmatch(pat, na=False),
                    prefix=lit or None)
                ids = self._union_postings_docids(
                    td["term_id"].tolist())
            elif node.field not in self.doc_fields() and self.dynamic:
                # pattern anchored inside the path's namespace: match
                # the VALUE part of `\x01field\x00value` terms
                ns = f"\x01{node.field}\x00"
                td = self.scan_terms(
                    lambda s: (s.str.startswith(ns)
                               & s.str.slice(len(ns))
                               .str.fullmatch(pat, na=False)),
                    prefix=ns + lit, include_dynamic=True)
                ids = self._union_postings_docids(
                    td["term_id"].tolist())
            else:
                # factorize to uniques so the regex runs once per distinct
                # value (vectorized str.match), not once per row
                col = self.doc_column(node.field)
                codes, uniques = pd.factorize(pd.Series(col))
                matched = pd.Series(uniques).astype(str).str.match(
                    rx, na=False).to_numpy()
                mask = np.zeros(len(col), dtype=bool)
                valid = codes >= 0
                mask[valid] = matched[codes[valid]]
                ids = np.nonzero(mask)[0].astype(np.int64)
            return _Scored(ids, np.ones(len(ids), dtype=np.float32)
                           if scoring else None)
        if isinstance(node, A.Phrase):
            return self._eval_phrase(node, text_field, scoring)
        if isinstance(node, A.PhrasePrefix):
            return self._eval_phrase_prefix(node, text_field, scoring)
        if isinstance(node, A.Bool):
            return self._eval_bool(node, text_field, scoring)
        raise TypeError(f"unsupported query node {node!r}")

    def _eval_phrase(self, node: A.Phrase, text_field: str, scoring: bool,
                     last_term_alternatives: list[str] | None = None
                     ) -> _Scored:
        """Positional phrase match. Without position postings, degrades to
        term intersection (the reference's PhraseFallbackToIntersection,
        full_text_query.rs:36-163). Scoring mirrors the underlying
        library's phrase scorer: BM25 with tf = phrase frequency and
        idf summed over the phrase's terms."""
        dyn = (node.field != text_field
               and node.field not in self.doc_fields() and self.dynamic)
        override = getattr(node, "analyzer", None)
        if node.field == text_field:
            toks = _analyze(node.text, override or self.tokenizer)
            keys = list(toks)
        elif dyn:
            # dynamic-namespace phrase: analyze with the FIELD's
            # analyzer (or the query's `analyzer` override), look up
            # `\x01field\x00token` postings — their positions were
            # recorded per path with array-element gaps
            an = override or self.dyn_analyzer(node.field)
            toks = _analyze(node.text, an) \
                if an != "raw" else [node.text]
            keys = [f"\x01{node.field}\x00{t}" for t in toks]
        else:
            toks = [node.text]
            keys = list(toks)
        if not toks:
            return _Scored.empty()
        if not self.has_positions or not (node.field == text_field
                                          or dyn):
            terms = tuple(A.Term(node.field, t) for t in toks)
            if last_term_alternatives is not None:
                alts = tuple(A.Term(node.field, _strip_dyn_ns(t))
                             for t in last_term_alternatives)
                terms = terms[:-1] + (A.Bool(should=alts),) if alts else \
                    terms[:-1]
            if len(terms) == 1:
                return self.eval(terms[0], text_field, scoring)
            return self.eval(A.Bool(must=terms), text_field, scoring)
        posting_sets: list[list[tuple]] = []
        for i, t in enumerate(keys):
            is_last = i == len(keys) - 1
            variants = ([t] if not (is_last and last_term_alternatives
                                    is not None)
                        else last_term_alternatives)
            plist = []
            for v in variants:
                d, tf, df, pos, rs = self.term_postings_positions(v)
                if df:
                    plist.append((d, tf, df, pos, rs))
            if not plist:
                return _Scored.empty()
            posting_sets.append(plist)
        if len(toks) == 1:
            # single-token phrase == term query (but honor expansions)
            union = _union_ids([p[0] for p in posting_sets[0]])
            if not scoring:
                return _Scored(union, None)
            w = self._phrase_weight([p[2] for p in posting_sets[0]])
            tfs = np.zeros(len(union), dtype=np.int64)
            for d, tf, _df, _pos, _rs in posting_sets[0]:
                tfs[np.searchsorted(union, d)] += tf
            fn = self.fieldnorm_ids()[union]
            return _Scored(union, w.score(tfs, fn))
        # candidate docs: intersection of (per-slot union of variants)
        slot_docs = [_union_ids([p[0] for p in plist])
                     for plist in posting_sets]
        cand = slot_docs[0]
        for d in slot_docs[1:]:
            cand = _isect_idx(cand, d)[0]
        if len(cand) == 0:
            return _Scored.empty()
        # Vectorized across ALL candidate docs at once: every slot's
        # positions are gathered into one sorted array of packed
        # (candidate_ordinal << 33) | (position - slot + L) keys, then
        # phrase anchors survive slot-by-slot via sorted-set operations —
        # no per-document Python (the run offsets rs/tf make the gather a
        # single fancy-index per variant).
        slop = node.slop
        L = np.int64(len(toks))  # offset keeps adjusted positions >= 0
        slot_keys = [
            _gather_phrase_keys(plist, cand, i, L)
            for i, plist in enumerate(posting_sets)]
        anchors = slot_keys[0]
        for sk in slot_keys[1:]:
            if len(anchors) == 0 or len(sk) == 0:
                anchors = anchors[:0]
                break
            if slop == 0:
                anchors = _isect_idx(anchors, sk)[0]
            else:
                # anchor survives if this slot has a position within
                # `slop` of its expected place IN THE SAME DOC (the low
                # bound is clamped to the doc's key range so a previous
                # doc's high positions can't leak in)
                adjp = anchors & np.int64((1 << 33) - 1)
                doc_base = anchors - adjp
                lo = doc_base + np.maximum(adjp - slop, 0)
                hi = anchors + np.int64(slop)
                j = np.searchsorted(sk, lo, side="left")
                ok = (j < len(sk)) & (sk[np.minimum(j, len(sk) - 1)] <= hi)
                anchors = anchors[ok]
        if len(anchors) == 0:
            return _Scored.empty()
        # anchors are sorted, so each doc's anchors form one run
        doc_ords = anchors >> np.int64(33)
        firsts = np.flatnonzero(np.r_[True, doc_ords[1:] != doc_ords[:-1]])
        uords = doc_ords[firsts]
        freqs = np.diff(np.r_[firsts, len(doc_ords)])
        docids = cand[uords]
        if not scoring:
            return _Scored(docids, None)
        dfs = [min(p[2] for p in plist) for plist in posting_sets]
        w = self._phrase_weight(dfs)
        fn = self.fieldnorm_ids()[docids]
        return _Scored(docids, w.score(freqs.astype(np.int64), fn))

    def _phrase_weight(self, dfs: list[int]) -> Bm25Weight:
        """BM25 weight whose idf is the sum over the phrase's terms (the
        underlying library computes Bm25Weight::for_terms the same way)."""
        w = Bm25Weight(max(dfs[0], 1), self.num_docs,
                       float(self._avg_fieldnorm))
        idf_total = np.float32(0.0)
        for df in dfs:
            idf_total = np.float32(idf_total + idf_f32(df, self.num_docs))
        w.weight = np.float32(idf_total * (K1 + np.float32(1.0)))
        return w

    def _eval_phrase_prefix(self, node: A.PhrasePrefix, text_field: str,
                            scoring: bool) -> _Scored:
        """Expand the trailing prefix against the term dict (term order,
        capped at max_expansions — phrase_prefix_query.rs), then run the
        phrase with the expansion set in the last slot."""
        dyn = (node.field != text_field
               and node.field not in self.doc_fields() and self.dynamic)
        override = getattr(node, "analyzer", None)
        if node.field == text_field:
            toks = _analyze(node.text, override or self.tokenizer)
        elif dyn:
            an = override or self.dyn_analyzer(node.field)
            toks = _analyze(node.text, an) \
                if an != "raw" else [node.text]
        else:
            toks = [node.text]
        if not toks:
            return _Scored.empty()
        # prefix pushed to the termdict read: a binary-search slice /
        # parquet range filter instead of a full-dict startswith scan.
        # Dynamic paths expand inside their namespace only.
        prefix = (f"\x01{node.field}\x00{toks[-1]}" if dyn
                  else toks[-1])
        td = self.scan_terms(lambda s: s.str.startswith(prefix),
                             prefix=prefix, include_dynamic=dyn)
        expansions = sorted(td["term"].tolist())[:node.max_expansions]
        if not expansions:
            return _Scored.empty()
        phrase = A.Phrase(node.field, node.text)
        return self._eval_phrase(phrase, text_field, scoring,
                                 last_term_alternatives=expansions)

    def _eval_bool(self, node: A.Bool, text_field: str, scoring: bool
                   ) -> _Scored:
        result: _Scored | None = None
        if not node.must and not node.filter and not node.should:
            # positive-less bool (must_not only): the reference inserts
            # an implicit match-all so `-foo` excludes from ALL docs
            # (tantivy_query_ast.rs:310-321) — except an explicit
            # minimum_should_match > 0 with no shoulds matches nothing
            if (node.minimum_should_match or 0) > 0:
                return _Scored.empty()
            ids = np.arange(self.num_docs, dtype=np.int64)
            result = _Scored(ids, np.ones(len(ids), dtype=np.float32)
                             if scoring else None)
        # scoring AND over must clauses, in clause order
        for clause in node.must:
            s = self.eval(clause, text_field, scoring)
            result = s if result is None else _intersect(result, s)
        for clause in node.filter:
            s = self.eval(clause, text_field, False)
            result = _Scored(s.docids, None) if result is None \
                else _intersect(result, _Scored(s.docids, None))
        if scoring and result is not None and result.scores is None:
            # filter-only base: the reference wraps filter clauses in
            # ConstScoreQuery(q, 0.0) (tantivy_query_ast.rs:367), so a
            # doc matched only by filters scores 0.0 — filling ones here
            # (the old with_scores default) let filter-only docs outrank
            # genuine sub-1.0 BM25 hits when this bool was nested in a
            # should, and shifted every filter+should score by +1.0
            result = _Scored(result.docids,
                             np.zeros(len(result.docids), dtype=np.float32))
        if node.should:
            msm = node.minimum_should_match
            shoulds = [self.eval(c, text_field, scoring)
                       for c in node.should]
            if result is None:
                result = _union(shoulds, msm if msm is not None else 1)
            else:
                # should adds score to docs already matching must/filter;
                # an EXPLICIT minimum_should_match additionally gates on
                # >= msm matching should clauses (ES semantics — the
                # default with must present is msm=0)
                for s in shoulds:
                    result = _add_optional(result, s)
                if msm is not None and msm > 0:
                    gate = _union([_Scored(s.docids, None)
                                   for s in shoulds], msm)
                    keep = np.isin(result.docids, gate.docids,
                                   assume_unique=True)
                    result = _Scored(
                        result.docids[keep],
                        result.scores[keep]
                        if result.scores is not None else None)
        if result is None:
            return _Scored.empty()
        if node.must_not:
            for clause in node.must_not:
                s = self.eval(clause, text_field, False)
                keep = ~np.isin(result.docids, s.docids, assume_unique=True)
                result = _Scored(
                    result.docids[keep],
                    result.scores[keep] if result.scores is not None else None)
        return result


def _gather_phrase_keys(plist, cand: np.ndarray, slot_idx: int,
                        L: np.int64) -> np.ndarray:
    """All positions of one phrase slot across the candidate docs, packed
    as sorted (cand_ordinal << 33) | (pos - slot_idx + L) keys.

    plist holds (docids, tfs, df, positions, run_starts) per variant
    (several variants only for the prefix-expanded last slot). Positions
    fit 32 bits (token ordinal within a doc), ordinals fit 30, so the
    packing is collision-free in int64.
    """
    parts = []
    for d, tf, _df, pos, rs in plist:
        if len(d) == 0:
            continue
        j = np.clip(np.searchsorted(d, cand), 0, len(d) - 1)
        present = d[j] == cand
        doc_ord = np.nonzero(present)[0]
        jj = j[present]
        lens = tf[jj]
        total = int(lens.sum())
        if total == 0:
            continue
        out_start = np.r_[0, np.cumsum(lens)[:-1]]
        within = np.arange(total) - np.repeat(out_start, lens)
        src = np.repeat(rs[jj], lens) + within
        adj = pos[src] - np.int64(slot_idx) + L
        keys = (np.repeat(doc_ord, lens).astype(np.int64)
                << np.int64(33)) + adj
        parts.append(keys)
    if not parts:
        return np.zeros(0, dtype=np.int64)
    if len(parts) == 1:
        return parts[0]  # variant runs are (doc, pos)-sorted already
    return np.sort(np.concatenate(parts))


class InvalidQueryValue(ValueError):
    """A query value cannot be interpreted for the field's type (the
    reference rejects these at AST build time, term_query.rs value
    interpretation)."""


def _coerce(value, dtype):
    try:
        if np.issubdtype(dtype, np.bool_):
            # bool columns take "true"/"false" query literals
            if isinstance(value, str):
                if value.lower() in ("true", "1"):
                    return True
                if value.lower() in ("false", "0"):
                    return False
                raise ValueError(value)
            return bool(value)
        if np.issubdtype(dtype, np.integer):
            return int(value)
        if np.issubdtype(dtype, np.floating):
            return float(value)
    except TypeError:
        pass
    except ValueError:
        raise InvalidQueryValue(
            f"cannot interpret query value {value!r} for a "
            f"{np.dtype(dtype).name} field") from None
    return value


def _isect_idx(a: np.ndarray, b: np.ndarray
               ) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(common, ia, ib) of two sorted unique docid arrays: the common
    values in order and their indices in a and in b. One searchsorted of
    the shorter array into the longer; numpy's set intersection would
    concatenate and re-sort both."""
    swap = len(a) > len(b)
    short, long_ = (b, a) if swap else (a, b)
    if len(short) == 0:
        e = np.zeros(0, dtype=np.intp)
        return short[:0], e, e
    j = np.searchsorted(long_, short)
    hit = np.flatnonzero(long_[np.minimum(j, len(long_) - 1)] == short)
    js = j[hit]
    return (short[hit], js, hit) if swap else (short[hit], hit, js)


def _intersect(a: _Scored, b: _Scored) -> _Scored:
    common, ia, ib = _isect_idx(a.docids, b.docids)
    if a.scores is None and b.scores is None:
        return _Scored(common, None)
    sa = a.scores[ia] if a.scores is not None else np.float32(0)
    sb = b.scores[ib] if b.scores is not None else np.float32(0)
    return _Scored(common, (sa + sb).astype(np.float32))


def _add_optional(base: _Scored, opt: _Scored) -> _Scored:
    """Add opt's scores to base docs that also match opt (docs unchanged)."""
    if base.scores is None:
        base = base.with_scores()
    _common, ib, io = _isect_idx(base.docids, opt.docids)
    scores = base.scores.copy()
    if opt.scores is not None:
        scores[ib] = (scores[ib] + opt.scores[io]).astype(np.float32)
    return _Scored(base.docids, scores)


def _union_ids(sets: list[np.ndarray]) -> np.ndarray:
    """Sorted unique union of docid arrays (np.unique of their
    concatenation). The stable sort merges already-sorted runs, so the
    usual input, sorted posting lists, costs a merge, not a sort."""
    if not sets:
        return np.zeros(0, dtype=np.int64)
    ids = np.concatenate(sets).astype(np.int64, copy=False)
    ids.sort(kind="stable")
    if len(ids) < 2:
        return ids
    keep = np.empty(len(ids), dtype=bool)
    keep[0] = True
    np.not_equal(ids[1:], ids[:-1], out=keep[1:])
    return ids[keep]


def _union(parts: list[_Scored], minimum_should_match: int = 1) -> _Scored:
    all_ids = _union_ids([p.docids for p in parts])
    scores = np.zeros(len(all_ids), dtype=np.float32)
    counts = np.zeros(len(all_ids), dtype=np.int64)
    for p in parts:
        idx = np.searchsorted(all_ids, p.docids)
        counts[idx] += 1
        if p.scores is not None:
            scores[idx] = (scores[idx] + p.scores).astype(np.float32)
        else:
            scores[idx] = (scores[idx] + np.float32(1.0)).astype(np.float32)
    keep = counts >= minimum_should_match
    return _Scored(all_ids[keep], scores[keep])


# ---------------------------------------------------------------------------
# Root: segment pruning, leaf fan-out, merge, fetch
# ---------------------------------------------------------------------------

def _prune_bound(v):
    """Numeric pruning bound: ints (and int strings) stay int-exact,
    everything else compares as float. int(2.5) would TRUNCATE a float
    bound — Python compares int vs float exactly, so floats stay
    floats."""
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, int):
        return v
    if isinstance(v, str):
        try:
            return int(v)
        except ValueError:
            return float(v)
    return float(v)


def _is_number(v) -> bool:
    try:
        float(v)
        return True
    except (TypeError, ValueError):
        return False


class PruneIndex:
    """Vectorized segment pruning over manifest rows (built once per
    manifest version; the per-query dict walk it replaces,
    tests/oracle.py:prune_segments, costs ~80ms at 100k segments).

    Numeric bounds are widened by one ulp before the float compare, so
    precision loss near 2^63 can only UNDER-prune (safe); tag pruning
    uses a value->segment-indices inverted map."""

    def __init__(self, segments: list[dict], tag_fields: list[str]):
        self.segments = segments
        n = len(segments)
        self.n = n
        self.stats: dict[str, tuple] = {}
        cols: dict[str, list] = {}
        for i, s in enumerate(segments):
            for col, (lo, hi) in s.get("col_stats", {}).items():
                cols.setdefault(col, []).append((i, lo, hi))
        # string-stat columns (ip fast fields store hex-string min/max
        # whose lexical order IS the numeric IP order)
        self.str_stats: dict[str, tuple] = {}
        self.ip_cols = {c for s in segments
                        for c, t in s.get("field_types", {}).items()
                        if t == "ip"}
        # datetime fast fields: stats are epoch millis, query bounds
        # arrive in any accepted datetime form — coerce before compare
        self.dt_cols = {c for s in segments
                        for c, t in s.get("field_types", {}).items()
                        if t == "datetime"}
        for col, rows in cols.items():
            idx = np.array([r[0] for r in rows], dtype=np.int64)
            if col in self.ip_cols or any(
                    isinstance(r[1], str) and not _is_number(r[1])
                    for r in rows):
                self.str_stats[col] = (
                    idx,
                    np.array([r[1] for r in rows], dtype=object),
                    np.array([r[2] for r in rows], dtype=object))
                continue
            # plain float bounds: rounding is monotone, so a segment
            # whose true range overlaps the query range always survives
            # (precision loss past 2^53 can only UNDER-prune)
            lo = np.array([float(r[1]) for r in rows])
            hi = np.array([float(r[2]) for r in rows])
            self.stats[col] = (idx, lo, hi)
        self.tag_none: dict[str, np.ndarray] = {}
        self.tag_map: dict[str, dict] = {}
        for col in tag_fields:
            none = np.ones(n, dtype=bool)
            v2s: dict[str, list[int]] = {}
            for i, s in enumerate(segments):
                vals = s.get("tags", {}).get(col)
                if vals is None:
                    continue
                none[i] = False
                for v in vals:
                    v2s.setdefault(v, []).append(i)
            self.tag_none[col] = none
            self.tag_map[col] = {v: np.array(ix, dtype=np.int64)
                                 for v, ix in v2s.items()}

    def prune(self, node: A.Node, tag_fields: list[str]) -> list[dict]:
        tag_constraints = A.collect_tag_filters(node, tag_fields)
        range_constraints = A.collect_range_filters(node)
        if not tag_constraints and not range_constraints:
            return self.segments
        keep = np.ones(self.n, dtype=bool)
        for field, allowed in tag_constraints:
            if field not in self.tag_none:
                continue
            ok = self.tag_none[field].copy()
            vmap = self.tag_map[field]
            for v in allowed:
                ix = vmap.get(v)
                if ix is not None:
                    ok[ix] = True
            keep &= ok
        for rng in range_constraints:
            b_gte, b_gt, b_lte, b_lt = rng.gte, rng.gt, rng.lte, rng.lt
            if rng.field in self.dt_cols:
                from ..pipeline.doc_mapper import parse_datetime_bound
                conv, bad = [], False
                for b in (b_gte, b_gt, b_lte, b_lt):
                    if b is None:
                        conv.append(None)
                        continue
                    ms = parse_datetime_bound(b)
                    if ms is None:
                        bad = True
                        break
                    conv.append(ms)
                if bad:
                    continue  # unparseable bound: never prune
                b_gte, b_gt, b_lte, b_lt = conv
            sst = self.str_stats.get(rng.field)
            if sst is not None:
                idx, lo, hi = sst
                try:
                    def _b(v):
                        return ip_norm_one(v) if rng.field in self.ip_cols \
                            else str(v)
                    ok_rows = np.ones(len(idx), dtype=bool)
                    if rng.gte is not None:
                        ok_rows &= hi >= _b(rng.gte)
                    if rng.gt is not None:
                        ok_rows &= hi > _b(rng.gt)
                    if rng.lte is not None:
                        ok_rows &= lo <= _b(rng.lte)
                    if rng.lt is not None:
                        ok_rows &= lo < _b(rng.lt)
                except (TypeError, ValueError):
                    # mixed str/numeric stats across segments (schema
                    # drift) compare as object arrays and raise TypeError;
                    # either way keep the segments rather than crash
                    continue
                drop = idx[~ok_rows]
                keep[drop] = False
                continue
            st = self.stats.get(rng.field)
            if st is None:
                continue
            idx, lo, hi = st
            try:
                ok_rows = np.ones(len(idx), dtype=bool)
                # float compare decides the non-tied rows; rows tying
                # with the bound in FLOAT space are re-checked exactly
                # (int-exact, like _prune_bound) — floats alone would
                # wrongly prune strict bounds past 2^53 (e.g. a stat of
                # 2^53+1 vs gt=2^53 collapses to equality in float)
                for bound, col, op in ((b_gte, hi, "ge"),
                                       (b_gt, hi, "gt"),
                                       (b_lte, lo, "le"),
                                       (b_lt, lo, "lt")):
                    if bound is None:
                        continue
                    bf = float(bound)
                    if op == "ge":
                        fast, tie = col > bf, col == bf
                    elif op == "gt":
                        fast, tie = col > bf, col == bf
                    elif op == "le":
                        fast, tie = col < bf, col == bf
                    else:
                        fast, tie = col < bf, col == bf
                    res = fast.copy()
                    for j in np.nonzero(tie)[0]:
                        exact_stat = self.segments[idx[j]][
                            "col_stats"][rng.field]
                        v = exact_stat[1] if op in ("ge", "gt") \
                            else exact_stat[0]
                        b = _prune_bound(bound)
                        res[j] = (v >= b if op == "ge" else
                                  v > b if op == "gt" else
                                  v <= b if op == "le" else v < b)
                    ok_rows &= res
            except (TypeError, ValueError):
                continue  # non-numeric bound: no pruning
            # segments WITHOUT stats for this column are never pruned
            col_keep = np.ones(self.n, dtype=bool)
            col_keep[idx[~ok_rows]] = False
            keep &= col_keep
        return [self.segments[i] for i in np.nonzero(keep)[0]]


def _wand_shape(node: A.Node, text_field: str, tokenizer: str):
    """Detect pure term-AND / term-OR over the text field (the block-max
    prunable shapes). Returns (op, terms) or None."""
    if isinstance(node, A.FullText) and node.field == text_field:
        toks = _analyze(node.text, tokenizer)
        if len(toks) >= 1:
            return (node.operator, toks)
        return None
    if isinstance(node, A.Term) and node.field == text_field:
        return ("and", [node.value])
    if isinstance(node, A.Bool) and not node.must_not and not node.filter:
        clauses = node.must if node.must and not node.should else (
            node.should if node.should and not node.must else None)
        if clauses is None or (node.minimum_should_match or 1) > 1:
            return None
        terms = []
        for c in clauses:
            if isinstance(c, A.Term) and c.field == text_field:
                terms.append(c.value)
            elif isinstance(c, A.FullText) and c.field == text_field:
                toks = _analyze(c.text, tokenizer)
                if len(toks) != 1:
                    return None
                terms.append(toks[0])
            else:
                return None
        return ("and" if node.must else "or", terms)
    return None


from collections import OrderedDict

_READER_CACHE: "OrderedDict[str, SegmentReader]" = OrderedDict()
# guards _READER_CACHE and pinned-byte counts across the HTTP server's
# threads; reentrant because a budget check runs inside _pin
_READER_LOCK = threading.RLock()
# aggregate byte budget for per-reader termdict, postings and doc-store
# block caches (the analog of the reference's bounded split/fast-field
# caches, node_config/mod.rs:264-286); env-tunable for executor sizing
READER_CACHE_BUDGET_BYTES = int(os.environ.get(
    "QW_READER_CACHE_BYTES", 4 << 30))


def _enforce_reader_budget() -> None:
    """Evict oldest readers while the live pinned-byte sum exceeds the
    budget. Called both on reader insertion AND from SegmentReader._pin
    — readers grow lazily long after insertion (touched doc columns,
    decompressed postings, cursor metadata), so an insert-time-only
    check would not actually bound executor memory."""
    with _READER_LOCK:
        # sum over a snapshot: a footprint is read while the cache may
        # change under it
        total = sum(x.cache_footprint for x in list(_READER_CACHE.values()))
        while total > READER_CACHE_BUDGET_BYTES and len(_READER_CACHE) > 1:
            _sid, old = _READER_CACHE.popitem(last=False)
            total -= old.cache_footprint


def get_reader(seg_dir: str,
               tokenizer: str = "source_code_default") -> "SegmentReader":
    """Process-level LRU segment reader cache (termdict/fieldnorm reuse
    across queries — the analog of the reference's split/footer caches),
    evicting oldest readers past an aggregate byte budget of LIVE pinned
    bytes (decompressed, per touched structure — not on-disk sizes)."""
    with _READER_LOCK:
        r = _READER_CACHE.get(seg_dir)
        if r is not None:
            _READER_CACHE.move_to_end(seg_dir)
            return r
    r = SegmentReader(seg_dir, tokenizer)
    with _READER_LOCK:
        # another thread may have opened it meanwhile: share its reader
        r = _READER_CACHE.setdefault(seg_dir, r)
        _enforce_reader_budget()
    return r


# ---------------------------------------------------------------------------
# Leaf partial-request cache (the reference's leaf_cache.rs: a bounded
# cache of (split, request) -> LeafSearchResponse). Sound without any
# invalidation protocol because segments are immutable and
# content-addressed — a (seg_dir, request) pair can never go stale; a
# delete/merge produces a NEW segment id (deletes.py:86-92) and the old
# entries simply age out of the LRU. Lives at the leaf (segment_top_k)
# so both the in-process path and the long-lived executor python workers
# of the mapInPandas fan-out benefit.
# ---------------------------------------------------------------------------
_LEAF_CACHE: "OrderedDict[tuple, tuple[int, np.ndarray]]" = OrderedDict()
LEAF_CACHE_MAX_ENTRIES = int(os.environ.get("QW_LEAF_CACHE_ENTRIES", "512"))
LEAF_CACHE_MAX_ROWS = int(os.environ.get("QW_LEAF_CACHE_MAX_ROWS", "100000"))
_LEAF_CACHE_STATS = {"hits": 0, "misses": 0}


def leaf_cache_stats() -> dict:
    return dict(_LEAF_CACHE_STATS, entries=len(_LEAF_CACHE))


def clear_leaf_cache() -> None:
    _LEAF_CACHE.clear()
    _LEAF_CACHE_STATS.update(hits=0, misses=0)


def segment_top_k(seg_dir: str, node: A.Node, k: int, tokenizer: str,
                  text_field: str, use_wand: bool = False,
                  search_after: tuple | None = None,
                  initial_theta: float = float("-inf")
                  ) -> tuple[int, np.ndarray]:
    """Cached leaf search: repeat (segment, request) pairs — dashboards,
    paginating clients re-issuing page 1, multi-user hot queries — are
    served from the partial-result cache without touching postings.
    initial_theta (cross-segment bound walk) is part of the cache key:
    a theta-pruned partial result is only reusable at the same bar, and
    the analyzer generation is too: a custom analyzer redefined under the
    same name must not serve results computed with its old definition."""
    if LEAF_CACHE_MAX_ENTRIES <= 0:
        return _segment_top_k_uncached(seg_dir, node, k, tokenizer,
                                       text_field, use_wand, search_after,
                                       initial_theta)
    key = (seg_dir, _node_key(node), int(k), bool(use_wand),
           repr(search_after), tokenizer, analyzer_generation(), text_field,
           float(initial_theta))
    ent = _LEAF_CACHE.get(key)
    if ent is not None:
        _LEAF_CACHE.move_to_end(key)
        _LEAF_CACHE_STATS["hits"] += 1
        return ent[0], ent[1].copy()
    _LEAF_CACHE_STATS["misses"] += 1
    cnt, top = _segment_top_k_uncached(seg_dir, node, k, tokenizer,
                                       text_field, use_wand, search_after,
                                       initial_theta)
    if len(top) <= LEAF_CACHE_MAX_ROWS:
        _LEAF_CACHE[key] = (cnt, top.copy())
        while len(_LEAF_CACHE) > LEAF_CACHE_MAX_ENTRIES:
            _LEAF_CACHE.popitem(last=False)
    return cnt, top


def _segment_top_k_uncached(seg_dir: str, node: A.Node, k: int,
                            tokenizer: str, text_field: str,
                            use_wand: bool = False,
                            search_after: tuple | None = None,
                            initial_theta: float = float("-inf")
                            ) -> tuple[int, np.ndarray]:
    """Leaf search on one segment: returns (match_count, top-k candidates
    sorted by (score desc, doc_id desc) as a PARTIAL_DTYPE array). With
    use_wand, prunable query shapes use block-max skipping (identical
    top-k; for OR the match count is a lower bound — the reference's
    CountHits::Underestimate mode).
    search_after=(score, segment_id, doc_id) keeps only hits strictly
    after the cursor in global sort order (collector.rs search_after)."""
    reader = get_reader(seg_dir, tokenizer)
    tokenizer = reader.tokenizer  # per-segment rev (doc-mapping update)
    count = None
    if use_wand:
        shape = _wand_shape(node, text_field, tokenizer)
        if shape is not None:
            from .wand import and_topk, or_topk
            op, terms = shape
            fn = and_topk if op == "and" else or_topk
            docids, scores, count = fn(reader, terms, max(k, 1),
                                       initial_theta)
            scored = _Scored(docids, scores)
        else:
            scored = reader.eval(node, text_field, scoring=True).with_scores()
    else:
        # exact-count mode: a SINGLE text term's match count IS its
        # doc_freq (already in the term dictionary), so the full posting
        # decode exists only to find the top k — use the pruned scorer
        # (rank-identical, test_wand) and read the count from metadata.
        # At 10M docs this turns a 4 s head-term query into ~50 ms.
        # Not applicable under search_after: the cursor filter needs the
        # full ordered match list, not just the global top k.
        shape = _wand_shape(node, text_field, tokenizer) \
            if search_after is None else None
        if shape is not None and len(shape[1]) == 1:
            # single term: count == doc_freq from the term dict, top-k
            # from the bound-ordered pruned scorer (rank-identical)
            tr = reader._term_row(shape[1][0])
            if tr is None:
                return 0, _partial([], [])
            from .wand import single_term_topk
            docids, scores, _cnt = single_term_topk(reader, shape[1][0],
                                                    max(k, 1))
            scored = _Scored(docids, scores)
            count = tr[1]
        else:
            # multi-term AND measured SLOWER via skip-intersection here
            # (head terms intersect everywhere, so the block bookkeeping
            # is pure overhead over the plain union/intersect eval) —
            # exact-count multi-term queries stay on the exhaustive path
            scored = reader.eval(node, text_field,
                                 scoring=True).with_scores()
    if count is None:
        count = len(scored.docids)
    if count == 0:
        return 0, _partial([], [])
    docids, scores = scored.docids, scored.scores
    if search_after is not None:
        sa_score, sa_seg, sa_doc = search_after
        sid = os.path.basename(seg_dir)
        mask = _after_mask(len(docids), [
            (-scores.astype(np.float64), -sa_score),
            ((sid < sa_seg) - (sid > sa_seg), 0), (-docids, -sa_doc)])
        docids, scores = docids[mask], scores[mask]
        if len(docids) == 0:
            return count, _partial([], [])
    top = _top_k_order(docids, scores, k)
    return count, _partial(docids[top], scores[top])


def _top_k_order(docids: np.ndarray, scores: np.ndarray, k: int
                 ) -> np.ndarray:
    """Indices of the first k of (docids, scores) in the leaf order,
    score desc then doc address desc (the default desc tie-break).
    A partition finds the k-th score; only the candidates scoring at
    least that much, every tie at it included, are lexsorted."""
    n = len(scores)
    if k <= 0 or n == 0:
        return np.zeros(0, dtype=np.intp)
    if k < n:
        kth = np.partition(scores, n - k)[n - k]
        keep = np.flatnonzero(scores >= kth)
        # fewer than k kept only when NaN scores sit at the top of the
        # partition; the full sort below ranks them last, as before
        if len(keep) >= k:
            order = np.lexsort((-docids[keep], -scores[keep]))
            return keep[order[:k]]
    return np.lexsort((-docids, -scores))[:k]


def segment_wand_bound(seg_dir: str, node: A.Node, tokenizer: str,
                       text_field: str) -> float | None:
    """Upper bound on any single doc's score in this segment for a
    WAND-shaped query, from cursor metadata only (no posting decode):
    the sum of per-term max block scores. An AND with a term absent
    from the segment bounds to 0.0 (cannot match). Returns None for
    non-WAND shapes — the caller must process that segment."""
    reader = get_reader(seg_dir, tokenizer)
    shape = _wand_shape(node, text_field, reader.tokenizer)
    if shape is None:
        return None
    op, terms = shape
    from .wand import _make_cursors
    cursors = _make_cursors(reader, terms)
    if not cursors:
        return 0.0
    if op == "and" and any(c is None for c in cursors):
        return 0.0
    return float(sum(c.max_score for c in cursors if c is not None))


# ---------------------------------------------------------------------------
# Sort keys: every sort value as an order-preserving u64 (collector.rs:158-204)
# ---------------------------------------------------------------------------

U64_MAX = (1 << 64) - 1
_SIGN = np.uint64(1 << 63)
_KIND_RANGE = {"i64": (-(1 << 63), (1 << 63) - 1), "u64": (0, U64_MAX),
               "bool": (0, 1)}
_MISSING = (2, 0)


def _key_kind(t: str) -> str:
    """A doc column's key kind from its arrow type name: u64, i64 (other
    ints, timestamp ticks), f64, bool, or val (the values themselves)."""
    if t.startswith(("int", "uint", "timestamp", "date64", "duration")):
        return "u64" if t == "uint64" else "i64"
    return {"bool": "bool", "float": "f64", "double": "f64",
            "halffloat": "f64"}.get(t, "val")


def sort_spec(sort_by, seg_types: list[dict]) -> tuple:
    """((field, "asc"|"desc"), ...) -> ((field, desc, kind), ...), given
    one {doc column: arrow type name} per segment. A field is typed only
    when every segment stores it as one kind, so every leaf encodes it
    alike; `_score` is an f64 key and `_doc` a u64 one."""
    if not 1 <= len(sort_by) <= 2:
        raise ValueError("sort_by supports 1 or 2 sort fields")
    out = []
    for f, d in sort_by:
        kinds = {"f64"} if f == "_score" else {"u64"} if f in (
            "_doc", "_shard_doc") else {_key_kind(t.get(f, ""))
                                        for t in seg_types}
        out.append((f, d == "desc", kinds.pop() if len(kinds) == 1
                    else "val"))
    return tuple(out)


def _sort_dtype(sort: tuple) -> np.dtype:
    """A sorted leaf's rows: per field its directed key (a val field's
    value) and missing flag, then doc_id and score."""
    fields = []
    for i, (_f, _d, kind) in enumerate(sort):
        fields += [(f"key{i}", object if kind == "val" else "<u8"),
                   (f"miss{i}", "?")]
    return np.dtype(fields + [("doc_id", "<i8"), ("score", "<f8")])


def _encode_keys(vals, kind: str) -> np.ndarray:
    """Typed values -> u64 keys in value order: i64 flips the sign bit,
    f64 takes the IEEE total-order transform (-0.0 folded into 0.0), u64
    and bool keep the value."""
    if kind == "f64":
        bits = (np.asarray(vals, dtype=np.float64) + 0.0).view(np.uint64)
        return np.where(bits >= _SIGN, ~bits, bits | _SIGN)
    if kind == "i64":
        return np.ascontiguousarray(vals, dtype=np.int64).view(
            np.uint64) ^ _SIGN
    return np.asarray(vals).astype(np.uint64)


def _decode_key(key: int, kind: str):
    """The value of one ascending typed key."""
    if kind == "i64":
        return key - (1 << 63)
    if kind == "f64":
        bits = key ^ (1 << 63) if key >> 63 else key ^ U64_MAX
        return struct.unpack("<d", struct.pack("<Q", bits))[0]
    return bool(key) if kind == "bool" else key


def _cursor_key(v, kind: str, desc: bool) -> tuple[int, bool, bool]:
    """A search_after value as (key, missing, exact) in a typed field's
    directed key space. A value no key holds (1.5 on an int field, a
    number past the kind's range) takes the key of the nearest value
    before it, exact=False; -1 sorts before every key. Clients echo
    numeric cursors back as text, so strings are parsed."""
    try:
        if isinstance(v, str):
            v = json.loads(v)
        if v is None or v != v:
            return U64_MAX, True, True
        if kind == "f64":
            r = float(v) if abs(v) < 2 ** 1024 else math.copysign(math.inf,
                                                                   v)
            if (r < v) if desc else (r > v):
                r = math.nextafter(r, math.inf if desc else -math.inf)
            key = int(_encode_keys([r], kind)[0])
        else:
            lo, hi = _KIND_RANGE[kind]
            r = v if abs(v) == math.inf else \
                math.ceil(v) if desc else math.floor(v)
            r = max(r, lo) if desc else min(r, hi)
            if not lo <= r <= hi:
                return -1, False, False
            key = r + (1 << 63) if kind == "i64" else int(r)
    except (TypeError, ValueError):
        return -1, False, False
    return (U64_MAX - key if desc else key), False, r == v


def _value_key(v) -> tuple:
    """The order of val sort values: numbers, then strings, then missing
    (None, NaN)."""
    if v is None or (isinstance(v, float) and v != v):
        return _MISSING
    return (0, v) if isinstance(v, (int, float)) else (1, str(v))


@dataclass
class _SortColumn:
    """One sort field's ascending u64 keys over a set of docs, U64_MAX
    where `miss`. A val column keys each of its `vals` by twice its rank
    among `uniq`, the sorted distinct _value_keys, so a cursor value
    between two ranks gets the odd key between them."""
    keys: np.ndarray
    miss: np.ndarray
    vals: np.ndarray | None = None
    uniq: list | None = None
    top: int = U64_MAX  # the largest key of a value

    @classmethod
    def typed(cls, vals, kind: str, miss=None) -> "_SortColumn":
        keys = _encode_keys(vals, kind)
        miss = np.zeros(len(keys), dtype=bool) if miss is None else miss
        keys[miss] = U64_MAX
        return cls(keys, miss)

    @classmethod
    def of_values(cls, values) -> "_SortColumn":
        vk = [_value_key(v) for v in values]
        uniq = sorted(set(vk) - {_MISSING})
        rank = {u: 2 * i for i, u in enumerate(uniq)}
        keys = np.fromiter((rank.get(x, U64_MAX) for x in vk),
                           dtype=np.uint64, count=len(vk))
        vals = np.empty(len(vk), dtype=object)
        vals[:] = list(values)
        return cls(keys, keys == U64_MAX, vals, uniq,
                   max(2 * len(uniq) - 2, 0))

    def directed(self, ids, desc: bool) -> tuple[np.ndarray, np.ndarray]:
        """(keys, miss) of the docs `ids`, a descending key inverted; a
        missing one stays U64_MAX, so missing sorts last both ways."""
        keys, miss = self.keys[ids], self.miss[ids]
        if desc:
            keys = np.where(miss, keys, np.uint64(self.top) - keys)
        return keys, miss

    def cursor_key(self, v, kind: str, desc: bool
                   ) -> tuple[int, bool, bool]:
        """_cursor_key in this column's key space."""
        if self.uniq is None:
            return _cursor_key(v, kind, desc)
        x = _value_key(v)
        if x == _MISSING:
            return U64_MAX, True, True
        i = bisect.bisect_left(self.uniq, x)
        key = 2 * i - (i == len(self.uniq) or self.uniq[i] != x)
        return (self.top - key if desc else key), False, True


def _after_mask(n: int, levels: list) -> np.ndarray:
    """Rows strictly after a cursor, lexicographically over (column,
    cursor value) levels, most significant first; a cursor key of -1
    sorts before every u64 key."""
    after, tied = np.zeros(n, dtype=bool), np.ones(n, dtype=bool)
    for col, c in levels:
        if getattr(col, "dtype", None) == np.uint64:
            c = np.uint64(c) if c >= 0 else None
        gt, eq = (True, False) if c is None else (col > c, col == c)
        after |= tied & gt
        tied &= eq
    return after


def _sorted_top(levels: list, tb: np.ndarray, k: int) -> np.ndarray:
    """Indices of the first k rows ascending over `levels` (most
    significant first), then `tb`. As in _top_k_order, a partition finds
    the k-th first-level key and only the rows at or below it, ties
    included, are lexsorted."""
    if k <= 0 or len(tb) == 0:
        return np.zeros(0, dtype=np.intp)
    keep = np.arange(len(tb))
    if k < len(tb):
        keep = np.flatnonzero(
            levels[0] <= np.partition(levels[0], k - 1)[k - 1])
    order = np.lexsort([tb[keep]] + [lv[keep] for lv in levels[::-1]])
    return keep[order[:k]]


def segment_sort_top_k(seg_dir: str, node: A.Node, k: int, tokenizer: str,
                       text_field: str, sort: tuple,
                       search_after: tuple | None = None,
                       seg_key=None) -> tuple[int, np.ndarray]:
    """Leaf search under a sort_spec (collector.rs:994-1029: <= 2 fields,
    each `_score` | `_doc` | a fast field): (match_count, the first k
    rows as a _sort_dtype array), ordered by directed keys, then by doc
    address in the first field's direction (collector.rs:1086-1145).
    search_after holds one value per field, optionally followed by a
    segment key and doc_id; only rows strictly after it are kept.
    `seg_key` is this segment's root-merge key (default: its id)."""
    reader = get_reader(seg_dir, tokenizer)
    seg_key = os.path.basename(seg_dir) if seg_key is None else seg_key
    need_score = any(f == "_score" for f, _d, _k in sort)
    scored = reader.eval(node, text_field, scoring=need_score)
    ids = scored.docids
    count = len(ids)
    scores = (scored.with_scores().scores.astype(np.float64) if need_score
              else np.zeros(count))
    levels, after, vals = [], [], {}
    exact = search_after is not None
    for i, (f, desc, kind) in enumerate(sort):
        if f in ("_score", "_doc", "_shard_doc"):
            col = _SortColumn.typed(scores if f == "_score" else ids, kind)
            keys, miss = col.directed(slice(None), desc)
        else:
            col = reader.sort_keys(f, kind)
            keys, miss = col.directed(ids, desc)
            if col.vals is not None:
                vals[i] = col.vals
        levels += [keys, miss]
        if exact:
            c = search_after[i]
            if col.vals is not None and c is not None:
                c = reader._attr_value(f, c, object)  # ip, bytes literals
            # a value between two keys decides alone: rows tying its key
            # precede it, whatever the later fields hold
            key, m, exact = col.cursor_key(c, kind, desc)
            after += [key, m]
    sign = -1 if sort[0][1] else 1
    tb = sign * ids
    if search_after is not None:
        cmp = list(zip(levels, after))
        if exact and len(search_after) == len(sort) + 2:
            c_seg = search_after[-2]
            cmp += [(sign * ((seg_key > c_seg) - (seg_key < c_seg)), 0),
                    (tb, sign * int(search_after[-1]))]
        keep = _after_mask(count, cmp)
        ids, scores, tb = ids[keep], scores[keep], tb[keep]
        levels = [lv[keep] for lv in levels]
    top = _sorted_top(levels, tb, k)
    out = np.empty(len(top), dtype=_sort_dtype(sort))
    for i in range(len(sort)):
        out[f"key{i}"] = vals[i][ids[top]] if i in vals \
            else levels[2 * i][top]
        out[f"miss{i}"] = levels[2 * i + 1][top]
    out["doc_id"], out["score"] = ids[top], scores[top]
    return count, out


def root_merge(parts: list[tuple], k: int, offset: int,
               sort_desc: tuple | None = None
               ) -> tuple[int, list, np.ndarray, float | None]:
    """Root merge of leaf parts (merge_fruits, root.rs:753-771), each
    (segment key, match_count, top); a union's keys are (index_uid,
    segment_id). One lexsort orders by score desc (sort_desc None), or
    by each sort field's (key, miss) (sort_desc: per field, whether it
    descends; a val field's values ranked over the at most S·k rows
    received), then by segment key and doc_id in the first direction.
    Returns (num_hits, winner keys, winner rows of the offset/k slice,
    the first row's score or None when no part holds a hit)."""
    num_hits = sum(c for _, c, _ in parts)
    tops = [(key, top) for key, _cnt, top in parts if len(top)]
    if not tops:
        return num_hits, [], np.zeros(0, dtype=PARTIAL_DTYPE), None
    # a segment's ordinal is its key's rank, so ordinals order like keys
    keys = sorted({key for key, _ in tops})
    rank = {key: i for i, key in enumerate(keys)}
    allc = np.concatenate([top for _, top in tops])
    seg_ord = np.repeat([rank[key] for key, _ in tops],
                        [len(top) for _, top in tops])
    levels, sign = [-allc["score"]], -1
    if sort_desc is not None:
        levels, sign = [], -1 if sort_desc[0] else 1
        for i, desc in enumerate(sort_desc):
            key = allc[f"key{i}"]
            if key.dtype == object:
                key = _SortColumn.of_values(key).directed(slice(None),
                                                          desc)[0]
            levels += [key, allc[f"miss{i}"]]
    order = np.lexsort([sign * allc["doc_id"], sign * seg_ord]
                       + levels[::-1])
    win = order[offset:offset + k]
    return (num_hits, [keys[o] for o in seg_ord[win].tolist()], allc[win],
            float(allc["score"][order[0]]))


def _merged_result(parts: list[tuple], k: int, offset: int,
                   fetch_fields: bool, fetch, sort: tuple | None = None
                   ) -> SearchResult:
    """root_merge, then the doc-store fetch of the k winners only
    (`fetch(keys, doc_ids, scores)`). Sorted hits carry their sort
    values, decoded from their keys."""
    num_hits, keys, rows, max_score = root_merge(
        parts, k, offset, sort and tuple(d for _f, d, _k in sort))
    dids, scores = rows["doc_id"].tolist(), rows["score"].tolist()
    hits = fetch(keys, dids, scores) if fetch_fields else [
        SearchHit(sc, key if isinstance(key, str) else "/".join(key), d, {})
        for key, d, sc in zip(keys, dids, scores)]
    if sort is None:
        return SearchResult(num_hits, hits, max_score=max_score)
    cols = [[None if m else v if kind == "val"
             else _decode_key(U64_MAX - v if desc else v, kind)
             for v, m in zip(rows[f"key{i}"].tolist(),
                             rows[f"miss{i}"].tolist())]
            for i, (_f, desc, kind) in enumerate(sort)] if hits else []
    for h, vals in zip(hits, zip(*cols)):
        h.sort = vals
    return SearchResult(num_hits, hits)


def sorted_search(searcher, members: list, query, k: int, sort_by,
                  fetch_fields: bool, search_after, count_all: bool,
                  offset: int) -> SearchResult:
    """sort_search over (uid, IndexSearcher) members (uid None for one
    index): their sorted leaf parts through one root merge, then
    `searcher._fetch` of the k winners. search_after holds one value per
    sort field, optionally followed by a hit's segment id (a union's
    `uid/segment_id`) and doc_id. `_score desc` alone is score order:
    `searcher.search` (WAND when count_all=False); a values-only cursor
    (score,) keeps the hits scoring strictly less."""
    sa = None if search_after is None else tuple(search_after)
    if [tuple(s) for s in sort_by] == [("_score", "desc")]:
        if sa is not None:
            sa = (float(sa[0]), "", -1) if len(sa) == 1 else \
                (float(sa[0]), str(sa[1]), int(sa[2]))
        res = searcher.search(query, k=k, offset=offset,
                              fetch_fields=fetch_fields,
                              count_all=count_all, search_after=sa)
        for h in res.hits:
            h.sort = (h.score,)
        return res
    # the manifest's per-segment doc-map types (a segment that predates
    # them makes its fields val keys: exact, only slower)
    sort = sort_spec(sort_by, [seg.get("doc_fields", {}) for _u, m in members
                               for seg in m.manifest.segments()])
    if sa is not None and len(sa) != len(sort):
        if len(sa) != len(sort) + 2:
            raise ValueError("search_after: one value per sort field, "
                             "then optionally segment_id and doc_id")
        *vals, seg, doc = sa
        seg = str(seg)
        if members and members[0][0] is not None:
            uid, slash, sid = seg.partition("/")
            if not slash:
                raise ValueError("union address cursors need a "
                                 f"uid/segment_id segment, got {seg!r}")
            seg = (uid, sid)
        sa = (*vals, seg, int(doc))
    parts = [p for uid, m in members for p in m._sorted_parts(
        m.parse(query), offset + k, sort, sa, count_all, uid)]
    res = _merged_result(parts, k, offset, fetch_fields, searcher._fetch,
                         sort)
    # ip keys are their sortable hex; hits show the text form, as on fetch
    ips = {f for _u, m in members for seg in m.manifest.segments()
           for f, t in seg.get("field_types", {}).items() if t == "ip"}
    if ips & {f for f, _d, _k in sort}:
        for h in res.hits:
            h.sort = tuple(v if v is None or f not in ips
                           else hex_to_ip_display(v)
                           for (f, _d, _k), v in zip(sort, h.sort))
    return res


@dataclass
class SearchHit:
    score: float
    segment_id: str
    doc_id: int
    doc: dict
    # sorted searches: one sort value per sort field (None: no value)
    sort: tuple | None = None


@dataclass
class SearchResult:
    num_hits: int
    hits: list[SearchHit]
    # best score over ALL matched docs considered at the root merge —
    # NOT hits[0] (with a non-zero offset that is the post-slice best,
    # the wrong ES max_score denominator)
    max_score: float | None = None

    @property
    def last_sort_key(self) -> tuple | None:
        """Sorted searches: the last hit's (sort values..., segment_id,
        doc_id)."""
        h = self.hits[-1] if self.hits else None
        return h and h.sort and (*h.sort, h.segment_id, h.doc_id)

    @property
    def next_cursor(self) -> tuple | None:
        """Pass as search_after to fetch the next page (scroll analog):
        last_sort_key, else the last hit's (score, segment_id, doc_id)."""
        h = self.hits[-1] if self.hits else None
        return h and (self.last_sort_key
                      or (h.score, h.segment_id, h.doc_id))


class IndexSearcher:
    """Single entry point: plan -> leaf fan-out -> merge -> fetch.

    With a SparkSession, leaf search fans out via mapInPandas over the
    segment list (one task per segment); without, leaves run in-process
    (the reference's single-node search path, SURVEY.md §3.3).

    Leaf placement is cost-based (the reference's job-cost function,
    root.rs:1643-1648): a query whose pruned segments hold fewer than
    `inprocess_doc_budget` docs runs in-process even when a
    SparkSession is attached — at that size Spark job scheduling costs
    ~100x the scan itself. Larger queries fan out. One predicate
    (_fan_out_wanted) gates every fan-out surface — search,
    sort_search, list_terms, and search_many (which sums docs over its
    per-query pruned pairs); inprocess_doc_budget=0 pins the fan-out
    path.

    search, search_many and sort_search share one leaf fan-out
    (_fan_out) and one root merge (root_merge): a sorted leaf keys each
    sort value as an order-preserving u64, so field order is the merge's
    multi-key case and score order its one-key case.
    """

    def __init__(self, index_dir: str, spark=None,
                 inprocess_doc_budget: int = 100_000):
        self.index_dir = index_dir
        self.manifest = Manifest.load(index_dir)
        cfg = self.manifest.data["config"]
        self.text_field = cfg["text_col"]
        self.tokenizer = cfg["tokenizer"]
        self.tag_fields = list(cfg.get("tag_cols", []))
        self.key_cols = list(cfg.get("key_cols", []))
        self.spark = spark
        self.inprocess_doc_budget = inprocess_doc_budget

    def reload(self) -> "IndexSearcher":
        """Re-read the manifest from disk. Version-keyed caches
        (_prune/_doc_types) invalidate themselves on the version bump;
        callers that mutated the index through another handle (deletes,
        merges, retention) use this instead of re-constructing."""
        self.manifest = Manifest.load(self.index_dir)
        return self

    def parse(self, query) -> A.Node:
        if isinstance(query, A.Node):
            return query
        from .parser import parse_query
        return parse_query(query, default_field=self.text_field)

    def _doc_types(self, segs: list[dict]) -> tuple[dict, set]:
        """_doc_schema_types cached per manifest version (one footer
        read per version, not per query)."""
        ver = self.manifest.data["version"]
        cached = getattr(self, "_doc_types_cache", None)
        if cached is None or cached[0] != ver:
            cached = (ver, _doc_schema_types(
                os.path.join(self.index_dir, "segments",
                             segs[0]["segment_id"])))
            self._doc_types_cache = cached
        return cached[1]

    def _fan_out_wanted(self, seg_lists: list[list[dict]]) -> bool:
        """The cost gate of every fan-out surface: fan out to Spark only
        when a session is attached, some query spans more than one
        segment, and the pruned segments of all queries hold enough
        docs that a Spark job beats its own scheduling overhead."""
        return (self.spark is not None
                and max(map(len, seg_lists), default=0) > 1
                and sum(int(s.get("num_docs", 0))
                        for segs in seg_lists for s in segs)
                >= self.inprocess_doc_budget)

    def _prune(self, node: A.Node) -> list[dict]:
        """Segment pruning through a PruneIndex cached per manifest
        version (rebuilt when the manifest changes)."""
        ver = self.manifest.data["version"]
        cached = getattr(self, "_prune_cache", None)
        if cached is None or cached[0] != ver:
            cached = (ver, PruneIndex(self.manifest.segments(),
                                      self.tag_fields))
            self._prune_cache = cached
        return cached[1].prune(node, self.tag_fields)

    @_request_scope()
    def search(self, query, k: int = 10, offset: int = 0,
               fetch_fields: bool = True,
               count_all: bool = True,
               search_after: tuple | None = None) -> SearchResult:
        """count_all=False enables block-max WAND pruning for prunable
        query shapes: identical top-k, but num_hits may under-count for
        OR queries (the reference's CountHits option).

        search_after=(score, segment_id, doc_id) — the cursor of the last
        hit of the previous page (SearchResult.next_cursor); deep
        pagination without collecting offset+k everywhere
        (search.proto:237-240)."""
        node = self.parse(query)
        parts = self._leaf_parts(node, offset + k,
                                 not count_all and search_after is None,
                                 search_after)
        return self._merge_and_fetch(parts, k, offset, fetch_fields)

    def _leaf_parts(self, node: A.Node, need: int, use_wand: bool,
                    search_after: tuple | None
                    ) -> list[tuple[str, int, np.ndarray]]:
        """The leaf phase of search: prune, then score the surviving
        segments by the Spark fan-out, the cross-segment bound walk or an
        in-process loop. Returns (segment_id, match_count, top) parts,
        each top the segment's best `need` hits as a PARTIAL_DTYPE
        array, for the root merge."""
        segs = self._prune(node)
        if self._fan_out_wanted([segs]):
            return self._score_fan_out([node], [segs], [need], use_wand,
                                       search_after)[0]
        if use_wand and len(segs) > 1:
            return self._leaf_bound_walk(segs, node, need)
        parts = []
        for seg in segs:
            seg_dir = os.path.join(self.index_dir, "segments",
                                   seg["segment_id"])
            cnt, top = segment_top_k(seg_dir, node, need, self.tokenizer,
                                     self.text_field, use_wand,
                                     search_after)
            parts.append((seg["segment_id"], cnt, top))
        return parts

    def _merge_and_fetch(self, parts: list[tuple[str, int, np.ndarray]],
                         k: int, offset: int,
                         fetch_fields: bool) -> SearchResult:
        """root_merge of the leaf parts, then the optional doc-store
        fetch of the winners."""
        return _merged_result(parts, k, offset, fetch_fields, self._fetch)

    @_request_scope()
    def search_many(self, queries: list, k: int = 10, offset: int = 0,
                    fetch_fields: bool = True,
                    count_all: bool = True) -> list[SearchResult]:
        """Batched multi-query search: N queries, ONE leaf fan-out.

        The distributed path ships (query, segment) PAIRS through the
        same fan-out search() uses (_fan_out), so a dashboard's 30
        panels or an _msearch batch cost one Spark job and one round of
        task scheduling instead of N — at cluster scale, scheduling
        latency dominates warm top-k queries, so batching is the
        idiomatic execution of concurrent query workloads. Per-query
        segment PRUNING still applies (a pair is only emitted for
        segments the query's filters cannot exclude). In-process, or
        under the cost gate, it is a plain loop over search(). Results
        are identical to per-query search() calls.

        k / offset may be ints (shared) or per-query lists — _msearch
        bodies carry their own size/from."""
        nodes = [self.parse(qq) for qq in queries]
        ks = [int(k)] * len(nodes) if isinstance(k, int) else \
            [int(x) for x in k]
        offsets = [int(offset)] * len(nodes) if isinstance(offset, int) \
            else [int(x) for x in offset]
        if len(ks) != len(nodes) or len(offsets) != len(nodes):
            raise ValueError("k/offset lists must match queries length")
        if self.spark is not None and len(nodes) > 1:
            seg_lists = [self._prune(n) for n in nodes]
            if self._fan_out_wanted(seg_lists):
                needs = [kk + off for kk, off in zip(ks, offsets)]
                per_query = self._score_fan_out(nodes, seg_lists, needs,
                                                not count_all, None)
                return [self._merge_and_fetch(parts, ks[qi], offsets[qi],
                                              fetch_fields)
                        for qi, parts in enumerate(per_query)]
        return [self.search(n, k=ks[i], offset=offsets[i],
                            fetch_fields=fetch_fields,
                            count_all=count_all)
                for i, n in enumerate(nodes)]

    def _leaf_bound_walk(self, segs: list[dict], node: A.Node,
                         need: int) -> list[tuple[str, int, np.ndarray]]:
        """Cross-segment early-skip for pruned top-k (the reference's
        split-order walk, leaf.rs:1255-1274: order splits, convert
        trailing ones to no-ops when they cannot beat the current worst
        hit). Segments are walked in descending score-bound order; each
        leaf's WAND threshold is seeded with the global k-th best so
        far, and a segment whose bound falls below the bar is skipped
        without opening a posting list.

        Rank-identity: a skipped segment's every doc scores <= bound <
        (k-th best - slack), so it cannot enter the global top-k; ties
        at the k-th score survive because the seed is pre-slacked
        downward. Hit counts undercount further than plain WAND —
        that is the count_all=False contract. In-process path only: the
        mapInPandas fan-out runs leaves concurrently with no shared
        theta (its driver merge is already exact)."""
        from .wand import STATS as _WSTATS
        bounds = []
        for seg in segs:
            seg_dir = os.path.join(self.index_dir, "segments",
                                   seg["segment_id"])
            b = segment_wand_bound(seg_dir, node, self.tokenizer,
                                   self.text_field)
            bounds.append((b, seg, seg_dir))
        # unbounded (non-WAND-shape) segments first — they must run
        bounds.sort(key=lambda t: -(float("inf") if t[0] is None
                                    else t[0]))
        parts: list[tuple[str, int, np.ndarray]] = []
        top_scores: list[float] = []
        seed = float("-inf")
        for b, seg, seg_dir in bounds:
            if b is not None and b < seed:
                _WSTATS["segments_skipped"] += 1
                parts.append((seg["segment_id"], 0, _partial([], [])))
                continue
            cnt, top = segment_top_k(seg_dir, node, need, self.tokenizer,
                                     self.text_field, True, None, seed)
            parts.append((seg["segment_id"], cnt, top))
            if len(top):
                top_scores.extend(top["score"].tolist())
                top_scores.sort(reverse=True)
                del top_scores[need:]
                if need > 0 and len(top_scores) >= need:
                    kth = top_scores[need - 1]
                    seed = kth - abs(kth) * 1e-5
        return parts

    def _score_fan_out(self, nodes: list[A.Node],
                       seg_lists: list[list[dict]], needs: list[int],
                       use_wand: bool, search_after: tuple | None
                       ) -> list[list[tuple[str, int, np.ndarray]]]:
        """Score-ordered leaves of N queries through one _fan_out; the
        parts of query i come back at index i.

        A query that prunes with WAND over >= 4 segments (no cursor)
        gets a two-phase seed (the root.rs split-batch spirit applied to
        one fan-out round): its LARGEST segment runs first, in-process,
        and its k-th best score ships into every remaining leaf's WAND
        threshold. Costs one segment of serial latency; cuts total
        decoded blocks across the fan-out — the right trade at cluster
        scale, where aggregate work across thousands of concurrent
        queries, not one query's latency, is the bottleneck."""
        index_dir = self.index_dir
        tokenizer = self.tokenizer
        text_field = self.text_field
        out: list[list[tuple[str, int, np.ndarray]]] = []
        seeds: list[float] = []
        pairs: list[tuple[int, str]] = []
        for qi, (node, segs, need) in enumerate(zip(nodes, seg_lists,
                                                    needs)):
            parts: list[tuple[str, int, np.ndarray]] = []
            seed = float("-inf")
            if use_wand and search_after is None and len(segs) >= 4:
                big = max(segs, key=lambda s: s.get("num_docs", 0))
                cnt0, top0 = segment_top_k(
                    os.path.join(index_dir, "segments", big["segment_id"]),
                    node, need, tokenizer, text_field, True, None)
                parts.append((big["segment_id"], cnt0, top0))
                if need > 0 and len(top0) >= need:
                    kth = float(top0["score"][need - 1])
                    seed = kth - abs(kth) * 1e-5
                segs = [s for s in segs
                        if s["segment_id"] != big["segment_id"]]
            out.append(parts)
            seeds.append(seed)
            pairs.extend((qi, s["segment_id"]) for s in segs)

        def leaf(qi: int, sid: str) -> tuple[int, np.ndarray]:
            return segment_top_k(
                os.path.join(index_dir, "segments", sid), nodes[qi],
                needs[qi], tokenizer, text_field, use_wand, search_after,
                seeds[qi])

        fanned = self._fan_out(pairs, leaf, PARTIAL_DTYPE)
        for qi, parts in enumerate(out):
            parts.extend(fanned.get(qi, []))
        return out

    def _fan_out(self, pairs: list[tuple[int, str]], leaf, dtype: np.dtype
                 ) -> dict[int, list[tuple[str, int, np.ndarray]]]:
        """The one Spark leaf fan-out (the reference's
        search_partial_hits_phase, root.rs:725-795): ship
        (query_id, segment_id) pairs through one repartitioned
        mapInPandas, run `leaf(query_id, segment_id) -> (match_count,
        top)` on the executors, collect, and return
        {query_id: [(segment_id, match_count, top), ...]}. `top` is a
        structured array of `dtype`; on the wire a u64 field travels as
        `key ^ (1 << 63)` in a long (exact, no unsigned type in Spark)
        and an object field as JSON text. An empty leaf ships one
        sentinel row (doc_id -1) so its match_count still reaches the
        root. `leaf` must not capture the searcher (the SparkSession
        does not pickle)."""
        if not pairs:
            return {}
        import pyspark.sql.types as T
        wire = {"i": T.LongType(), "u": T.LongType(), "O": T.StringType(),
                "f": T.DoubleType(), "b": T.BooleanType()}
        names = list(dtype.names)
        schema = T.StructType([
            T.StructField("query_id", T.IntegerType()),
            T.StructField("segment_id", T.StringType()),
            T.StructField("match_count", T.LongType()),
            *(T.StructField(n, wire[dtype[n].kind]) for n in names)])
        sdf = self.spark.createDataFrame(
            pairs, "query_id int, segment_id string"
        ).repartition(min(len(pairs), 2 * _default_parallelism(self.spark)))

        def to_wire(col: np.ndarray):
            if col.dtype.kind == "u":
                return (col ^ _SIGN).view(np.int64)
            if col.dtype == object:
                return [json.dumps(v, default=str) for v in col]
            return col

        def run(iterator):
            for pdf in iterator:
                for qi, sid in zip(pdf["query_id"].tolist(),
                                   pdf["segment_id"].tolist()):
                    cnt, top = leaf(qi, sid)
                    if not len(top):
                        top = np.zeros(1, dtype=dtype)
                        top["doc_id"] = -1
                    yield pd.DataFrame({
                        "query_id": qi, "segment_id": sid,
                        "match_count": cnt,
                        **{n: to_wire(top[n]) for n in names}})

        rows = sdf.mapInPandas(run, schema=schema).toPandas()
        parts: dict[int, list[tuple[str, int, np.ndarray]]] = {}
        for (qi, sid), grp in rows.groupby(["query_id", "segment_id"],
                                           sort=False):
            cnt = int(grp["match_count"].iloc[0])
            grp = grp[grp["doc_id"] >= 0]
            top = np.empty(len(grp), dtype=dtype)
            for n in names:
                top[n] = ([json.loads(v) for v in grp[n]]
                          if dtype[n] == object else
                          grp[n].to_numpy(np.int64).view(np.uint64) ^ _SIGN
                          if dtype[n].kind == "u" else
                          grp[n].to_numpy(dtype[n]))
            parts.setdefault(int(qi), []).append((sid, cnt, top))
        return parts

    def _fetch(self, sids: list[str], dids: list[int],
               scores: list[float]) -> list[SearchHit]:
        """Fetch the winners' stored docs (two-phase hit join,
        root.rs:808-889): per segment, take its winners from the row
        groups that hold them (decoded once per reader, see
        SegmentReader.read_docs), then convert every row with one
        `to_pylist`."""
        by_seg: dict[str, list[int]] = {}
        for sid, d in zip(sids, dids):
            by_seg.setdefault(sid, []).append(d)
        docs: dict[tuple[str, int], dict] = {}
        for sid, ids in by_seg.items():
            r = get_reader(os.path.join(self.index_dir, "segments", sid),
                           self.tokenizer)
            t = r.read_docs(ids)
            # NaN renders as JSON null, like a stored null
            for i, f in enumerate(t.schema):
                if pa.types.is_floating(f.type):
                    c = t.column(i)
                    t = t.set_column(i, f, pc.if_else(pc.is_nan(c), None, c))
            rows = t.to_pylist()
            # typed fast fields render back to their text form on fetch
            # (the reference serializes IpAddr canonically on the hit
            # json path); the sortable hex stays internal
            ips = [c for c, ft in r.meta.get("field_types", {}).items()
                   if ft == "ip" and c in t.column_names]
            for row in rows:
                for c in ips:
                    if row[c] is not None:
                        row[c] = hex_to_ip_display(row[c])
            docs.update(zip(((sid, d) for d in ids), rows))
        return [SearchHit(float(score), sid, d, docs[(sid, d)])
                for score, sid, d in zip(scores, sids, dids)]

    @property
    def index_uid(self) -> str:
        return self.manifest.data["index_uid"]

    @property
    def has_dynamic(self) -> bool:
        """True when any segment indexes a dynamic catch-all — agg/
        sort fields may then be schemaless paths, not just columns.
        An EMPTY index falls back to the manifest config's flag."""
        segs = self.manifest.segments()
        if segs:
            return any(s.get("dynamic") for s in segs)
        return bool(self.manifest.data.get("config", {})
                    .get("dynamic"))

    def matched_docs(self, query, columns: list[str]):
        """Doc columns of every document matching the query — the input
        relation for aggregations (the reference computes aggregations
        over the matched docid set per segment then merges partial
        results, SURVEY.md §2.6; Spark's partial/final agg does the merge
        when the caller groups the returned DataFrame).

        Returns a Spark DataFrame when a session is attached (leaf filter
        runs inside mapInPandas tasks), else a pandas DataFrame."""
        node = self.parse(query)
        segs = self._prune(node)
        index_dir = self.index_dir
        tokenizer = self.tokenizer
        text_field = self.text_field
        cols = list(columns)

        # dynamic agg paths (not doc columns): values come from the
        # stored source via sortable_column; their Spark type is
        # inferred from the first segment that has any value (schemaless
        # fields have no footer type to read)
        dyn_types: dict[str, object] = {}
        arrow_types, u64_cols = (self._doc_types(segs) if segs
                                 else ({}, set()))
        if segs:
            import pyspark.sql.types as T
            probe = get_reader(os.path.join(
                index_dir, "segments", segs[0]["segment_id"]), tokenizer)
            known_cols = probe.doc_fields()
            for c in cols:
                if c not in known_cols:
                    arr = probe.source_values(c, keep_lists=True)
                    if arr.dtype == np.float64:
                        dyn_types[c] = T.DoubleType()
                    elif any(isinstance(x, list) for x in arr):
                        # multi-valued path: an array column; terms
                        # aggs explode it (one bucket entry per
                        # element, doc_count = docs containing it)
                        elems = [e for x in arr if isinstance(x, list)
                                 for e in x]
                        num = elems and all(
                            isinstance(e, (int, float))
                            and not isinstance(e, bool) for e in elems)
                        dyn_types[c] = T.ArrayType(
                            T.DoubleType() if num else T.StringType())
                    else:
                        dyn_types[c] = T.StringType()

        def _dyn_cast(v, t):
            import pyspark.sql.types as T
            if v is None or (isinstance(v, float) and v != v):
                return None
            if isinstance(t, T.ArrayType):
                vs = v if isinstance(v, list) else [v]
                el = t.elementType
                return [None if e is None else
                        float(e) if isinstance(el, T.DoubleType)
                        else str(e) for e in vs]
            if isinstance(t, T.DoubleType):
                try:
                    return float(v)
                except (TypeError, ValueError):
                    return None
            return str(v)

        def one(sid: str, for_arrow: bool = False) -> pd.DataFrame:
            reader = get_reader(os.path.join(index_dir, "segments", sid),
                                tokenizer)
            ids = reader.eval(node, text_field, scoring=False).docids
            out = {"segment_id": np.full(len(ids), sid, dtype=object),
                   "doc_id": ids}
            for c in cols:
                if c in dyn_types:
                    v = reader.source_values(c, keep_lists=True)[ids]
                    if reader.dyn_normalizer(c) == "lowercase":
                        # fast-value normalizer: agg/sort keys over
                        # dynamic string paths are lowercased (the
                        # gharchive mapping's `fast: {normalizer:
                        # lowercase}`)
                        lowered = [
                            x.lower() if isinstance(x, str)
                            else [e.lower() if isinstance(e, str)
                                  else e for e in x]
                            if isinstance(x, list) else x
                            for x in v]
                        v = np.empty(len(lowered), dtype=object)
                        v[:] = lowered
                elif for_arrow and c in u64_cols:
                    # exact u64 transport: decimal(20,0) in the schema,
                    # read from the exact u64 sort keys (the numpy view
                    # would degrade a NULLABLE uint64 column to float64
                    # and round values past 2^53)
                    import decimal as _dec
                    col = reader.sort_keys(c, "u64")
                    v = np.empty(len(ids), dtype=object)
                    v[:] = [None if m else _dec.Decimal(key) for key, m in
                            zip(col.keys[ids].tolist(), col.miss[ids])]
                else:
                    v = reader.sortable_column(c)[ids]
                if for_arrow and getattr(v, "dtype", None) == np.uint64:
                    import decimal as _dec
                    v = np.array([_dec.Decimal(int(x)) for x in v],
                                 dtype=object)
                if for_arrow and c in dyn_types:
                    casted = [_dyn_cast(x, dyn_types[c]) for x in v]
                    v = np.empty(len(casted), dtype=object)
                    v[:] = casted
                out[c] = v
            return pd.DataFrame(out)

        if self.spark is None:
            frames = [one(s["segment_id"]) for s in segs]
            return pd.concat(frames, ignore_index=True) if frames else \
                pd.DataFrame(columns=["segment_id", "doc_id", *cols])

        sdf = self.spark.createDataFrame(
            [(s["segment_id"],) for s in segs], "segment_id string"
        ).repartition(max(len(segs), 1))

        def leaf(it):
            for pdf in it:
                for sid in pdf["segment_id"].tolist():
                    yield one(sid, for_arrow=True)

        # output schema from the parquet FOOTER of one segment's doc map
        # (metadata-only — never evaluate a leaf on the driver)
        import pyspark.sql.types as T
        fields = [T.StructField("segment_id", T.StringType()),
                  T.StructField("doc_id", T.LongType())]
        for c in cols:
            if c in ("segment_id", "doc_id"):
                # the leaf's dict overwrites the built-in ordinal with the
                # stored column of the same name — don't duplicate the
                # schema field (AMBIGUOUS_REFERENCE downstream)
                continue
            fields.append(T.StructField(c, dyn_types.get(
                c, arrow_types.get(c, T.StringType()))))
        return sdf.mapInPandas(leaf, schema=T.StructType(fields))

    # -- auxiliary search surface -------------------------------------------

    def list_terms(self, start: str | None = None, end: str | None = None,
                   limit: int = 1000) -> list[str]:
        """Range-scan the term dictionary across segments
        (reference: quickwit-search/src/list_terms.rs:47-330).

        The `limit` is pushed to every segment: termdicts are term-sorted,
        so the global top-`limit` needs at most the first `limit` matching
        terms per segment (the reference's per-split leaf limit,
        list_terms.rs:219-247). With a SparkSession the scan runs as a
        Catalyst plan over all termdict files (predicate pushdown + sorted
        row-group pruning + partial LIMIT at the leaves); without, a
        driver-side k-way merge of per-segment truncated streams — never
        the full union in memory."""
        segs = self.manifest.segments()
        paths = [os.path.join(self.index_dir, "segments",
                              seg["segment_id"], "termdict.parquet")
                 for seg in segs]
        if not paths:
            return []
        # num_docs proxies termdict size for the same cost gate the
        # search paths use (a Spark job over a few small termdicts
        # costs ~100x the driver-side k-way merge)
        if self._fan_out_wanted([segs]):
            from pyspark.sql import functions as F
            df = self.spark.read.parquet(*paths).select("term")
            df = df.filter(F.col("term") >= "\x03")  # skip dynamic ns
            if start is not None:
                df = df.filter(F.col("term") >= start)
            if end is not None:
                df = df.filter(F.col("term") < end)
            rows = (df.distinct().orderBy("term").limit(limit).collect())
            return [r.term for r in rows]
        import heapq
        filters = []
        if start is not None:
            filters.append(("term", ">=", start))
        if end is not None:
            filters.append(("term", "<", end))
        streams = []
        for path in paths:
            t = pq.read_table(path, columns=["term"],
                              filters=filters or None)
            terms = [x for x in t.column(0).to_pylist() if x >= "\x03"]
            streams.append(terms[:limit])
        out: list[str] = []
        prev = None
        for term in heapq.merge(*streams):
            if term != prev:
                out.append(term)
                prev = term
                if len(out) >= limit:
                    break
        return out

    @_request_scope()
    def sort_search(self, query, k: int = 10,
                    sort_by: tuple = (("_score", "desc"),),
                    fetch_fields: bool = True,
                    search_after: tuple | None = None,
                    count_all: bool = True, offset: int = 0
                    ) -> SearchResult:
        """Top-k under an explicit sort spec (<= 2 fields, each `_score` |
        `_doc` | fast-field column; collector.rs:994-1029) through
        search's leaf fan-out and root_merge: each sort value is an
        order-preserving u64 key (sort_spec), ties break by (segment_id,
        doc_id) in the first field's direction, and each hit carries its
        sort values. `_score desc` alone is score order (search).

        search_after is the previous page's next_cursor (sort values...,
        segment_id, doc_id), or an ES values-only cursor (sort values...)
        keeping hits strictly after it.

        count_all=False enables segment early-exit when the FIRST sort
        field is a typed fast field with per-segment min/max stats:
        segments are visited best-bound-first and the walk stops once k
        hits exist and the next segment's bound cannot beat the current
        k-th key (strictly — ties keep walking for tie-break
        correctness). The top-k is identical; num_hits becomes a lower
        bound (the reference's split time-range ordering + CountHits
        trade-off: "newest 20 logs" stops after the newest splits,
        list_relevant_splits ordering / leaf.rs early-exit)."""
        return sorted_search(self, [(None, self)], self.parse(query), k,
                             sort_by, fetch_fields, search_after,
                             count_all, offset)

    def _sorted_parts(self, node: A.Node, need: int, sort: tuple,
                      search_after: tuple | None, count_all: bool,
                      uid: str | None = None) -> list[tuple]:
        """sort_search's leaf phase: prune, then segment_sort_top_k by
        the Spark fan-out, the count_all=False early-exit walk or an
        in-process loop. Parts (and search_after's segment) are keyed
        by segment id, or (uid, segment_id) for a union member."""
        segs = self._prune(node)
        index_dir, tok, text_field = (self.index_dir, self.tokenizer,
                                      self.text_field)
        key = (lambda sid: sid) if uid is None else (lambda sid: (uid, sid))

        def leaf(_qi: int, sid: str) -> tuple[int, np.ndarray]:
            return segment_sort_top_k(
                os.path.join(index_dir, "segments", sid), node, need, tok,
                text_field, sort, search_after, key(sid))

        if self._fan_out_wanted([segs]):
            fanned = self._fan_out([(0, s["segment_id"]) for s in segs],
                                   leaf, _sort_dtype(sort))
            return [(key(sid), cnt, top)
                    for sid, cnt, top in fanned.get(0, [])]
        field0, desc0, kind0 = sort[0]
        early_exit = (not count_all and kind0 != "val"
                      and field0 not in ("_score", "_doc", "_shard_doc"))

        def bound(seg: dict) -> int:
            # the directed key of the segment's best value; a stat-less
            # segment can't be bounded: always visit, first
            st = seg.get("col_stats", {}).get(field0)
            return -1 if st is None or not early_exit else \
                _cursor_key(st[desc0], kind0, desc0)[0]

        parts = []
        best = np.zeros(0, dtype=np.uint64)  # the need smallest key0s
        for bnd, seg in sorted(((bound(s), s) for s in segs),
                               key=lambda bs: bs[0]):
            if len(best) == need > 0 and bnd > int(best.max()):
                break  # best-first order: the rest are worse too
            cnt, top = leaf(0, seg["segment_id"])
            parts.append((key(seg["segment_id"]), cnt, top))
            if early_exit and len(top):
                best = np.concatenate([best, top["key0"]])
                if len(best) > need:
                    best = np.partition(best, need - 1)[:need]
        return parts

    def list_fields(self) -> list[dict]:
        """Schema/capability union across segments (reference:
        quickwit-search/src/list_fields.rs — per-split field metadata
        merged at the root). Reads only parquet footers."""
        import pyarrow.parquet as _pq
        fields: dict[str, dict] = {}
        # the indexed text field lives in the posting files, not the doc
        # map — surface it explicitly (the reference lists indexed fields
        # from the split schema the same way)
        nsegs = len(self.manifest.segments())
        fields[self.text_field] = {
            "field": self.text_field, "types": {"text"},
            "segments": nsegs, "searchable": True, "tag": False,
        }
        for seg in self.manifest.segments():
            recorded = seg.get("doc_fields")
            if recorded is None:  # pre-round-2 segments: footer read
                seg_dir = os.path.join(self.index_dir, "segments",
                                       seg["segment_id"])
                schema = _pq.read_schema(os.path.join(seg_dir,
                                                      "docs.parquet"))
                recorded = {f.name: str(f.type) for f in schema}
            for name, typ in recorded.items():
                if name == "_seg_doc":
                    continue
                e = fields.setdefault(name, {
                    "field": name, "types": set(), "segments": 0,
                    "searchable": name in (self.text_field,
                                           *self.tag_fields),
                    "tag": name in self.tag_fields,
                })
                e["types"].add(typ)
                e["segments"] += 1
        out = []
        for name in sorted(fields):
            e = fields[name]
            e["types"] = sorted(e["types"])
            out.append(e)
        return out

    def count(self, query) -> int:
        """Metadata-only fast path for match-all (root.rs:638-685),
        else exact count from leaf evaluation."""
        node = self.parse(query)
        if isinstance(node, A.MatchAll):
            return sum(s["num_docs"] for s in self.manifest.segments())
        return self.search(node, k=0, fetch_fields=False).num_hits

    def explain(self, query) -> dict:
        """Search plan without executing it (the reference's
        GET /search-plan, search_api/rest_handler.rs): parsed AST, segment
        pruning outcome (tags + min/max stats), and whether the block-max
        pruned path applies."""
        node = self.parse(query)
        all_segs = self.manifest.segments()
        kept = self._prune(node)
        kept_ids = {s["segment_id"] for s in kept}
        wand = _wand_shape(node, self.text_field, self.tokenizer)
        return {
            "query_ast": repr(node),
            "segments_total": len(all_segs),
            "segments_after_pruning": len(kept),
            "pruned_segment_ids": sorted(
                s["segment_id"] for s in all_segs
                if s["segment_id"] not in kept_ids),
            "tag_filters": [(f, sorted(v)) for f, v in
                            A.collect_tag_filters(node, self.tag_fields)],
            "range_filters": [repr(r) for r in
                              A.collect_range_filters(node)],
            "wand_prunable": wand is not None,
            "wand_shape": ({"op": wand[0], "terms": wand[1]}
                           if wand else None),
            "docs_to_consider": sum(s["num_docs"] for s in kept),
            # the cross-segment walk's planned visit order (bound desc):
            # under count_all=False later entries are skipped once the
            # running k-th best exceeds their bound
            "segment_bounds": (sorted(
                ((s["segment_id"],
                  round(segment_wand_bound(
                      os.path.join(self.index_dir, "segments",
                                   s["segment_id"]),
                      node, self.tokenizer, self.text_field) or 0.0, 4))
                 for s in kept), key=lambda t: -t[1])
                if wand is not None else None),
        }


# engine-internal doc-map columns, hidden from user-facing facades
# (es_dsl, rest) — single source of truth for the filtering contract
INTERNAL_DOC_FIELDS = ("fieldnorm", "fieldnorm_id")


def _strip_dyn_ns(term: str) -> str:
    """`\x01field\x00value` -> value (phrase-prefix fallback terms)."""
    return term.split("\x00", 1)[1] if term.startswith("\x01") else term


def doc_source(doc: dict) -> dict:
    """The user-facing document for a hit: the stored original JSON
    (`__source`, written by the doc mapper — the reference's doc store
    keeps the full doc the same way) when present, else the doc-store
    columns minus engine internals."""
    src = doc.get("__source")
    if isinstance(src, str):
        try:
            return json.loads(src)
        except json.JSONDecodeError:
            pass
    return {k: v for k, v in doc.items()
            if not k.startswith("_") and k not in INTERNAL_DOC_FIELDS}


def source_path_value(src, path: str):
    """Value of a dotted path in a source document: the nested object
    walk first, then a literal dotted key (``{"a.b": 1}``, as stored
    without expand_dots). None when neither is present."""
    cur = src
    for seg in path.split("."):
        cur = cur.get(seg) if isinstance(cur, dict) else None
    if cur is None and isinstance(src, dict):
        cur = src.get(path)
    return cur


def _doc_schema_types(seg_dir: str) -> tuple[dict, set]:
    """(Spark types for a segment's doc-map columns, uint64 column names)
    from the parquet footer only (no data read, no leaf evaluation).
    uint64 maps to DecimalType(20,0) for Arrow transport (Spark has no
    unsigned long; doubles would corrupt values past 2^53 — decimals
    keep groupBy keys and sums EXACT across the full u64 range, at
    decimal-arithmetic cost). The aggregation transport; sort keys
    travel as u64 keys instead (_fan_out)."""
    import pyarrow as pa
    import pyspark.sql.types as T
    schema = pq.read_schema(os.path.join(seg_dir, "docs.parquet"))
    out = {}
    u64: set[str] = set()
    for f in schema:
        t = f.type
        if pa.types.is_timestamp(t):
            st = T.TimestampType()
        elif pa.types.is_boolean(t):
            st = T.BooleanType()
        elif pa.types.is_unsigned_integer(t) and t.bit_width == 64:
            st = T.DecimalType(20, 0)
            u64.add(f.name)
        elif pa.types.is_int8(t) or pa.types.is_int16(t) or \
                pa.types.is_int32(t):
            st = T.IntegerType()
        elif pa.types.is_integer(t):
            st = T.LongType()
        elif pa.types.is_float32(t):
            st = T.FloatType()
        elif pa.types.is_floating(t):
            st = T.DoubleType()
        else:
            st = T.StringType()
        out[f.name] = st
    return out, u64


def _default_parallelism(spark) -> int:
    try:
        return spark.sparkContext.defaultParallelism
    except Exception:
        return 8
