"""Segment builder: corpus partition -> immutable inverted-index segment.

Mirrors the reference build pipeline (SURVEY.md §2.3: Indexer -> Serializer
-> Packager -> Uploader -> Publisher) as one Spark job:

    corpus DF
      -> deterministic partition routing (hash of key columns)
      -> repartitionById: one task per partition            [exchange]
      -> build_partition                                    [executors]
      -> manifest.publish(segment rows, checkpoint delta)    [driver]

Everything inside build_partition is numpy/Arrow vectorized:
  - batch tokenization (one pass over the concatenated partition text)
  - (term, doc) aggregation via integer keys + np.unique
  - ONE global varint encode of all delta-gaps; per-term/per-block offsets
    via cumsum/reduceat — no per-posting Python
  - posting/termdict/docmap Parquet written with pyarrow (zero-copy binary
    columns via Array.from_buffers)

Determinism: doc ids are the rank of (key columns) within the partition;
segment ids are content-addressed (sha256 over partition id + doc keys), so
re-running a partition yields byte-identical segments — the basis for
publish idempotence and merge determinism (FIXTURES.md F6).
"""

from __future__ import annotations

import ctypes
import hashlib
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from ..config import IndexConfig
from ..functions.bm25 import fieldnorm_to_id, id_to_fieldnorm
from ..functions.fieldtypes import bytes_from_b64, ip_to_hex
from ..functions.tokenizers import tokenize_batch_ids
from .codecs import BLOCK_SIZE
from .manifest import BUILDER_POS_PREFIX, Manifest

MANIFEST_ROW_SCHEMA = "manifest_json string"

# uncompressed bytes per docs.parquet row group, the reference doc store's
# 1 MB block: a hit fetch decodes the row groups holding its hits, not the
# whole file
DOCS_ROW_GROUP_BYTES = 1_000_000


# shared codecs (single source of truth for bit-identical encoding across
# build / merge / delete paths)
from .codecs import encode_position_blob
from .codecs import varint_encode_with_sizes as _varint_encode_with_sizes


def _write_parquet(table: pa.Table, path: str, stats_columns: list[str],
                   **kwargs) -> None:
    """zstd Parquet without dictionary pages (segment columns are mostly
    unique values, and each doc-store row group would repeat its
    dictionary), with min/max statistics only on `stats_columns`, the
    columns a reader prunes with."""
    pq.write_table(table, path, compression="zstd", use_dictionary=False,
                   write_statistics=stats_columns or False, **kwargs)


def _large_binary_array(data: bytes, offsets: np.ndarray) -> pa.Array:
    """Zero-copy pyarrow large_binary array from a buffer + offsets."""
    off = pa.py_buffer(offsets.astype(np.int64).tobytes())
    buf = pa.py_buffer(data)
    return pa.Array.from_buffers(pa.large_binary(), len(offsets) - 1,
                                 [None, off, buf])


def _list_array(values: np.ndarray, offsets: np.ndarray,
                dtype: pa.DataType) -> pa.Array:
    return pa.ListArray.from_arrays(
        pa.array(offsets.astype(np.int32)), pa.array(values, type=dtype))


def write_segment(seg_dir: str, terms_sorted: np.ndarray,
                  p_term: np.ndarray, p_doc: np.ndarray, tfs: np.ndarray,
                  fn_ids: np.ndarray, doc_cols: dict, meta_extra: dict,
                  positions: tuple[bytes, np.ndarray] | None = None,
                  preencoded: tuple | None = None
                  ) -> dict:
    """Encode posting blocks + write the three segment files + meta.json.

    p_term/p_doc/tfs are the posting triples sorted by (term, doc);
    fn_ids are per-doc fieldnorm ids; doc_cols the docs.parquet columns.
    `positions`, when present (record="position"), is (pos_blob,
    per_term_byte_offsets[nterms+1]): the varint-encoded within-posting
    position deltas, token-ordered by (term, doc, position); the posting's
    tf gives each run length. Shared by the initial build and the merge
    executor.

    `preencoded`, when given, is (doc_blob, doc_nb, tf_blob, tf_nb): the
    already-varint-encoded delta/tf streams plus per-value byte counts —
    the merge executor splices parents' unchanged varint runs instead of
    re-encoding (byte-identical by varint canonicity). Block metadata is
    still recomputed here from the decoded arrays.
    """
    nterms = len(terms_sorted)
    n = len(fn_ids)
    npost = len(p_term)

    # per-term ranges. npost == 0 (a chunk whose docs all have blank
    # text and no dynamic terms) degrades to an EMPTY but valid segment
    # — the np.r_[True, ...] idiom would fabricate term_starts=[0] and
    # crash reduceat; every array below handles zero rows.
    if npost:
        term_starts = np.nonzero(np.r_[True, p_term[1:] != p_term[:-1]])[0]
    else:
        term_starts = np.zeros(0, dtype=np.int64)
    # np.unique(codes) guarantees every term has >= 1 posting
    term_lens = np.diff(np.r_[term_starts, npost])
    doc_freq = term_lens
    # dtype=int64: tfs may arrive int32 from the merge splicer and a hot
    # term's total must not wrap
    total_tf = (np.add.reduceat(tfs, term_starts, dtype=np.int64)
                if npost else term_lens)

    if preencoded is not None:
        doc_blob, doc_nb, tf_blob, tf_nb = preencoded
    else:
        # delta encoding: within a term, gap vs previous docid;
        # first = docid
        deltas = np.empty(npost, dtype=np.int64)
        if npost:
            deltas[0] = p_doc[0]
            deltas[1:] = p_doc[1:] - p_doc[:-1]
            deltas[term_starts] = p_doc[term_starts]
        doc_blob, doc_nb = _varint_encode_with_sizes(
            deltas.astype(np.uint64))
        tf_blob, tf_nb = _varint_encode_with_sizes(tfs.astype(np.uint64))

    # blocks: every BLOCK_SIZE postings within a term
    nblk = (term_lens + BLOCK_SIZE - 1) // BLOCK_SIZE
    tot_blk = int(nblk.sum())
    blk_term = np.repeat(np.arange(nterms), nblk)
    blk_first = np.r_[0, np.cumsum(nblk)[:-1]]
    blk_within = np.arange(tot_blk) - blk_first[blk_term]
    blk_start = term_starts[blk_term] + blk_within * BLOCK_SIZE
    term_ends = term_starts + term_lens
    blk_end = np.minimum(blk_start + BLOCK_SIZE, term_ends[blk_term])

    # uint8: fieldnorm ids index the 256-entry quantization table; at
    # merge scale fn_per_post is one of the largest arrays here (one
    # value per POSTING), so 8x narrower matters for the per-op peak
    fn_per_post = fn_ids[p_doc].astype(np.uint8)
    block_last = p_doc[blk_end - 1]
    block_max_tf = np.maximum.reduceat(tfs, blk_start).astype(np.int32)
    block_min_fn = np.minimum.reduceat(fn_per_post, blk_start).astype(np.int32)
    # jointly-achievable block score bound: max over the block's postings
    # of tf/(tf + k1*(1-b+b*len/avg)) in the SAME f32 arithmetic as the
    # query-time Bm25Weight cache. Far tighter than the decoupled
    # (max_tf, min_fieldnorm) pair — the tf and the norm belong to the
    # same document (tantivy's BlockWAND stores the same pairing).
    from ..functions.bm25 import B, K1
    avg_fn = (np.float32(id_to_fieldnorm(fn_ids).sum()) / np.float32(n)
              ) if n else np.float32(1.0)
    if avg_fn <= 0:
        avg_fn = np.float32(1.0)
    lens_f32 = id_to_fieldnorm(fn_per_post).astype(np.float32)
    norm = (K1 * (np.float32(1.0) - B + B * lens_f32 / avg_fn)).astype(
        np.float32)
    del lens_f32
    tf_f32 = tfs.astype(np.float32)
    ratio = (tf_f32 / (tf_f32 + norm)).astype(np.float32)
    del tf_f32, norm  # per-posting f32 temporaries: drop before writes
    block_max_ratio = np.maximum.reduceat(ratio, blk_start).astype(np.float32)
    del ratio
    # byte offsets: per-BLOCK sums instead of a full per-posting prefix
    # sum — doc_nb/tf_nb have one entry per posting, so the old
    # doc_cum/tf_cum int64 arrays were 16 bytes per posting of pure
    # peak memory used only at block/term boundaries (blocks tile the
    # posting space contiguously, so reduceat over blk_start yields
    # exactly each block's byte count; dtype=int64 also keeps the
    # merge path's uint8 sizes from wrapping)
    if tot_blk:
        doc_cum_blk = np.r_[0, np.cumsum(
            np.add.reduceat(doc_nb, blk_start, dtype=np.int64))]
        tf_cum_blk = np.r_[0, np.cumsum(
            np.add.reduceat(tf_nb, blk_start, dtype=np.int64))]
    else:
        doc_cum_blk = np.zeros(1, dtype=np.int64)
        tf_cum_blk = np.zeros(1, dtype=np.int64)
    if nterms:
        term_doc_byte = doc_cum_blk[blk_first]  # byte offset per term
        term_tf_byte = tf_cum_blk[blk_first]
    else:
        # blk_first's np.r_ idiom fabricates [0] for an EMPTY segment
        term_doc_byte = np.zeros(0, dtype=np.int64)
        term_tf_byte = np.zeros(0, dtype=np.int64)
    doc_offsets = (doc_cum_blk[:-1] - term_doc_byte[blk_term]
                   ).astype(np.int32)
    tf_offsets = (tf_cum_blk[:-1] - term_tf_byte[blk_term]
                  ).astype(np.int32)

    blk_offsets = np.r_[0, np.cumsum(nblk)].astype(np.int64)
    os.makedirs(seg_dir, exist_ok=True)

    # --- postings.parquet (one row per term) ---
    postings_tbl = pa.table({
        "term_id": pa.array(np.arange(nterms), type=pa.int64()),
        "doc_freq": pa.array(doc_freq, type=pa.int64()),
        "total_tf": pa.array(total_tf, type=pa.int64()),
        "block_last": _list_array(block_last, blk_offsets, pa.int64()),
        "block_max_tf": _list_array(block_max_tf, blk_offsets, pa.int32()),
        "block_min_fn": _list_array(block_min_fn, blk_offsets, pa.int32()),
        "block_max_ratio": _list_array(block_max_ratio, blk_offsets,
                                       pa.float32()),
        "doc_offsets": _list_array(doc_offsets, blk_offsets, pa.int32()),
        "tf_offsets": _list_array(tf_offsets, blk_offsets, pa.int32()),
        "docid_blob": _large_binary_array(
            doc_blob, np.r_[term_doc_byte, len(doc_blob)]),
        "tf_blob": _large_binary_array(
            tf_blob, np.r_[term_tf_byte, len(tf_blob)]),
    })
    if positions is not None:
        pos_blob, pos_offsets = positions
        postings_tbl = postings_tbl.append_column(
            "pos_blob", _large_binary_array(pos_blob, pos_offsets))
    # term_id statistics prune the cold `term_id in [...]` read
    _write_parquet(postings_tbl, os.path.join(seg_dir, "postings.parquet"),
                   ["term_id"])

    # --- termdict.parquet (sorted by term => parquet min/max stats prune) ---
    termdict_tbl = pa.table({
        "term": pa.array(terms_sorted.tolist(), type=pa.string()),
        "term_id": pa.array(np.arange(nterms), type=pa.int64()),
        "doc_freq": pa.array(doc_freq, type=pa.int64()),
        "total_tf": pa.array(total_tf, type=pa.int64()),
    })
    _write_parquet(termdict_tbl, os.path.join(seg_dir, "termdict.parquet"),
                   ["term"])

    # --- docs.parquet (doc map: keys, tags, sha, fieldnorm fast fields) ---
    # `_seg_doc` is the row index, so a doc's row group is found by
    # bisecting the cumulative row counts (SegmentReader.read_docs)
    docs_table = pa.table(doc_cols)
    _write_parquet(docs_table, os.path.join(seg_dir, "docs.parquet"), [],
                   row_group_size=max(1, DOCS_ROW_GROUP_BYTES
                                      * docs_table.num_rows
                                      // max(1, docs_table.nbytes)))

    # --- metadata ---
    meta = {
        "num_docs": int(n),
        "num_terms": int(nterms),
        "num_postings": int(npost),
        "total_fieldnorm": int(id_to_fieldnorm(fn_ids).sum()),
        "bytes_postings": len(doc_blob) + len(tf_blob),
        "term_min": str(terms_sorted[0]) if nterms else "",
        "term_max": str(terms_sorted[-1]) if nterms else "",
        # doc-map field names/types: list_fields serves from manifest
        # rows alone (no per-segment footer reads at 100k segments)
        "doc_fields": {f.name: str(f.type) for f in docs_table.schema},
    }
    meta.update(meta_extra)
    with open(os.path.join(seg_dir, "meta.json"), "w") as f:
        json.dump(meta, f, indent=1, sort_keys=True)
    return meta


DYNAMIC_TERM_PREFIX = "\x01"   # exact terms; sorts before every token
DYNAMIC_NUM_PREFIX = "\x02"    # sortable numeric terms (range queries)


def _sortable_f64_bits(value: float) -> int:
    """IEEE-754 double -> uint64 whose unsigned order equals numeric
    order (the classic monotone transform: flip all bits of negatives,
    flip only the sign bit of non-negatives — how typed columnar engines
    index sortable doubles)."""
    import struct
    bits = struct.unpack("<Q", struct.pack("<d", float(value)))[0]
    if bits & (1 << 63):
        return bits ^ ((1 << 64) - 1)
    return bits | (1 << 63)


def dynamic_num_key(path: str, value) -> str:
    """Order-preserving term for any JSON number under a dynamic path:
    16 hex digits of the sortable f64 bits, so lexicographic term order
    == numeric order across ints and floats (ints above 2^53 lose
    precision here; their \\x01 exact term still answers equality)."""
    return (f"{DYNAMIC_NUM_PREFIX}{path}\x00"
            f"{_sortable_f64_bits(value):016x}")


def _flatten_json(prefix: str, obj, out: list[str]) -> None:
    if isinstance(obj, dict):
        for k, v in obj.items():
            _flatten_json(f"{prefix}.{k}" if prefix else str(k), v, out)
    elif isinstance(obj, (list, tuple)):
        for v in obj:
            _flatten_json(prefix, v, out)
    elif obj is None:
        pass
    else:
        if isinstance(obj, bool):
            s = "true" if obj else "false"
        else:
            s = str(obj)
        out.append(f"{DYNAMIC_TERM_PREFIX}{prefix}\x00{s}")
        if isinstance(obj, (int, float)) and not isinstance(obj, bool):
            # numbers additionally get a sortable term => Range works
            # on unmapped numeric paths
            out.append(dynamic_num_key(prefix, obj))


def _flatten_json_leaves(prefix: str, obj,
                         out: list[tuple[str, object]]) -> None:
    """(path, leaf) pairs in document order (lists keep their path)."""
    if isinstance(obj, dict):
        for k, v in obj.items():
            _flatten_json_leaves(f"{prefix}.{k}" if prefix else str(k),
                                 v, out)
    elif isinstance(obj, (list, tuple)):
        for v in obj:
            _flatten_json_leaves(prefix, v, out)
    elif obj is not None:
        out.append((prefix, obj))


def resolve_dyn_analyzer(path: str, default_tokenizer: str,
                         field_tokenizers: dict | None) -> str:
    """Analyzer for a dynamic-namespace path: the longest mapped root
    owning the path wins (a `json` field's options cover its subtree,
    field_mapping_entry.rs QuickwitJsonOptions), else the catch-all
    dynamic tokenizer."""
    if field_tokenizers:
        best_root, best_opt = None, None
        for root, opt in field_tokenizers.items():
            if path == root or path.startswith(root + "."):
                if best_root is None or len(root) > len(best_root):
                    best_root, best_opt = root, opt
        if best_opt is not None:
            tok = best_opt.get("tokenizer") if isinstance(best_opt,
                                                          dict) \
                else best_opt
            return tok or "raw"
    return default_tokenizer


def extract_dynamic_terms(values: list, tokenizer: str = "raw",
                          field_tokenizers: dict | None = None,
                          want_positions: bool = False
                          ) -> tuple[np.ndarray, np.ndarray,
                                     np.ndarray | None]:
    """Flatten each row's JSON object (string or dict) into dynamic-
    namespace terms (doc_mapping.rs dynamic mode).

    Non-string leaves (and string leaves whose resolved analyzer is
    ``raw``) become exact `\\x01path\\x00value` terms; numbers get an
    extra sortable `\\x02` term so Range works on unmapped numeric
    paths.  String leaves under a NON-raw analyzer are tokenized (one
    `\\x01path\\x00token` term per occurrence) with real positions —
    consecutive values at the same path keep one running position
    counter with a +1 gap, so phrases can never falsely match across
    array elements (tantivy's position-increment-gap behavior).

    Tokenization is batched per analyzer through tokenize_batch (the
    vectorized path); the per-leaf walk itself is inherent to nested
    JSON, exactly like the reference's per-doc JSON field indexing.

    Returns (doc_ordinals, term_strings, positions|None).
    """
    from ..functions.tokenizers import tokenize_batch

    docs: list[int] = []
    terms: list[str] = []
    poss: list[int] = []
    # tokenize jobs per analyzer: (doc_i, path, value_ordinal, text)
    jobs: dict[str, list[tuple[int, str, int, str]]] = {}
    value_ord = 0
    plain = tokenizer == "raw" and not field_tokenizers
    for i, v in enumerate(values):
        if v is None or (isinstance(v, float) and pd.isna(v)):
            continue
        obj = json.loads(v) if isinstance(v, str) else v
        if plain:
            out: list[str] = []
            _flatten_json("", obj, out)
            docs.extend([i] * len(out))
            terms.extend(out)
            poss.extend([0] * len(out))
            continue
        leaves: list[tuple[str, object]] = []
        _flatten_json_leaves("", obj, leaves)
        for path, leaf in leaves:
            if isinstance(leaf, str):
                analyzer = resolve_dyn_analyzer(path, tokenizer,
                                                field_tokenizers)
                if analyzer != "raw":
                    jobs.setdefault(analyzer, []).append(
                        (i, path, value_ord, leaf))
                    value_ord += 1
                    continue
                s = leaf
            elif isinstance(leaf, bool):
                s = "true" if leaf else "false"
            else:
                s = str(leaf)
            docs.append(i)
            terms.append(f"{DYNAMIC_TERM_PREFIX}{path}\x00{s}")
            poss.append(0)
            if isinstance(leaf, (int, float)) \
                    and not isinstance(leaf, bool):
                docs.append(i)
                terms.append(dynamic_num_key(path, leaf))
                poss.append(0)
    if jobs:
        # running position per (doc, path); +1 gap between values
        offsets: dict[tuple[int, str], int] = {}
        for analyzer, entries in jobs.items():
            tok_doc, tokens = tokenize_batch(
                [e[3] for e in entries], analyzer=analyzer)
            # split token stream back per input value
            counts = np.bincount(tok_doc, minlength=len(entries))
            start = 0
            for (doc_i, path, _vo, _txt), cnt in zip(entries, counts):
                base = offsets.get((doc_i, path), 0)
                for j in range(int(cnt)):
                    docs.append(doc_i)
                    terms.append(
                        f"{DYNAMIC_TERM_PREFIX}{path}\x00"
                        f"{tokens[start + j]}")
                    poss.append(base + j)
                offsets[(doc_i, path)] = base + int(cnt) + 1
                start += int(cnt)
    pos_arr = np.asarray(poss, dtype=np.int64) if want_positions \
        else None
    return (np.asarray(docs, dtype=np.int64),
            np.asarray(terms, dtype=object),
            pos_arr)


def build_segment(pdf: pd.DataFrame, config: IndexConfig, partition_id: int,
                  segments_root: str, chunk_idx: int = 0) -> dict:
    """Build one immutable segment from a sorted doc chunk. Returns the
    segment metadata row (manifest format)."""
    n = len(pdf)
    assert n > 0
    if config.concat_cols:
        # concatenate virtual field: index several source columns as one
        texts = (pdf[list(config.concat_cols)].astype(str)
                 .agg(" ".join, axis=1).tolist())
    else:
        texts = pdf[config.text_col].tolist()
    # no-string hot path: token spans -> padded-byte np.unique -> sorted
    # term ids; falls back to tokenize_batch + factorize for non-ASCII or
    # exotic analyzers (property-tested equal)
    doc_idx, codes, terms_sorted = tokenize_batch_ids(
        texts, analyzer=config.tokenizer)

    # fieldnorms count TEXT tokens only (dynamic terms are exact
    # attribute terms, not part of the scored text field)
    fieldnorms = np.bincount(doc_idx, minlength=n).astype(np.int64)
    if config.fieldnorms:
        fn_ids = fieldnorm_to_id(fieldnorms)
    else:
        # fieldnorms disabled: constant length norm of 1 (score -> idf)
        fn_ids = fieldnorm_to_id(np.ones(n, dtype=np.int64))

    pos_stream = None
    if config.record == "position":
        # per-token position = ordinal within its doc (tokens are emitted
        # in document order). ALWAYS built in position mode — even for a
        # chunk with zero text tokens — so the segment carries a pos_blob
        # column consistent with its meta (dynamic-only or blank-text
        # chunks would otherwise crash merges/phrase reads that select
        # the column)
        first_tok = np.r_[0, np.cumsum(fieldnorms)[:-1]]
        pos_stream = (np.arange(len(doc_idx), dtype=np.int64)
                      - first_tok[doc_idx])

    if config.dynamic_col and config.dynamic_col in pdf.columns:
        dyn_doc, dyn_terms, dyn_pos = extract_dynamic_terms(
            pdf[config.dynamic_col].tolist(),
            tokenizer=config.dynamic_tokenizer,
            field_tokenizers=config.dyn_text_fields or None,
            want_positions=pos_stream is not None)
        if len(dyn_doc):
            dyn_sorted, dyn_codes = np.unique(dyn_terms,
                                              return_inverse=True)
            # \x01-prefixed terms sort before every tokenizer output, so
            # prepending keeps the merged vocabulary sorted
            terms_sorted = np.concatenate([dyn_sorted, terms_sorted])
            doc_idx = np.concatenate([doc_idx, dyn_doc])
            codes = np.concatenate([codes + len(dyn_sorted), dyn_codes])
            if pos_stream is not None:
                pos_stream = np.concatenate([pos_stream, dyn_pos])

    pair_key = codes * n + doc_idx
    pair_sorted, tfs = np.unique(pair_key, return_counts=True)
    p_term = pair_sorted // n
    p_doc = pair_sorted % n
    tfs = tfs.astype(np.int64)

    positions = None
    if pos_stream is not None:
        # sorted stably by (term, doc) the positions stay ascending
        # within each posting, so delta-encoding resets at run
        # boundaries reproduce them exactly
        order = np.argsort(pair_key, kind="stable")
        spos = pos_stream[order]
        positions = encode_position_blob(spos, tfs, p_term)

    # segment identity: content-addressed over partition + doc keys
    h = hashlib.sha256()
    h.update(f"{config.index_uid}:{partition_id}:{chunk_idx}:0".encode())
    for col in config.key_cols:
        h.update(hashlib.sha256(
            "\x00".join(map(str, pdf[col].tolist())).encode()).digest())
    segment_id = f"seg-{h.hexdigest()[:20]}"
    seg_dir = os.path.join(segments_root, segment_id)

    def _pa_col(series: pd.Series) -> pa.Array:
        # unsigned ints must go through numpy: tolist() yields python
        # ints that overflow arrow's int64 inference above i64::MAX
        # (the reference pins u64 semantics, quickwit-search tests.rs:743)
        if str(series.dtype) in ("Int64", "UInt64", "Float64",
                                 "boolean"):
            # pandas nullable dtypes (doc-mapper typed columns): arrow
            # understands their mask natively; tolist() would yield
            # pd.NA scalars that pa.array rejects, and .to_numpy() on
            # a nullable UInt64 silently degrades to float64 — this
            # branch must run BEFORE the raw-unsigned check
            return pa.Array.from_pandas(series)
        if pd.api.types.is_unsigned_integer_dtype(series):
            return pa.array(series.to_numpy())
        return pa.array(series.tolist())

    # "_seg_doc" is the engine-internal doc id (rank within segment); user
    # columns (including one literally named doc_id) are stored verbatim
    doc_cols: dict[str, pa.Array] = {
        "_seg_doc": pa.array(np.arange(n), type=pa.int32()),
    }
    for col in config.key_cols:
        doc_cols[col] = _pa_col(pdf[col])
    ip_hex_vals: dict[str, list] = {}  # kept for min/max stats below
    for col in (*config.tag_cols, *config.store_cols):
        if col not in doc_cols and col in pdf.columns:
            ftype = config.field_types.get(col)
            if ftype == "ip":
                # sortable 32-hex IPv6-u128 transport (fieldtypes.py):
                # string order == numeric IP order, so Range/sort/stats
                # work on the plain string column
                hexed = ip_to_hex(pdf[col]).tolist()
                ip_hex_vals[col] = hexed
                doc_cols[col] = pa.array(hexed, type=pa.string())
            elif ftype == "bytes":
                doc_cols[col] = pa.array(
                    bytes_from_b64(pdf[col].tolist()), type=pa.binary())
            else:
                doc_cols[col] = _pa_col(pdf[col])
    if config.sha_col and config.sha_col in pdf.columns:
        doc_cols[config.sha_col] = pa.array(pdf[config.sha_col].tolist())
    if config.source_col and config.source_col in pdf.columns:
        # original doc JSON, served as ES `_source` (the reference's
        # doc store keeps the full document the same way)
        doc_cols[config.source_col] = pa.array(
            pdf[config.source_col].tolist(), type=pa.string())
    doc_cols["fieldnorm"] = pa.array(fieldnorms, type=pa.int32())
    doc_cols["fieldnorm_id"] = pa.array(fn_ids.astype(np.int32),
                                        type=pa.int32())

    tags: dict[str, list[str] | None] = {}
    for col in config.tag_cols:
        if col in pdf.columns:
            vals = sorted(set(map(str, pdf[col].tolist())))
            tags[col] = vals if len(vals) <= config.max_tag_values else None

    # per-segment min/max stats for numeric doc columns — the analog of
    # the reference's split time_range pruning (split_metadata.rs
    # time_range; list_relevant_splits file_backed_index/mod.rs:734-740),
    # generalized to every numeric fast field: the searcher prunes
    # segments whose [min,max] cannot overlap a Range constraint
    col_stats: dict[str, list] = {}
    # ip fast fields get string min/max over the NORMALIZED hex form
    # (lexical == numeric IP order), so segment pruning works for IP
    # ranges exactly like numeric time ranges
    for col, hexed in ip_hex_vals.items():
        vals = [v for v in hexed if v is not None]
        if vals:
            col_stats[col] = [min(vals), max(vals)]
    for col in (*config.store_cols, *config.key_cols):
        if col in pdf.columns and pd.api.types.is_numeric_dtype(pdf[col]):
            if pdf[col].isna().all():
                continue  # no bounds from an all-null column
            if pd.api.types.is_integer_dtype(pdf[col]):
                # exact int bounds: float rounding near 2^63 could
                # otherwise shrink [min,max] and wrongly prune a segment
                col_stats[col] = [int(pdf[col].min()),
                                  int(pdf[col].max())]
            else:
                col_stats[col] = [float(pdf[col].min()),
                                  float(pdf[col].max())]
    meta_extra = {
        "segment_id": segment_id,
        "partition_id": int(partition_id),
        "chunk_idx": int(chunk_idx),
        "bytes_raw": int(sum(len(t) for t in texts if isinstance(t, str))),
        "tags": tags,
        "col_stats": col_stats,
        "num_merge_ops": 0,
        "parents": [],
        "schema_rev": config.schema_rev,
        "tokenizer": config.tokenizer,
        "record": config.record,
        "fieldnorms": bool(config.fieldnorms),
        "dynamic": bool(config.dynamic_col),
        "field_types": dict(config.field_types),
        "dynamic_tokenizer": config.dynamic_tokenizer,
        "dynamic_fast_normalizer": config.dynamic_fast_normalizer,
        "dyn_text_fields": dict(config.dyn_text_fields or {}),
        "source_col": config.source_col,
    }
    return write_segment(seg_dir, terms_sorted, p_term, p_doc, tfs, fn_ids,
                         doc_cols, meta_extra, positions=positions)


def build_partition(pdf: pd.DataFrame, config: IndexConfig,
                    segments_root: str) -> list[dict]:
    """Build all segments for one routed partition: stable-sort by doc key,
    chunk by max_docs_per_segment, one segment per chunk."""
    partition_id = int(pdf["_pid"].iloc[0])
    pdf = pdf.sort_values(config.doc_sort_cols(), kind="mergesort"
                          ).reset_index(drop=True)
    rows = []
    step = config.max_docs_per_segment
    for ci, lo in enumerate(range(0, len(pdf), step)):
        chunk = pdf.iloc[lo:lo + step].reset_index(drop=True)
        rows.append(build_segment(chunk, config, partition_id,
                                  segments_root, chunk_idx=ci))
    _release_free_heap()
    return rows


try:
    _MALLOC_TRIM = ctypes.CDLL(None).malloc_trim
except (AttributeError, OSError, TypeError):  # no malloc_trim here
    _MALLOC_TRIM = None


def _release_free_heap() -> None:
    """Return the heap a build freed to the OS (glibc `malloc_trim`).

    A build's transient arrays are tens of MB. glibc keeps freed chunks
    that sit below a live one resident, so a long-lived process (the HTTP
    server, a reused Spark Python worker) would otherwise carry an amount
    set by chance heap layout into every later request: the same ingests
    left the server 150 or 190 MB resident depending on the length of the
    index path."""
    if _MALLOC_TRIM is not None:
        _MALLOC_TRIM(0)


def route_partitions(df, config: IndexConfig, num_partitions: int):
    """Add the deterministic routing column (reference: SipHash routing of
    partition_key values, routing_expression/mod.rs:107-141; we use xxhash64
    — deterministic and shuffle-friendly). With partition_cols set, docs
    sharing a routing value co-locate in the same segments (clustered
    layout => effective tag / min-max pruning); otherwise the doc key
    spreads docs uniformly."""
    from pyspark.sql import functions as F
    cols = config.partition_cols or config.key_cols
    return df.withColumn(
        "_pid", F.pmod(F.xxhash64(*cols),
                       F.lit(num_partitions)).cast("int"))


def build_groups(df, config: IndexConfig, segments_root: str,
                 pids=None, partition_transform=None) -> list[dict]:
    """Build every routing group of `df` (keyed by its `_pid` column) in
    one Spark job and return the decoded manifest rows.

    pids=None: `df` is already placed, each Spark partition holding
    complete groups, and the build is a narrow map with no exchange.
    Otherwise the group of `pids[i]` goes to task i through one
    `repartitionById` exchange: exactly one group per task whatever the
    pid values (a resumed wave with gaps, a batch's `base + pid` ids),
    where hashing `_pid` onto the same task count doubles some tasks
    up and leaves others idle.

    partition_transform(group_pdf) runs inside the task before the build
    (e.g. build_index_json's doc-mapper projection of raw JSON lines)."""
    from pyspark.sql import functions as F

    if pids is not None:
        slot = F.array_position(F.array(*[F.lit(int(p)) for p in pids]),
                                F.col("_pid")) - 1
        df = df.repartitionById(len(pids), slot.cast("int"))

    def _build_narrow(batches):
        # concatenate this task's batches, then build every routing group
        # it holds (complete by contract)
        batches = list(batches)
        pdf = (pd.concat(batches, ignore_index=True) if batches
               else pd.DataFrame())
        rows: list[dict] = []
        if len(pdf):
            for _pid, grp in pdf.groupby("_pid", sort=True):
                grp = grp.reset_index(drop=True)
                if partition_transform is not None:
                    grp = partition_transform(grp)
                    if len(grp) == 0:
                        continue
                rows.extend(build_partition(grp, config, segments_root))
        yield pd.DataFrame(
            {"manifest_json": [json.dumps(r) for r in rows]})

    out = df.mapInPandas(_build_narrow, schema=MANIFEST_ROW_SCHEMA).collect()
    return [json.loads(r.manifest_json) for r in out]


def _builder_done_partitions(manifest: Manifest, num_partitions: int
                             ) -> set[int]:
    """Integer checkpoints in [0, num_partitions) that are provably
    BUILDER partition checkpoints (position format 'docs=N'). Legacy
    pre-namespace stream batches also wrote bare integer keys (positions
    'batch=...'), which must NOT count as completed build partitions —
    treating them as done would silently return without indexing the
    input. A foreign-positioned key therefore leaves its partition in
    `todo`, so the caller reaches claim_router, whose
    checkpoints-without-a-router check refuses the unattributable state
    loudly instead of no-op'ing."""
    done: set[int] = set()
    for p in range(num_partitions):
        pos = manifest.checkpoint(p)
        if pos is not None and pos.startswith(BUILDER_POS_PREFIX):
            done.add(p)
    return done


def build_index(spark, df, config: IndexConfig, num_partitions: int = 16,
                wave_size: int = 64, max_waves: int | None = None,
                input_routed: bool = False,
                partition_transform=None,
                router_tag: str | None = None) -> Manifest:
    """Distributed index build with per-partition checkpoints + resume.

    Partitions already recorded in the manifest checkpoint map are skipped
    (exactly-once publish; re-running is a no-op). Waves bound how much work
    can be lost on failure: each wave is one Spark job, published atomically
    when it completes. Within a wave every routing group is built by its
    own task (build_groups: one id-placed exchange, then a narrow map).

    input_routed=True declares that `df` is already laid out so that each
    Spark partition holds complete routing groups (e.g. the source Iceberg
    table is bucketed by the doc key, or the caller ran
    `route_partitions(df, cfg, P).repartitionById(P, "_pid")`). The build
    then runs as a narrow mapInPandas with NO exchange — on a bucketed
    100 TB table this removes the largest shuffle of the whole pipeline.
    Routing groups are still identified by the deterministic `_pid`
    column, so segment ids (content-addressed) are identical to the
    shuffle path.
    """
    from pyspark.sql import functions as F

    manifest = Manifest.load_or_create(
        config.index_dir, config.index_uid,
        config.manifest_config())
    done = _builder_done_partitions(manifest, num_partitions)
    todo = [p for p in range(num_partitions) if p not in done]
    if not todo:
        # COMPLETE index: idempotent no-op, including legacy indexes
        # built before the router key existed (nothing will be resumed,
        # so the routing scheme is irrelevant). A legacy stream's
        # foreign int keys can never satisfy this: they are excluded
        # from `done`, so their partition stays in todo and hits
        # claim_router's refusal below.
        return manifest
    # pre-routed inputs must carry route_partitions-compatible _pid (the
    # content-addressed-segment identity documented below relies on it),
    # so both spark paths share the xxhash64 routing identity
    manifest.claim_router(router_tag
                          or f"spark-xxhash64/p{num_partitions}")

    segments_root = os.path.join(config.index_dir, "segments")
    os.makedirs(segments_root, exist_ok=True)
    if input_routed:
        if "_pid" not in df.columns:
            raise ValueError(
                "input_routed=True requires the input to carry the _pid "
                "routing column with complete groups per Spark partition "
                "— run route_partitions(df, cfg, P).repartitionById(P, "
                "'_pid') first (or read a table bucketed by the doc key). "
                "Silently re-routing here would fragment routing groups "
                "across partitions.")
        routed = df
    else:
        routed = route_partitions(df, config, num_partitions)

    for wi, lo in enumerate(range(0, len(todo), wave_size)):
        if max_waves is not None and wi >= max_waves:
            break
        wave = todo[lo:lo + wave_size]
        wave_df = routed.filter(F.col("_pid").isin([int(p) for p in wave]))
        rows = build_groups(wave_df, config, segments_root,
                            pids=None if input_routed else wave,
                            partition_transform=partition_transform)
        built_pids = {r["partition_id"] for r in rows}
        stray = built_pids - {int(p) for p in wave}
        if stray:
            raise RuntimeError(
                f"wave returned segments for partitions outside it: "
                f"{sorted(stray)} — routing hash drift between driver "
                "and executors would corrupt checkpoints")
        delta = {}
        for p in wave:
            nd = sum(r["num_docs"] for r in rows if r["partition_id"] == p)
            # empty partitions also advance their checkpoint
            delta[p] = (None, f"{BUILDER_POS_PREFIX}{nd}")
        manifest.publish(rows, checkpoint_delta=delta)
    return manifest


def build_index_pandas(pdf: pd.DataFrame, config: IndexConfig,
                       num_partitions: int = 4) -> Manifest:
    """Driver-local build (tests / oracle): same build_partition code
    path, no Spark — but a DIFFERENT routing hash (sha256 vs xxhash64),
    so its checkpoints are NOT resumable by build_index or vice versa;
    claim_router turns that mix into a loud error instead of silent
    duplicate/dropped documents."""
    manifest = Manifest.load_or_create(
        config.index_dir, config.index_uid,
        config.manifest_config())
    done = _builder_done_partitions(manifest, num_partitions)
    if all(p in done for p in range(num_partitions)):
        return manifest  # complete: idempotent no-op (router-agnostic)
    manifest.claim_router(f"pandas-sha256/p{num_partitions}")
    segments_root = os.path.join(config.index_dir, "segments")
    os.makedirs(segments_root, exist_ok=True)

    route_cols = list(config.partition_cols or config.key_cols)
    keys = pdf[route_cols].astype(str).agg("\x00".join, axis=1)
    pids = np.array([_stable_hash(k) % num_partitions for k in keys])
    rows_all = []
    delta = {}
    for p in range(num_partitions):
        if p in done:
            continue
        part = pdf[pids == p].copy()
        part["_pid"] = p
        if len(part):
            rows = build_partition(part, config, segments_root)
            rows_all.extend(rows)
        nd = int((pids == p).sum())
        delta[p] = (None, f"{BUILDER_POS_PREFIX}{nd}")
    if delta:
        manifest.publish(rows_all, checkpoint_delta=delta)
    return manifest


def update_index(config: IndexConfig, schema_rev: str,
                 tokenizer: str | None = None, record: str | None = None,
                 fieldnorms: bool | None = None) -> IndexConfig:
    """Doc-mapping update flow: persist a new mapping generation in the
    manifest (Manifest.update_doc_mapping) and return the IndexConfig
    to use for every subsequent ingest into this index. Existing
    segments stay on their old rev; search unions generations with
    per-rev query compilation; merges never cross revs.

    Checkpoint note: the new generation's builds must use FRESH
    partition checkpoints — otherwise partitions published under the
    old mapping would be skipped and the new-mapping docs silently
    dropped. Ingest new-generation documents through the streaming/
    queue paths (string-keyed checkpoints) or a distinct partition
    range; build_index over an already-complete index is a no-op by
    design."""
    m = Manifest.load(config.index_dir)
    m.update_doc_mapping(schema_rev, tokenizer=tokenizer, record=record,
                         fieldnorms=fieldnorms)
    import dataclasses
    changes: dict = {"schema_rev": schema_rev}
    if tokenizer is not None:
        changes["tokenizer"] = tokenizer
    if record is not None:
        changes["record"] = record
    if fieldnorms is not None:
        changes["fieldnorms"] = bool(fieldnorms)
    return dataclasses.replace(config, **changes)


def _stable_hash(s: str) -> int:
    return int.from_bytes(hashlib.sha256(s.encode()).digest()[:8], "little")


def build_index_json(spark, json_df, config_doc: dict, root_dir: str,
                     num_partitions: int = 16, wave_size: int = 64,
                     max_waves: int | None = None,
                     json_col: str = "value") -> Manifest:
    """Distributed SCHEMALESS ingest: raw JSON documents -> a
    doc-mapper index, projected INSIDE the executors.

    This is the 100 TB path for reference-shaped configs (nested
    object/json fields, dynamic mode, autogenerated ids): the HTTP
    ingest endpoints project on the driver, one payload at a time —
    here `spark.read.json`-style inputs fan the SAME
    DocMapper.project across the cluster:

        raw lines DF
          -> _pid = xxhash64(line) % P          (content routing: a
             retry re-hashes identical bytes to identical partitions)
          -> repartitionById(P) -> mapInPandas  [executors: parse +
             doc-mapper projection + segment build, no second shuffle]
          -> manifest.publish per wave          [driver]

    Determinism: each routing group's lines are SORTED before ids are
    assigned, and the batch tag is the sha256 of the sorted content —
    so segment ids are content-addressed regardless of shuffle arrival
    order, re-running the same input is an exactly-once no-op, and
    speculative task retries are harmless. Invalid docs (unparseable
    JSON, doc-mapper rejections) are dropped per doc, exactly like the
    HTTP path.

    Reference anchor: doc_processor.rs (JSON decode + doc mapping in
    the indexing pipeline) + the build/publish contract of
    build_index above.
    """
    from pyspark.sql import functions as F

    from ..search.mgmt_api import config_from_json
    cfg = config_from_json(config_doc, root_dir)
    mapper = cfg.__dict__.get("_mapper")
    if mapper is None:
        raise ValueError(
            "build_index_json needs a reference-shaped config (no "
            "doc_id_fields -> doc-mapper projection); structured "
            "inputs with explicit doc keys go through build_index")

    routed = (json_df
              .select(F.col(json_col).cast("string").alias("_raw"))
              .where(F.col("_raw").isNotNull())
              .withColumn("_pid", F.pmod(F.xxhash64("_raw"),
                                         F.lit(num_partitions))
                          .cast("int"))
              .repartitionById(num_partitions, "_pid"))

    def _project(grp: pd.DataFrame) -> pd.DataFrame:
        raw = sorted(grp["_raw"].tolist())
        tag = hashlib.sha256("\n".join(raw).encode()).hexdigest()[:16]
        docs = []
        for line in raw:
            try:
                d = json.loads(line)
            except json.JSONDecodeError:
                d = None
            # non-dicts (incl. unparseable lines) are DROPPED by the
            # projection's per-doc error path, ordinals preserved
            docs.append(d if isinstance(d, dict) else None)
        pdf = mapper.project(docs, tag, errors=[])
        pdf["_pid"] = int(grp["_pid"].iloc[0])
        return pdf

    return build_index(spark, routed, cfg, num_partitions=num_partitions,
                       wave_size=wave_size, max_waves=max_waves,
                       input_routed=True, partition_transform=_project,
                       router_tag=f"spark-json-xxhash64/p{num_partitions}")
