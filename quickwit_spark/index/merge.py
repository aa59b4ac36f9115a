"""Merge executor: K parent segments -> one merged segment.

Mirrors the reference MergeExecutor (quickwit-indexing/src/merge_executor.rs):
  - parents are concatenated in policy order; docids remapped by cumulative
    doc-count offsets (the union-index doc order);
  - attributes recombined: num_docs/bytes summed, tags unioned,
    num_merge_ops = max(parents) + 1 (merge_executor.rs:293-299);
  - segments merge only within one doc-mapping (schema_rev/tokenizer/record
    group — doc_mapping_uid semantics, split_metadata.rs:132-134);
  - the publish replaces parents atomically (publisher.rs:130-155).

The merged segment id is content-addressed over the parent ids, so
re-running a merge is byte-identical and idempotent (FIXTURES.md F6).

Everything is numpy-vectorized: one varint decode per parent (whole blob),
group-wise delta cumsum, one lexsort, then the shared write_segment encoder.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from .builder import write_segment
from .codecs import varint_decode
from .manifest import Manifest
from .merge_policy import MergeOperation, StableLogMergePolicy


def _decode_segment_postings(seg_dir: str, with_positions: bool = False):
    """Decode ALL postings of a segment in one vectorized pass.

    Returns (terms: object array sorted, term_of_posting, docids, tfs,
    positions-or-None). Positions come back as one token stream ordered
    by (term, doc, position) — the storage order.
    """
    cols = ["term_id", "doc_freq", "docid_blob", "tf_blob"]
    if with_positions:
        cols.append("pos_blob")
    t = pq.read_table(os.path.join(seg_dir, "postings.parquet"),
                      columns=cols)
    td = pq.read_table(os.path.join(seg_dir, "termdict.parquet"),
                       columns=["term", "term_id"])
    terms = np.asarray(td.column("term").to_pylist(), dtype=object)
    doc_freq = t.column("doc_freq").to_numpy()
    # postings rows are written ordered by term_id == termdict order
    docid_blob = b"".join(t.column("docid_blob").to_pylist())
    tf_blob = b"".join(t.column("tf_blob").to_pylist())
    deltas = varint_decode(docid_blob).astype(np.int64)
    tfs = varint_decode(tf_blob).astype(np.int64)
    npost = len(deltas)
    assert npost == int(doc_freq.sum())
    if npost == 0:
        # zero-postings segment (all-blank text, num_docs > 0 — a valid
        # shape per write_segment): the np.r_ idiom below would
        # fabricate term_starts=[0] and cs[term_starts] would IndexError
        z = np.zeros(0, dtype=np.int64)
        return terms, z, z, z, (z if with_positions else None)
    term_starts = np.r_[0, np.cumsum(doc_freq)[:-1]].astype(np.int64)
    # group-wise delta cumsum: docids = cumsum - base(term)
    cs = np.cumsum(deltas)
    base = (cs[term_starts] - deltas[term_starts])
    term_of = np.repeat(np.arange(len(terms)), doc_freq)
    docids = cs - base[term_of]
    positions = None
    if with_positions:
        from .codecs import decode_positions
        pos_blob = b"".join(t.column("pos_blob").to_pylist())
        positions, _ = decode_positions(pos_blob, tfs)
    return terms, term_of, docids, tfs, positions


# single shared encoder (codecs.py) — bit-identical across build/merge/
# delete paths, which content-addressed idempotence depends on
from .codecs import encode_position_blob as _encode_position_blob  # noqa: E402
from .codecs import _binary_cells  # noqa: E402
from .codecs import varint_decode_with_sizes as _varint_decode_with_sizes
from .codecs import varint_encode_with_sizes as _varint_encode_with_sizes


def _byte_gather(source: np.ndarray, starts: np.ndarray,
                 lens: np.ndarray, chunk: int = 1 << 24) -> np.ndarray:
    """Concatenate source[starts[i]:starts[i]+lens[i]] (vectorized).

    Chunked over runs so the int64 index temporaries stay ~24 bytes per
    OUTPUT byte only within one ~16 MB chunk (~400 MB transient) instead
    of the whole blob — the unchunked version spiked to several GB per
    10^8-byte blob and set the per-op memory peak."""
    total = int(lens.sum())
    if total == 0:
        return np.zeros(0, dtype=source.dtype)
    out = np.empty(total, dtype=source.dtype)
    cum = np.cumsum(lens)
    nruns = len(lens)
    pos = 0
    out_off = 0
    while pos < nruns:
        end = min(int(np.searchsorted(cum, out_off + chunk)) + 1, nruns)
        ln = lens[pos:end]
        t = int(ln.sum())
        dst = np.r_[0, np.cumsum(ln)[:-1]]
        within = np.arange(t, dtype=np.int64) - np.repeat(dst, ln)
        out[out_off:out_off + t] = source[
            np.repeat(starts[pos:end], ln) + within]
        out_off += t
        pos = end
    return out


def merge_segments(index_dir: str, parents: list[dict]) -> dict:
    """Execute one merge operation; returns the merged segment's metadata.

    Posting bytes are SPLICED, not re-encoded (merge_executor.rs's
    union-concat-without-retokenizing, taken one level further): a merged
    term's posting list is its parents' runs concatenated in parent
    order, and every within-run delta gap is unchanged by the docid
    remap (offsets cancel), so the parents' varint bytes are copied
    verbatim; only each run's FIRST delta (absolute docid or gap vs the
    previous parent's last docid) is re-encoded. The tf stream and the
    position stream (deltas reset per posting) are pure byte
    concatenations. Canonical varint encoding makes the result
    byte-identical to a full re-encode (FIXTURES.md F6 idempotence).
    Docids/tfs are still decoded once per parent — the 128-posting block
    metadata (block_last/max_tf/min_fn/max_ratio) is realigned in
    write_segment from the decoded arrays.
    """
    segments_root = os.path.join(index_dir, "segments")
    offsets = np.r_[0, np.cumsum([p["num_docs"] for p in parents])[:-1]]
    with_pos = all(p.get("record") == "position" for p in parents)

    # --- per-parent load: decoded values + raw byte ranges ---------------
    all_terms = []
    p_doc_parts, p_tf_parts = [], []      # decoded per-parent streams
    doc_nb_parts, tf_nb_parts = [], []    # per-value byte sizes
    doc_data_parts, tf_data_parts, pos_data_parts = [], [], []
    run_rows = []                         # one row per (parent, term)
    doc_base = tf_base = pos_base = 0     # bases into concatenated buffers
    post_base = 0
    for pi, (p, off) in enumerate(zip(parents, offsets)):
        seg_dir = os.path.join(segments_root, p["segment_id"])
        cols = ["doc_freq", "docid_blob", "tf_blob"]
        if with_pos:
            cols.append("pos_blob")
        t = pq.read_table(os.path.join(seg_dir, "postings.parquet"),
                          columns=cols)
        td = pq.read_table(os.path.join(seg_dir, "termdict.parquet"),
                           columns=["term"])
        terms = np.asarray(td.column("term").to_pylist(), dtype=object)
        doc_freq = t.column("doc_freq").to_numpy().astype(np.int64)
        ddata, doffs = _binary_cells(t.column("docid_blob"))
        tdata, toffs = _binary_cells(t.column("tf_blob"))
        deltas, dnb = _varint_decode_with_sizes(ddata)
        tfs, tnb = _varint_decode_with_sizes(tdata)
        if len(doc_freq):
            term_starts = np.r_[0, np.cumsum(doc_freq)[:-1]]
            cs = np.cumsum(deltas.astype(np.int64))
            base = cs[term_starts] - deltas[term_starts].astype(np.int64)
            term_of = np.repeat(np.arange(len(terms)), doc_freq)
            # int32: per-op docids < 2^31 (an op is bounded by the
            # split_num_docs_target, orders of magnitude under 2^31)
            docids = (cs - base[term_of] + int(off)).astype(np.int32)
        else:
            # valid EMPTY parent (blank-text chunk): contributes no
            # postings; the np.r_ idiom would fabricate term_starts=[0]
            term_starts = np.zeros(0, dtype=np.int64)
            docids = np.zeros(0, dtype=np.int32)

        all_terms.append(terms)
        p_doc_parts.append(docids)
        p_tf_parts.append(tfs.astype(np.int32))  # tf < 2^31 by type
        doc_nb_parts.append(dnb.astype(np.uint8))  # varint size <= 10
        tf_nb_parts.append(tnb.astype(np.uint8))
        doc_data_parts.append(ddata)
        tf_data_parts.append(tdata)
        term_ends = term_starts + doc_freq
        row = {
            "parent": np.full(len(terms), pi, dtype=np.int64),
            "len": doc_freq,
            "post_start": term_starts + post_base,
            "doc_byte_start": doffs[:-1] + doc_base,
            "doc_byte_len": np.diff(doffs),
            "first_len": dnb[term_starts],
            "tf_byte_start": toffs[:-1] + tf_base,
            "tf_byte_len": np.diff(toffs),
            "first_doc": docids[term_starts],
            "last_doc": docids[term_ends - 1],
        }
        if with_pos:
            pdata, poffs = _binary_cells(t.column("pos_blob"))
            pos_data_parts.append(pdata)
            row["pos_byte_start"] = poffs[:-1] + pos_base
            row["pos_byte_len"] = np.diff(poffs)
            pos_base += len(pdata)
        run_rows.append(row)
        doc_base += len(ddata)
        tf_base += len(tdata)
        post_base += len(docids)

    global_terms = np.unique(np.concatenate(all_terms))
    run_gterm = np.concatenate([
        np.searchsorted(global_terms, terms) for terms in all_terms]
        ).astype(np.int32)  # vocab < 2^31
    runs = {k: np.concatenate([r[k] for r in run_rows])
            for k in run_rows[0]}
    run_rows.clear()
    # runs ordered by (term, parent): stable sort keeps parent order
    order = np.argsort(run_gterm, kind="stable")
    for k in runs:
        runs[k] = runs[k][order]
    run_gterm = run_gterm[order]

    if len(run_gterm) == 0:
        # every parent is a valid EMPTY segment (blank-text chunks —
        # StableLog groups by num_docs, so they can form a whole merge
        # group): the splice arithmetic below assumes >= 1 run (its
        # np.r_/strided assignments fabricate or broadcast-fail on zero
        # runs), so short-circuit to the empty merged child —
        # write_segment handles npost == 0
        z64 = np.zeros(0, dtype=np.int64)
        doc_blob = b""
        tf_blob = b""
        g_doc = g_tf = g_term = z64
        doc_nb_m = tf_nb_m = z64
        positions = (b"", np.zeros(1, dtype=np.int64)) if with_pos \
            else None
    else:
        # --- new first-delta per run (the ONLY re-encoded values) --------
        same_term = np.r_[False, run_gterm[1:] == run_gterm[:-1]]
        prev_last = np.r_[0, runs["last_doc"][:-1]]
        new_first = runs["first_doc"] - np.where(same_term, prev_last, 0)
        nf_blob, nf_nb = _varint_encode_with_sizes(
            new_first.astype(np.uint64))
        nf_data = np.frombuffer(nf_blob, dtype=np.uint8)
        nf_starts = np.r_[0, np.cumsum(nf_nb)[:-1]]

        # --- splice the docid stream: [new first][unchanged tail] per run
        doc_source = np.concatenate([*doc_data_parts, nf_data])
        doc_data_parts.clear()
        nf_base = doc_source.size - nf_data.size
        nruns = len(run_gterm)
        piece_start = np.empty(2 * nruns, dtype=np.int64)
        piece_len = np.empty(2 * nruns, dtype=np.int64)
        piece_start[0::2] = nf_base + nf_starts
        piece_len[0::2] = nf_nb
        piece_start[1::2] = runs["doc_byte_start"] + runs["first_len"]
        piece_len[1::2] = runs["doc_byte_len"] - runs["first_len"]
        doc_blob = _byte_gather(doc_source, piece_start, piece_len).tobytes()
        del doc_source

        # --- tf stream: pure concatenation of run cells -------------------
        tf_source = np.concatenate(tf_data_parts)
        tf_data_parts.clear()
        tf_blob = _byte_gather(tf_source, runs["tf_byte_start"],
                               runs["tf_byte_len"]).tobytes()
        del tf_source

        # --- merged posting value arrays (for block metadata) -------------
        val_src = _value_gather_index(runs["post_start"], runs["len"])
        p_doc_all = np.concatenate(p_doc_parts)
        p_doc_parts.clear()
        g_doc = p_doc_all[val_src]
        del p_doc_all
        p_tf_all = np.concatenate(p_tf_parts)
        p_tf_parts.clear()
        g_tf = p_tf_all[val_src]
        del p_tf_all
        doc_nb_all = np.concatenate(doc_nb_parts)
        doc_nb_parts.clear()
        doc_nb_m = doc_nb_all[val_src]
        del doc_nb_all
        run_val_starts = np.r_[0, np.cumsum(runs["len"])[:-1]]
        doc_nb_m[run_val_starts] = nf_nb  # patched firsts
        tf_nb_all = np.concatenate(tf_nb_parts)
        tf_nb_parts.clear()
        tf_nb_m = tf_nb_all[val_src]
        del tf_nb_all, val_src
        g_term = np.repeat(run_gterm, runs["len"])

        positions = None
        if with_pos:
            # per-posting delta runs reset at run starts: byte concat per
            # term
            pos_source = np.concatenate(pos_data_parts)
            pos_data_parts.clear()
            pos_blob = _byte_gather(pos_source, runs["pos_byte_start"],
                                    runs["pos_byte_len"]).tobytes()
            del pos_source
            term_first_run = np.nonzero(
                np.r_[True, run_gterm[1:] != run_gterm[:-1]])[0]
            term_bytes = np.add.reduceat(runs["pos_byte_len"],
                                         term_first_run)
            positions = (pos_blob, np.r_[0, np.cumsum(term_bytes)])

    # docs table: concat with remapped doc ids
    doc_tables = []
    fn_ids_parts = []
    for p, off in zip(parents, offsets):
        seg_dir = os.path.join(segments_root, p["segment_id"])
        t = pq.read_table(os.path.join(seg_dir, "docs.parquet"))
        new_ids = pa.array(
            (t.column("_seg_doc").to_numpy() + int(off)).astype(np.int32),
            type=pa.int32())
        t = t.set_column(t.schema.get_field_index("_seg_doc"), "_seg_doc",
                         new_ids)
        doc_tables.append(t)
        fn_ids_parts.append(t.column("fieldnorm_id").to_numpy())
    docs_tbl = pa.concat_tables(doc_tables)
    fn_ids = np.concatenate(fn_ids_parts).astype(np.int64)

    h = hashlib.sha256(("merge:" + ":".join(
        p["segment_id"] for p in parents)).encode())
    segment_id = f"seg-{h.hexdigest()[:20]}"
    seg_dir = os.path.join(segments_root, segment_id)

    tags: dict[str, list[str] | None] = {}
    for p in parents:
        for col, vals in p.get("tags", {}).items():
            if vals is None:
                tags[col] = None
            elif tags.get(col, []) is not None:
                tags.setdefault(col, [])
                tags[col] = sorted(set(tags[col]) | set(vals))
    # union numeric min/max stats (only columns present in every parent
    # stay sound); mirrors the reference's merged time_range union
    # (merge_executor.rs:199-210)
    stat_keys = set.intersection(*(set(p.get("col_stats", {}))
                                   for p in parents)) if parents else set()
    col_stats = {}
    for col in stat_keys:
        los = [p["col_stats"][col][0] for p in parents]
        his = [p["col_stats"][col][1] for p in parents]
        col_stats[col] = [min(los), max(his)]

    first = parents[0]
    meta_extra = {
        "segment_id": segment_id,
        "partition_id": -1,
        # highest SOURCE partition id across the whole merge ancestry:
        # incremental consumers (sync_iceberg retirement) derive each
        # segment's ingest epoch from partition ids, and a merged
        # segment inherits the NEWEST epoch among its inputs — without
        # this a merge racing a duplicate sync would put just-published
        # rows back inside the retirement scope
        "max_src_pid": max(
            (p["max_src_pid"] if p.get("max_src_pid") is not None
             else p.get("partition_id", -1)) for p in parents),
        "chunk_idx": -1,
        "bytes_raw": int(sum(p.get("bytes_raw", 0) for p in parents)),
        "tags": tags,
        "col_stats": col_stats,
        "num_merge_ops": max(p.get("num_merge_ops", 0) for p in parents) + 1,
        "parents": [p["segment_id"] for p in parents],
        "schema_rev": first["schema_rev"],
        "tokenizer": first["tokenizer"],
        "record": first.get("record", "freq"),
        "fieldnorms": first.get("fieldnorms", True),
        "dynamic": first.get("dynamic", False),
        "field_types": first.get("field_types", {}),
    }
    doc_cols = {name: docs_tbl.column(name)
                for name in docs_tbl.schema.names}
    return write_segment(seg_dir, global_terms, g_term, g_doc, g_tf,
                         fn_ids, doc_cols, meta_extra, positions=positions,
                         preencoded=(doc_blob, doc_nb_m, tf_blob, tf_nb_m))


def _value_gather_index(starts: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """Index array concatenating [starts[i], starts[i]+lens[i]) ranges."""
    if len(lens) == 0:
        # the np.r_ idiom below fabricates dst=[0] for zero runs (an
        # all-blank-text merge group) and np.repeat would broadcast-fail
        return np.zeros(0, dtype=np.int32)
    total = int(lens.sum())
    if total >= 2**31:  # one op would need >2^31 postings: see the
        raise ValueError(  # memory model note in merge_segments
            f"merge op has {total} postings (>= 2^31); split the op")
    # chunked like _byte_gather: temporaries bounded per ~4M-value slice
    out = np.empty(total, dtype=np.int32)
    cum = np.cumsum(lens)
    nruns = len(lens)
    pos = 0
    out_off = 0
    while pos < nruns:
        end = min(int(np.searchsorted(cum, out_off + (1 << 22))) + 1,
                  nruns)
        ln = lens[pos:end]
        t = int(ln.sum())
        dst = np.r_[0, np.cumsum(ln)[:-1]]
        within = (np.arange(t, dtype=np.int32)
                  - np.repeat(dst.astype(np.int32), ln))
        out[out_off:out_off + t] = (
            np.repeat(starts[pos:end].astype(np.int32), ln) + within)
        out_off += t
        pos = end
    return out


def _mapping_group(seg: dict) -> tuple:
    return (seg["schema_rev"], seg["tokenizer"], seg.get("record", "freq"),
            seg.get("fieldnorms", True),
            tuple(sorted(seg.get("field_types", {}).items())))


def plan_merges(segments: list[dict],
                policy: StableLogMergePolicy) -> list[MergeOperation]:
    """Group by doc-mapping, then ask the policy (MergePlanner analog)."""
    by_mapping: dict[tuple, list[dict]] = {}
    for s in segments:
        by_mapping.setdefault(_mapping_group(s), []).append(s)
    ops: list[MergeOperation] = []
    for group in by_mapping.values():
        ops.extend(policy.operations(group))
    return ops


def _virtual_child_meta(parents: list[dict]) -> dict:
    """Metadata a merge of `parents` WOULD publish, restricted to the
    fields the policy and the mapping grouper read — enough to simulate
    merge rounds without executing them. The id uses the same
    content-addressed scheme as merge_segments so the simulation is
    deterministic and order-stable."""
    h = hashlib.sha256(("merge:" + ":".join(
        p["segment_id"] for p in parents)).encode())
    first = parents[0]
    tes = [p.get("time_end") for p in parents]
    tes = [t for t in tes if t is not None]
    return {
        "segment_id": f"seg-{h.hexdigest()[:20]}",
        "num_docs": int(sum(p["num_docs"] for p in parents)),
        "num_merge_ops": max(p.get("num_merge_ops", 0)
                             for p in parents) + 1,
        "time_end": max(tes) if tes else None,
        "schema_rev": first["schema_rev"],
        "tokenizer": first["tokenizer"],
        "record": first.get("record", "freq"),
        "fieldnorms": first.get("fieldnorms", True),
        "field_types": first.get("field_types", {}),
    }


def plan_merges_batch(segments: list[dict], policy: StableLogMergePolicy,
                      max_rounds: int = 100) -> list[MergeOperation]:
    """Transitive (batch-mode) planning: simulate the policy's merge
    rounds on metadata alone, then emit ONE operation per FINAL merged
    segment over its transitive LEAF parents.

    The reference's planner is continuous — splits arrive over time, so
    it must merge level by level as each level fills
    (stable_log_merge_policy.rs:99-150). A batch compaction sees the
    whole backlog upfront, so the level-by-level intermediates are pure
    write amplification: every doc would be decoded+re-spliced once per
    level (2-3x at 10M docs). Skipping them rewrites each doc exactly
    once.

    The merged POSTING BYTES are identical to the round-by-round
    result: a splice of a splice is the same per-term run concatenation
    in the same global parent order, and block metadata is recomputed
    from the same decoded arrays (pinned by
    test_batch_flat_equals_rounds_bytes). Only the lineage metadata
    differs — segment ids hash the leaf ids, and num_merge_ops honestly
    records the ONE rewrite that actually happened (which keeps
    ConstWriteAmplification's rewrite accounting truthful).
    """
    current: dict[str, dict] = {s["segment_id"]: dict(s)
                                for s in segments}
    leaves: dict[str, list[dict]] = {s["segment_id"]: [s]
                                     for s in segments}
    virtual: list[str] = []  # creation order
    for _ in range(max_rounds):
        ops = plan_merges(list(current.values()), policy)
        if not ops:
            break
        for op in ops:
            child = _virtual_child_meta(op.segments)
            flat: list[dict] = []
            for p in op.segments:
                flat.extend(leaves.pop(p["segment_id"]))
                del current[p["segment_id"]]
            leaves[child["segment_id"]] = flat
            current[child["segment_id"]] = child
            virtual.append(child["segment_id"])
    # only SURVIVING virtual children become real operations (an
    # intermediate consumed by a later round is skipped — that's the
    # whole point); creation order keeps the result deterministic
    return [MergeOperation(leaves[sid]) for sid in virtual
            if sid in current]


def run_merges(index_dir: str, spark=None,
               policy: StableLogMergePolicy | None = None,
               max_rounds: int = 100,
               max_docs_in_flight: int | None = None,
               batch: bool = True) -> int:
    """Drive merge rounds until the policy is satisfied (hierarchical
    merge; each round publishes atomically, replacing parents).

    batch=True (default) uses transitive planning (plan_merges_batch):
    each doc is rewritten once, straight into its final segment,
    instead of once per level — byte-identical postings, 2-3x less
    wall/IO on a deep backlog. batch=False replays the reference's
    continuous level-by-level rounds (kept for parity tests and for
    callers feeding segments incrementally).

    max_docs_in_flight bounds executor memory: a merge op decodes all
    its parents' postings, so its working set scales with the op's doc
    count (~2-3 KB per doc at ~80 tokens/doc). Ops are greedily packed
    into waves whose total doc count stays under the budget (each wave
    is one Spark job, ops are independent tasks); the reference bounds
    the same resource with merge_concurrency / merge memory budgets
    (merge_pipeline.rs). On a multi-executor cluster the budget is
    per-executor-task anyway (each op is one task), so the wave budget
    matters mainly for single-host local mode. None = all ops in one
    wave."""
    policy = policy or StableLogMergePolicy()
    total_ops = 0
    for _ in range(max_rounds):
        manifest = Manifest.load(index_dir)
        if batch:
            ops = plan_merges_batch(manifest.segments(), policy)
        else:
            ops = plan_merges(manifest.segments(), policy)
        if not ops:
            break
        if spark is not None:
            # even a single-op round runs on an executor: the final
            # hierarchy round IS typically one giant op whose working
            # set is exactly what max_docs_in_flight keeps off the
            # driver (see the NOTE in _execute_spark)
            metas = []
            for wave in _merge_waves(ops, max_docs_in_flight):
                metas.extend(_execute_spark(spark, index_dir, wave))
        else:
            metas = [merge_segments(index_dir, op.segments) for op in ops]
        replaced = [sid for op in ops for sid in op.segment_ids()]
        manifest.publish(metas, replaced_segment_ids=replaced)
        total_ops += len(ops)
    return total_ops


def _merge_waves(ops: list[MergeOperation],
                 max_docs_in_flight: int | None
                 ) -> list[list[MergeOperation]]:
    """Greedy wave packing by op doc count (largest first, each wave at
    least one op so an over-budget op still runs — alone)."""
    if max_docs_in_flight is None:
        return [ops]
    sized = sorted(ops, key=lambda op: -sum(s["num_docs"]
                                            for s in op.segments))
    waves: list[list[MergeOperation]] = []
    loads: list[int] = []
    for op in sized:
        n = sum(s["num_docs"] for s in op.segments)
        placed = False
        for i, load in enumerate(loads):
            if load + n <= max_docs_in_flight:
                waves[i].append(op)
                loads[i] += n
                placed = True
                break
        if not placed:
            waves.append([op])
            loads.append(n)
    return waves


def _execute_spark(spark, index_dir: str, ops: list[MergeOperation]
                   ) -> list[dict]:
    """One Spark task per merge op. Ops are independent, so a narrow
    round-robin mapInPandas is enough — no shuffle, no groupBy (the
    repartition+groupBy variant paid a full exchange at
    spark.sql.shuffle.partitions width for a handful of rows)."""
    # NOTE: no driver-side shortcut for len(ops) == 1 — singleton waves
    # are often exactly the over-budget ops max_docs_in_flight isolates,
    # and their working set belongs on an executor, not the driver.
    rows = [(json.dumps(op.segments),) for op in ops]
    rdd = spark.sparkContext.parallelize(rows, len(ops))
    df = spark.createDataFrame(rdd, "parents string")

    def run_ops(batches):
        for pdf in batches:
            out = [json.dumps(merge_segments(index_dir,
                                             json.loads(parents)))
                   for parents in pdf["parents"].tolist()]
            yield pd.DataFrame({"meta": out})

    res = df.mapInPandas(run_ops, schema="meta string").collect()
    return [json.loads(r.meta) for r in res]
