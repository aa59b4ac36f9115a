"""Global term-partitioned index: the 10^12-file-scale layout.

Doc-partitioned segments (the build/merge output) require every query to
touch every segment. This module hierarchically merges all published
segments into a TERM-partitioned layout: postings live in
hash(term)-addressed partitions, so a query touches O(#query terms)
partitions regardless of corpus size (north rule: "hierarchically merge
segments into a global term-partitioned index").

Pipeline (one Spark job per stage, all Arrow-vectorized):
  stage 0  (driver)  segment order + global docid offsets from manifest
  stage 1  (map)     per segment: emit one row per term with the STILL
                     ENCODED posting blobs + a varint fieldnorm-id blob —
                     no decode before the shuffle, bytes stay compressed
  stage 1b (agg)     global doc_freq per term (small shuffle) -> hot-term
                     set (df > salt_threshold), broadcast
  stage 2  (shuffle) key = (term, salt); salt = seg_ord // group for hot
                     terms, 0 otherwise. Salting splits a Zipf-head term's
                     rows over several reducers while keeping each salt a
                     CONTIGUOUS seg_ord range, so per-salt merged postings
                     concatenate into a globally docid-sorted list with no
                     re-sort (the skew-defusal the north rule demands).
  stage 2  (reduce)  groupBy(term, salt).applyInPandas: decode, offset,
                     concat in seg_ord order, re-encode 128-doc blocks
                     with block-max metadata, write one row per (term,
                     salt) into parquet partitioned by tpid.

Query: tpid = xxhash64(term) % P -> read only that partition (parquet
filter pushdown on term), score with GLOBAL stats (equivalent to one
fully-merged segment).

Resumability: the global layout is a DERIVED, idempotent artifact of the
checkpointed segment build (global_manifest records the source manifest
version). A failed build leaves no partial global manifest; restarting
reruns the job against the same immutable segments and produces identical
output — per-partition checkpointing lives where state does, in the
SOURCE build (builder.py waves + manifest checkpoint deltas).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from ..functions.bm25 import Bm25Weight
from ..search.engine import (IndexSearcher, _partial, _top_k_order,
                             _union_ids, _wand_shape, get_reader)
from ..search.wand import (_combine_in_query_order, _empty3, _TermCursor,
                           and_topk_groups, or_topk_cursors,
                           single_cursor_topk)
from .builder import _large_binary_array, _list_array, _varint_encode_with_sizes
from .codecs import (BLOCK_SIZE, _binary_cells, varint_decode,
                     varint_decode_with_sizes)
from .manifest import Manifest
from .merge import _byte_gather

GLOBAL_DIR = "global"

_STAGE1_SCHEMA = ("term string, seg_ord int, doc_freq long, total_tf long, "
                  "docid_blob binary, tf_blob binary, fn_blob binary")

_STAGE2_SCHEMA = ("tpid int, term string, salt int, seg_lo int, "
                  "doc_freq long, total_tf long, "
                  "block_last array<long>, block_max_tf array<int>, "
                  "block_min_fn array<int>, "
                  "block_max_ratio array<float>, doc_offsets array<int>, "
                  "tf_offsets array<int>, docid_blob binary, tf_blob binary")


def _segment_order(manifest: Manifest) -> tuple[list[dict], np.ndarray]:
    segs = sorted(manifest.segments(), key=lambda s: s["segment_id"])
    offsets = np.r_[0, np.cumsum([s["num_docs"] for s in segs])[:-1]]
    return segs, offsets


# Bump whenever the term->partition hash changes: persisted layouts carry
# it in global_manifest.json and a mismatched reader/builder refuses the
# stale layout instead of silently routing lookups to wrong partitions.
LAYOUT_VERSION = 3


def _hash_terms_u64(terms) -> np.ndarray:
    """Vectorized order-aware 64-bit string hash (no per-term Python).

    Terms are viewed as a fixed-width UCS4 codepoint matrix; each nonzero
    codepoint contributes splitmix64(cp ^ mix(position)) XOR-folded into
    the accumulator, and the true string length (np.char.str_len — NOT a
    nonzero count, dynamic-mapping terms embed \\x00) is mixed in last.
    Zero cells contribute nothing, so the result is independent of the
    batch's padding width — the same term hashes identically on the
    driver (single lookup) and in every stage-2 reducer batch.

    Replaces the round-2 per-term hashlib.md5 loop (the last per-row
    Python in the global build, see quickwit-doc-mapper
    routing_expression/mod.rs:107-141 for the routing-hash contract this
    mirrors: one deterministic hash shared by writers and readers).

    Known quirk: numpy's fixed-width "U" dtype strips TRAILING nulls, so
    "a\\x00" hashes like "a". Harmless for routing — driver and executors
    truncate identically (consistent pid), and lookups always filter on
    the exact term string — but don't use this as a general string hash.
    """
    obj = np.asarray(terms, dtype=object)
    n = len(obj)
    out = np.empty(n, dtype=np.uint64)
    # chunked so one long outlier term only inflates its own chunk's
    # fixed-width matrix (width = chunk max len; 64k rows * 255 cols * 4B
    # = 67 MB transient worst case, vs GBs if the whole batch shared it)
    step = 1 << 16
    for s in range(0, n, step):
        out[s:s + step] = _hash_chunk_u64(obj[s:s + step])
    return out


_POLY_P = np.uint64(0x100000001B3)               # FNV64 prime (odd)
_POLY_P_INV = np.uint64(pow(0x100000001B3, -1, 1 << 64))


def _hash_chunk_u64(obj: np.ndarray) -> np.ndarray:
    from .corpus import splitmix64
    arr = np.asarray(obj, dtype="U")
    n = len(arr)
    if n == 0:
        return np.zeros(0, dtype=np.uint64)
    width = max(arr.dtype.itemsize // 4, 1)
    mat = np.ascontiguousarray(arr).view(np.uint32).reshape(n, width)
    lens = np.char.str_len(arr).astype(np.int64)
    with np.errstate(over="ignore"):
        # polynomial fold h = sum cp_j * P^(width-1-j); padding zeros only
        # multiply by P, undone below by P^-(width-len) (P odd => invertible
        # mod 2^64), so the result is independent of the chunk's width.
        h = np.zeros(n, dtype=np.uint64)
        for j in range(width):
            h = h * _POLY_P + mat[:, j].astype(np.uint64)
        inv_pows = np.empty(width + 1, dtype=np.uint64)
        inv_pows[0] = np.uint64(1)
        for k in range(1, width + 1):
            inv_pows[k] = inv_pows[k - 1] * _POLY_P_INV
        h = h * inv_pows[width - lens]
        return splitmix64(splitmix64(h) ^ lens.astype(np.uint64))


def _term_pid(terms: pd.Series, num_partitions: int) -> np.ndarray:
    """Deterministic term partition: vectorized splitmix64-based string
    hash mod num_partitions — driver and executors agree without JVM
    round-trips, and there is no per-term Python on the build path."""
    return (_hash_terms_u64(terms)
            % np.uint64(num_partitions)).astype(np.int64)


def term_partition(term: str, num_partitions: int) -> int:
    return int(_term_pid(pd.Series([term]), num_partitions)[0])


def posting_dir_paths(index_dir: str) -> list[str]:
    """Absolute paths of the COMMITTED layout's posting directories, in
    append order (base layout first). The directory names are content-
    addressed per rebuild/refresh — callers must resolve them through
    the manifest, never hardcode them."""
    out_dir = os.path.join(index_dir, GLOBAL_DIR)
    with open(os.path.join(out_dir, "global_manifest.json")) as f:
        gm = json.load(f)
    return [os.path.join(out_dir, n)
            for n in gm.get("posting_dirs", ["postings"])]


def build_term_partitioned(spark, index_dir: str,
                           num_term_partitions: int = 16,
                           salt_df_threshold: int | None = None,
                           salt_group_segments: int = 4,
                           force: bool = False) -> dict:
    """Build the global term-partitioned index under
    <index_dir>/global/. Returns the global manifest dict.

    Idempotent: when the existing global layout was derived from the
    CURRENT source manifest version (and the same partitioning params),
    the build is skipped — rerunning after a crash or in a scheduled
    refresh job only pays when segments actually changed. force=True
    rebuilds unconditionally."""
    manifest = Manifest.load(index_dir)
    segs, offsets = _segment_order(manifest)
    if not segs:
        raise ValueError("no published segments")
    seg_ids = [s["segment_id"] for s in segs]
    num_docs = int(sum(s["num_docs"] for s in segs))
    total_fieldnorm = int(sum(s["total_fieldnorm"] for s in segs))
    if salt_df_threshold is None:
        salt_df_threshold = max(num_docs // 4, 1)

    gm_path = os.path.join(index_dir, GLOBAL_DIR, "global_manifest.json")
    committed_dirs: list[str] = []
    if os.path.exists(gm_path):
        with open(gm_path) as f:
            old = json.load(f)
        committed_dirs = list(old.get("posting_dirs", ["postings"]))
        # the salt params are part of the layout identity: skipping a
        # rerun that retuned them would silently drop the requested
        # skew-defusal change
        if (not force
                and old.get("source_manifest_version")
                == manifest.data["version"]
                and old.get("num_term_partitions") == num_term_partitions
                and old.get("salt_df_threshold") == salt_df_threshold
                and old.get("salt_group_segments") == salt_group_segments
                and old.get("layout_version") == LAYOUT_VERSION):
            return old

    out_dir = os.path.join(index_dir, GLOBAL_DIR)
    # the rebuild writes to its OWN content-addressed base directory and
    # commits it via the manifest — NEVER in place over a directory a
    # live GlobalIndexSearcher (pinned to the committed manifest) is
    # reading from: mode("overwrite") deletes first, so an in-place
    # rebuild would fail that reader mid-query for the whole job window,
    # and a crash mid-write would leave the committed manifest pointing
    # at a destroyed layout. A crashed rebuild here instead leaves an
    # orphan no reader opens, and a rerun overwrites that same orphan.
    token = hashlib.sha256(
        f"{manifest.data['version']}|{num_term_partitions}"
        f"|{salt_df_threshold}|{salt_group_segments}"
        f"|{LAYOUT_VERSION}".encode()).hexdigest()[:12]
    base_dir = f"postings_b{token}"
    bump = 0
    while base_dir in committed_dirs:  # force-rebuild, identical params:
        bump += 1                      # still never touch the live dir
        base_dir = f"postings_b{token}.f{bump}"
    post_dir = os.path.join(out_dir, base_dir)
    os.makedirs(post_dir, exist_ok=True)

    seg_rows = [(i, sid) for i, sid in enumerate(seg_ids)]
    sdf = spark.createDataFrame(seg_rows, "seg_ord int, segment_id string")
    sdf = sdf.repartition(min(len(seg_rows), 64), "segment_id")
    segments_root = os.path.join(index_dir, "segments")

    def stage1(it):
        for batch in it:
            pdf = batch.to_pandas()
            for r in pdf.itertuples():
                yield _emit_segment_terms(segments_root, r.segment_id,
                                          int(r.seg_ord))

    term_rows = sdf.mapInArrow(stage1, schema=_STAGE1_SCHEMA)
    term_rows.cache()

    from pyspark.sql import functions as F
    df_by_term = (term_rows.groupBy("term")
                  .agg(F.sum("doc_freq").alias("df")))
    hot = [r["term"] for r in
           df_by_term.filter(F.col("df") > salt_df_threshold).collect()]
    hot_set = set(hot)

    nparts = num_term_partitions
    group = salt_group_segments
    off_list = offsets
    # computed EXACTLY as GlobalIndexSearcher does (f32(total)/f32(n), not
    # f32(f64 ratio)): for total > 2^24 the two differ by ulps, which would
    # make stored block bounds an unsound WAND bound vs query-time scores.
    global_avg = (float(np.float32(total_fieldnorm) / np.float32(num_docs))
                  if num_docs else 1.0)

    def stage2(it):
        # one vectorized pass over the WHOLE reducer partition (all its
        # (term, salt) groups at once) — per-group applyInPandas paid
        # ~ms of Python per term, which at 10^8+ terms is the build
        batches = list(it)
        if not batches:
            return
        tbl = pa.Table.from_batches(batches)
        out = _merge_partition_rows(tbl, off_list, nparts, global_avg)
        if out is not None:
            yield from out.to_batches()

    width = max(nparts, int(spark.sparkContext.defaultParallelism) * 2)
    salted = term_rows.withColumn(
        "salt",
        F.when(F.col("term").isin(list(hot_set)) if hot_set else F.lit(False),
               (F.col("seg_ord") / F.lit(group)).cast("int"))
        .otherwise(F.lit(0)))
    merged = (salted.repartition(width, "term", "salt")
              .mapInArrow(stage2, schema=_STAGE2_SCHEMA))
    # sort by term within each tpid file: parquet row-group min/max on
    # `term` become tight ranges, so a point term lookup prunes to one
    # row group instead of scanning the whole partition
    (merged.repartition(nparts, "tpid")
     .sortWithinPartitions("term", "salt")
     .write.mode("overwrite").partitionBy("tpid")
     .option("compression", "zstd").parquet(post_dir))
    term_rows.unpersist()

    gm = {
        "num_term_partitions": nparts,
        "salt_df_threshold": salt_df_threshold,
        "salt_group_segments": group,
        "segment_ids": seg_ids,
        "doc_offsets": [int(x) for x in offsets],
        "num_docs": num_docs,
        "total_fieldnorm": total_fieldnorm,
        "source_manifest_version": manifest.data["version"],
        "layout_version": LAYOUT_VERSION,
        # smallest avg_fieldnorm any row batch's ratio bounds were
        # computed under: the searcher's block_max_ratio bounds are
        # sound iff the CURRENT avg <= this (score rises with avg, so a
        # bound computed under a larger avg stays conservative); after
        # an incremental refresh that GREW the avg, the searcher falls
        # back to the avg-independent (max_tf, min_fn) bounds
        "ratio_bound_min_avg": global_avg,
        # the posting directories a reader may open, in append order.
        # Refreshes ADD directories (never touch existing ones); readers
        # pin to the list their manifest snapshot names, so a mid-refresh
        # or failed-refresh directory is invisible until committed here.
        "posting_dirs": [base_dir],
    }
    with open(os.path.join(out_dir, "global_manifest.json"), "w") as f:
        json.dump(gm, f, indent=1, sort_keys=True)
    # A full rebuild obsoletes the previous base layout and every
    # refresh delta, but a live GlobalIndexSearcher pinned to the
    # just-replaced manifest still has those directories in its read
    # set — deleting them now would fail that reader mid-query.
    # Two-phase sweep instead: RECORD the now-unreferenced posting dirs
    # as orphans and delete only the set recorded by the PREVIOUS
    # rebuild (readers pinned two manifests back have drained).
    orphans_path = os.path.join(out_dir, "_orphan_dirs.json")
    prev: list[str] = []
    if os.path.exists(orphans_path):
        try:
            with open(orphans_path) as f:
                prev = json.load(f).get("dirs", [])
        except (OSError, ValueError):
            prev = []
    live = set(gm["posting_dirs"])
    for name in prev:
        if name.startswith("postings") and name not in live:
            shutil.rmtree(os.path.join(out_dir, name), ignore_errors=True)
    current = sorted(
        n for n in os.listdir(out_dir)
        if n.startswith("postings") and n not in live
        and os.path.isdir(os.path.join(out_dir, n)))
    with open(orphans_path, "w") as f:
        json.dump({"dirs": current}, f)
    return gm


def refresh_term_partitioned(spark, index_dir: str) -> dict:
    """Incremental global refresh: append ONLY the newly published
    segments' term rows to the partitioned layout — the 10^12-doc
    operation, where a full rebuild per publish would re-shuffle the
    entire vocabulary for a <1% delta.

    Mechanics: new segments get doc offsets CONTINUING the existing
    global docid space (existing rows stay byte-identical and valid);
    their rows are appended with salt = seg_ord // salt_group_segments
    unconditionally, which makes every new row's (salt, seg_lo) sort
    AFTER all existing rows of the same term — readers order rows by
    (salt, seg_lo), so concatenated postings stay globally ascending.
    Scoring stays exact: global df/avg come from the refreshed manifest,
    and raw tf/fieldnorms are read per row. Block-max ratio BOUNDS of
    pre-existing rows were computed under the old avg_fieldnorm; if the
    refresh GROWS the avg they would under-bound, so the searcher
    compares the current avg against ratio_bound_min_avg and falls back
    to the avg-independent (max_tf, min_fn) bounds — slightly weaker
    pruning until the next full rebuild (compaction) re-tightens them.

    Falls back to a FULL rebuild when any previously indexed segment is
    gone (merge/delete/retention rewrote it): removing a segment shifts
    every later segment's doc offset under rows that hard-code absolute
    global docids.

    Atomicity/idempotence: each refresh writes its rows to its OWN
    directory, named by a content address of the (old -> new) segment
    transition, with mode("overwrite") — a refresh that died mid-write
    leaves an orphan directory no reader ever opens (global_manifest's
    posting_dirs is the read set), and a re-run of the same transition
    overwrites it rather than duplicating rows. Readers pin the
    posting_dirs list their manifest snapshot names, so a live searcher
    never mixes committed offsets with in-flight rows. Orphans from
    abandoned transitions are swept by the next full rebuild."""
    manifest = Manifest.load(index_dir)
    out_dir = os.path.join(index_dir, GLOBAL_DIR)
    gm_path = os.path.join(out_dir, "global_manifest.json")
    if not os.path.exists(gm_path):
        return build_term_partitioned(spark, index_dir)
    with open(gm_path) as f:
        gm = json.load(f)
    if gm.get("layout_version") != LAYOUT_VERSION:
        return build_term_partitioned(
            spark, index_dir, gm.get("num_term_partitions", 16),
            force=True)
    if gm.get("source_manifest_version") == manifest.data["version"]:
        return gm
    seg_by_id = {s["segment_id"]: s for s in manifest.segments()}
    old_ids = list(gm["segment_ids"])
    if any(o not in seg_by_id for o in old_ids):
        return build_term_partitioned(spark, index_dir,
                                      gm["num_term_partitions"],
                                      force=True)
    new_ids = sorted(set(seg_by_id) - set(old_ids))
    if not new_ids:  # version moved without segment changes
        gm["source_manifest_version"] = manifest.data["version"]
        with open(gm_path, "w") as f:
            json.dump(gm, f, indent=1, sort_keys=True)
        return gm

    old_n = len(old_ids)
    run = int(gm["num_docs"])
    new_offsets = []
    for sid in new_ids:
        new_offsets.append(run)
        run += int(seg_by_id[sid]["num_docs"])
    num_docs = run
    total_fieldnorm = int(gm["total_fieldnorm"]) + sum(
        int(seg_by_id[s]["total_fieldnorm"]) for s in new_ids)
    avg_new = (float(np.float32(total_fieldnorm) / np.float32(num_docs))
               if num_docs else 1.0)
    offsets_full = np.asarray(list(gm["doc_offsets"]) + new_offsets,
                              dtype=np.int64)
    nparts = int(gm["num_term_partitions"])
    group = int(gm["salt_group_segments"])
    token = hashlib.sha256(
        ("|".join(old_ids) + "->" + "|".join(new_ids)).encode()
    ).hexdigest()[:12]
    refresh_dir = f"postings_r{token}"
    post_dir = os.path.join(out_dir, refresh_dir)
    segments_root = os.path.join(index_dir, "segments")

    seg_rows = [(old_n + i, sid) for i, sid in enumerate(new_ids)]
    sdf = spark.createDataFrame(seg_rows, "seg_ord int, segment_id string")
    sdf = sdf.repartition(min(len(seg_rows), 64), "segment_id")

    def stage1(it):
        for batch in it:
            pdf = batch.to_pandas()
            for r in pdf.itertuples():
                yield _emit_segment_terms(segments_root, r.segment_id,
                                          int(r.seg_ord))

    def stage2(it):
        batches = list(it)
        if not batches:
            return
        tbl = pa.Table.from_batches(batches)
        out = _merge_partition_rows(tbl, offsets_full, nparts, avg_new)
        if out is not None:
            yield from out.to_batches()

    from pyspark.sql import functions as F
    term_rows = sdf.mapInArrow(stage1, schema=_STAGE1_SCHEMA)
    width = max(nparts, int(spark.sparkContext.defaultParallelism) * 2)
    salted = term_rows.withColumn(
        "salt", (F.col("seg_ord") / F.lit(group)).cast("int"))
    merged = (salted.repartition(width, "term", "salt")
              .mapInArrow(stage2, schema=_STAGE2_SCHEMA))
    (merged.repartition(nparts, "tpid")
     .sortWithinPartitions("term", "salt")
     .write.mode("overwrite").partitionBy("tpid")
     .option("compression", "zstd").parquet(post_dir))

    gm.update({
        "segment_ids": old_ids + new_ids,
        "doc_offsets": [int(x) for x in offsets_full],
        "num_docs": num_docs,
        "total_fieldnorm": total_fieldnorm,
        "source_manifest_version": manifest.data["version"],
        "ratio_bound_min_avg": min(
            float(gm.get("ratio_bound_min_avg", avg_new)), avg_new),
        "refresh_count": int(gm.get("refresh_count", 0)) + 1,
        "posting_dirs": gm.get("posting_dirs", ["postings"])
        + [refresh_dir],
    })
    with open(gm_path, "w") as f:
        json.dump(gm, f, indent=1, sort_keys=True)
    return gm


def _emit_segment_terms(segments_root: str, segment_id: str,
                        seg_ord: int) -> pa.RecordBatch:
    """Stage-1 worker, arrow-native: one output row per term with the
    STILL ENCODED posting blobs taken zero-copy from the segment files
    (no per-term Python)."""
    seg_dir = os.path.join(segments_root, segment_id)
    td = pq.read_table(os.path.join(seg_dir, "termdict.parquet"),
                       columns=["term", "doc_freq", "total_tf"])
    pr = pq.read_table(
        os.path.join(seg_dir, "postings.parquet"),
        columns=["docid_blob", "tf_blob"])
    fn_ids = pq.read_table(os.path.join(seg_dir, "docs.parquet"),
                           columns=["fieldnorm_id"]
                           ).column(0).to_numpy().astype(np.int64)
    # per-posting fieldnorm blob, varint, aligned with docid order: decode
    # deltas only to recover docids (vectorized, one pass over the segment)
    dsuper, _doffs = _binary_cells(pr.column("docid_blob"))
    df_counts = td.column("doc_freq").to_numpy().astype(np.int64)
    if len(df_counts) == 0:
        # valid EMPTY segment (blank-text chunk): contributes no term
        # rows — the np.r_[0, ...] idiom below would fabricate a
        # term_start into the empty delta array and crash the stage
        return pa.record_batch({
            "term": pa.array([], type=pa.string()),
            "seg_ord": pa.array([], type=pa.int32()),
            "doc_freq": pa.array([], type=pa.int64()),
            "total_tf": pa.array([], type=pa.int64()),
            "docid_blob": pa.array([], type=pa.binary()),
            "tf_blob": pa.array([], type=pa.binary()),
            "fn_blob": pa.array([], type=pa.binary()),
        })
    deltas = varint_decode(dsuper).astype(np.int64)
    term_starts = np.r_[0, np.cumsum(df_counts)[:-1]].astype(np.int64)
    cs = np.cumsum(deltas)
    base = cs[term_starts] - deltas[term_starts]
    term_of = np.repeat(np.arange(len(df_counts)), df_counts)
    docids = cs - base[term_of]
    fn_per_post = fn_ids[docids].astype(np.uint64)
    fn_blob_all, fn_nb = _varint_encode_with_sizes(fn_per_post)
    fn_cum = np.r_[0, np.cumsum(fn_nb)]
    fn_offsets = np.r_[fn_cum[term_starts], len(fn_blob_all)]
    n = len(td)
    return pa.record_batch({
        "term": td.column("term").combine_chunks().cast(pa.string()),
        "seg_ord": pa.array(np.full(n, seg_ord, dtype=np.int32)),
        "doc_freq": td.column("doc_freq").combine_chunks(),
        "total_tf": td.column("total_tf").combine_chunks(),
        "docid_blob": pr.column("docid_blob").combine_chunks()
                        .cast(pa.binary()),
        "tf_blob": pr.column("tf_blob").combine_chunks().cast(pa.binary()),
        "fn_blob": _large_binary_array(fn_blob_all, fn_offsets)
                   .cast(pa.binary()),
    })


def _merge_partition_rows(tbl: pa.Table, offsets: np.ndarray,
                          nparts: int,
                          global_avg_fieldnorm: float = 1.0
                          ) -> pa.Table | None:
    """Stage-2 worker: merge ALL (term, salt) groups of one reducer
    partition in one vectorized pass (sort_by + splice), no per-group
    Python. Like the segment merge executor, parents' varint bytes are
    copied verbatim; only each row's FIRST docid delta (absolute global
    docid, or gap vs the previous segment's last) is re-encoded."""
    if tbl.num_rows == 0:
        return None
    tbl = tbl.sort_by([("term", "ascending"), ("salt", "ascending"),
                       ("seg_ord", "ascending")])
    R = tbl.num_rows
    terms = np.asarray(tbl.column("term").to_pylist(), dtype=object)
    salts = tbl.column("salt").to_numpy().astype(np.int32)
    seg_ord = tbl.column("seg_ord").to_numpy().astype(np.int64)
    dfreq = tbl.column("doc_freq").to_numpy().astype(np.int64)
    row_tf = tbl.column("total_tf").to_numpy().astype(np.int64)
    dsuper, d_offs = _binary_cells(tbl.column("docid_blob"))
    tsuper, t_offs = _binary_cells(tbl.column("tf_blob"))
    fsuper, _f_offs = _binary_cells(tbl.column("fn_blob"))

    deltas, dnb = varint_decode_with_sizes(dsuper)
    tfs, tnb = varint_decode_with_sizes(tsuper)
    fns = varint_decode(fsuper).astype(np.int64)
    tfs = tfs.astype(np.int64)
    row_starts = np.r_[0, np.cumsum(dfreq)[:-1]]
    cs = np.cumsum(deltas.astype(np.int64))
    base = cs[row_starts] - deltas[row_starts].astype(np.int64)
    row_of = np.repeat(np.arange(R), dfreq)
    docids = cs - base[row_of] + offsets[seg_ord[row_of]]

    # groups = maximal runs of equal (term, salt)
    grp_first_row = np.nonzero(np.r_[True, (terms[1:] != terms[:-1])
                                     | (salts[1:] != salts[:-1])])[0]
    G = len(grp_first_row)
    rows_per_grp = np.diff(np.r_[grp_first_row, R])
    grp_of_row = np.repeat(np.arange(G), rows_per_grp)
    posts_per_grp = np.add.reduceat(dfreq, grp_first_row)
    grp_post_start = np.r_[0, np.cumsum(posts_per_grp)[:-1]]

    # patch each row's first delta (splice, merge.py semantics)
    row_first = docids[row_starts]
    row_last = docids[row_starts + dfreq - 1]
    is_first = np.r_[True, grp_of_row[1:] != grp_of_row[:-1]]
    prev_last = np.r_[0, row_last[:-1]]
    new_first = np.where(is_first, row_first, row_first - prev_last)
    nf_blob, nf_nb = _varint_encode_with_sizes(new_first.astype(np.uint64))
    source = np.concatenate([dsuper, np.frombuffer(nf_blob, np.uint8)])
    first_len = dnb[row_starts]
    piece_start = np.empty(2 * R, dtype=np.int64)
    piece_len = np.empty(2 * R, dtype=np.int64)
    piece_start[0::2] = len(dsuper) + np.r_[0, np.cumsum(nf_nb)[:-1]]
    piece_len[0::2] = nf_nb
    piece_start[1::2] = d_offs[:-1] + first_len
    piece_len[1::2] = np.diff(d_offs) - first_len
    doc_bytes = _byte_gather(source, piece_start, piece_len)
    dnb2 = dnb.copy()
    dnb2[row_starts] = nf_nb
    doc_cum = np.r_[0, np.cumsum(dnb2)]
    t_cum = np.r_[0, np.cumsum(tnb)]

    # 128-posting blocks per group (block-max metadata)
    nblk = (posts_per_grp + BLOCK_SIZE - 1) // BLOCK_SIZE
    tot_blk = int(nblk.sum())
    blk_grp = np.repeat(np.arange(G), nblk)
    blk_first = np.r_[0, np.cumsum(nblk)[:-1]]
    blk_within = np.arange(tot_blk) - blk_first[blk_grp]
    blk_start = grp_post_start[blk_grp] + blk_within * BLOCK_SIZE
    grp_post_end = grp_post_start + posts_per_grp
    blk_end = np.minimum(blk_start + BLOCK_SIZE, grp_post_end[blk_grp])
    block_last = docids[blk_end - 1]
    block_max_tf = np.maximum.reduceat(tfs, blk_start).astype(np.int32)
    block_min_fn = np.minimum.reduceat(fns, blk_start).astype(np.int32)
    # jointly-achievable per-block score bound with GLOBAL statistics
    # (same f32 arithmetic as the query-time Bm25Weight cache) — powers
    # block-max WAND on the term-partitioned layout
    from ..functions.bm25 import B, K1, id_to_fieldnorm
    avg = np.float32(global_avg_fieldnorm) if global_avg_fieldnorm > 0 \
        else np.float32(1.0)
    lens_f32 = id_to_fieldnorm(fns).astype(np.float32)
    norm = (K1 * (np.float32(1.0) - B + B * lens_f32 / avg)).astype(
        np.float32)
    tf_f32 = tfs.astype(np.float32)
    ratio = (tf_f32 / (tf_f32 + norm)).astype(np.float32)
    block_max_ratio = np.maximum.reduceat(ratio, blk_start).astype(
        np.float32)
    doc_offsets = (doc_cum[blk_start]
                   - doc_cum[grp_post_start[blk_grp]]).astype(np.int32)
    tf_offsets = (t_cum[blk_start]
                  - t_cum[grp_post_start[blk_grp]]).astype(np.int32)
    blk_offsets = np.r_[0, np.cumsum(nblk)].astype(np.int64)

    grp_terms = terms[grp_first_row]
    tpid = _term_pid(pd.Series(grp_terms), nparts).astype(np.int32)
    doc_grp_offsets = np.r_[doc_cum[grp_post_start], doc_cum[-1]]
    tf_grp_offsets = np.r_[t_offs[grp_first_row], len(tsuper)]
    return pa.table({
        "tpid": pa.array(tpid),
        "term": pa.array(grp_terms.tolist(), type=pa.string()),
        "salt": pa.array(salts[grp_first_row]),
        "seg_lo": pa.array(seg_ord[grp_first_row].astype(np.int32)),
        "doc_freq": pa.array(posts_per_grp.astype(np.int64)),
        "total_tf": pa.array(
            np.add.reduceat(row_tf, grp_first_row).astype(np.int64)),
        "block_last": _list_array(block_last, blk_offsets, pa.int64()),
        "block_max_tf": _list_array(block_max_tf, blk_offsets, pa.int32()),
        "block_min_fn": _list_array(block_min_fn, blk_offsets, pa.int32()),
        "block_max_ratio": _list_array(block_max_ratio, blk_offsets,
                                       pa.float32()),
        "doc_offsets": _list_array(doc_offsets, blk_offsets, pa.int32()),
        "tf_offsets": _list_array(tf_offsets, blk_offsets, pa.int32()),
        "docid_blob": _large_binary_array(
            doc_bytes.tobytes(), doc_grp_offsets).cast(pa.binary()),
        "tf_blob": _large_binary_array(
            tsuper.tobytes(), tf_grp_offsets).cast(pa.binary()),
    })


class _GlobalFieldnormLookup:
    """Lazy docid->fieldnorm-id lookup over the owning segments (the
    global layout never materializes one num_docs-sized array)."""

    def __init__(self, searcher: "GlobalIndexSearcher"):
        self._s = searcher

    def __getitem__(self, docids: np.ndarray) -> np.ndarray:
        return self._s._fieldnorms_for(
            np.asarray(docids, dtype=np.int64))


class GlobalIndexSearcher(IndexSearcher):
    """BM25 over the term-partitioned layout with global statistics
    (rank-identical to querying one fully-merged segment).

    An IndexSearcher whose leaf is the whole layout: search, search_many
    and the ES facade parse, root-merge and fetch exactly as they do for
    segments; only _leaf_parts differs. The layout answers term AND/OR
    over the text field; it holds no positions, so phrases, filters and
    search_after cursors are refused."""

    def __init__(self, index_dir: str):
        super().__init__(index_dir)
        out_dir = os.path.join(index_dir, GLOBAL_DIR)
        with open(os.path.join(out_dir, "global_manifest.json")) as f:
            self.gm = json.load(f)
        if self.gm.get("layout_version") != LAYOUT_VERSION:
            raise ValueError(
                f"global layout version {self.gm.get('layout_version')} != "
                f"{LAYOUT_VERSION}: term routing hash changed — rerun "
                "build_term_partitioned(force=True)")
        # pinned read set: ONLY the directories this manifest snapshot
        # lists — an in-flight or failed refresh writes elsewhere and
        # stays invisible until global_manifest.json commits it
        self.post_dirs = [os.path.join(out_dir, d) for d in
                          self.gm.get("posting_dirs", ["postings"])]
        self.num_docs = int(self.gm["num_docs"])
        self.avg_fieldnorm = (np.float32(self.gm["total_fieldnorm"]) /
                              np.float32(self.num_docs))
        self.offsets = np.asarray(self.gm["doc_offsets"], dtype=np.int64)
        self.segment_ids = self.gm["segment_ids"]
        # block_max_ratio bounds are sound iff the avg they were computed
        # under is >= the current avg (see refresh_term_partitioned);
        # when stale, pruning falls back to (max_tf, min_fn) bounds
        min_avg = self.gm.get("ratio_bound_min_avg")
        self.ratio_bounds_sound = (
            min_avg is None  # pre-field layout: single full build
            or float(self.avg_fieldnorm) <= float(min_avg))

    @property
    def stale(self) -> bool:
        """True when the source manifest moved past the version this
        global layout was derived from (segments published/merged since;
        rerun build_term_partitioned to refresh)."""
        return (Manifest.load(self.index_dir).data["version"]
                != self.gm.get("source_manifest_version"))

    # bounded hot-term row cache (the leaf-cache analog for the global
    # layout: repeated queries skip the parquet term lookup)
    _ROW_CACHE_MAX = 512

    def _term_rows(self, terms: list[str]) -> pd.DataFrame:
        cache = getattr(self, "_row_cache", None)
        if cache is None:
            cache = self._row_cache = {}
        missing = [t for t in set(terms) if t not in cache]
        if missing:
            by_pid: dict[int, list[str]] = {}
            nparts = self.gm["num_term_partitions"]
            for t in missing:
                by_pid.setdefault(term_partition(t, nparts), []).append(t)
            parts: dict[str, list[pd.DataFrame]] = {}
            for pid, ts in by_pid.items():
                for base in self.post_dirs:
                    path = os.path.join(base, f"tpid={pid}")
                    if not os.path.isdir(path):
                        continue
                    tbl = pq.read_table(path, filters=[("term", "in", ts)]
                                        ).to_pandas()
                    for t, grp in tbl.groupby("term", sort=False):
                        # a term may have rows in the base layout AND in
                        # refresh deltas: collect all, never overwrite
                        parts.setdefault(t, []).append(grp)
            found = {t: (fs[0] if len(fs) == 1
                         else pd.concat(fs, ignore_index=True))
                     for t, fs in parts.items()}
            if len(cache) + len(missing) > self._ROW_CACHE_MAX:
                # evict only terms NOT referenced by the current query:
                # clearing wholesale would drop this query's cache hits and
                # the frame gather below would KeyError on them.
                keep = set(terms)
                for k in [k for k in cache if k not in keep]:
                    del cache[k]
            for t in missing:
                cache[t] = found.get(t)
        frames = [f for f in (cache.get(t) for t in set(terms))
                  if f is not None]
        if not frames:
            return pd.DataFrame()
        return pd.concat(frames, ignore_index=True)

    def _cursor_groups(self, terms: list[str]) -> list:
        """One cursor GROUP per query term (one cursor per salt row,
        disjoint ascending docid ranges); None for absent terms. Weights
        use the term's GLOBAL doc freq (sum over salts)."""
        rows = self._term_rows(terms)
        cursor_cols = ["doc_freq", "block_last", "block_max_tf",
                       "block_min_fn", "doc_offsets", "tf_offsets",
                       "docid_blob", "tf_blob", "block_max_ratio"]
        if not self.ratio_bounds_sound:
            # refresh grew avg_fieldnorm past the bounds' build-time avg:
            # stored ratios may under-bound true scores; cursors fall
            # back to the avg-independent (max_tf, min_fn) bound
            cursor_cols = [c for c in cursor_cols
                           if c != "block_max_ratio"]
        groups = []
        for t in terms:
            sub = rows[rows["term"] == t].sort_values(
                ["salt", "seg_lo"], kind="mergesort") \
                if len(rows) else rows
            if len(rows) == 0 or len(sub) == 0:
                groups.append(None)
                continue
            df_global = int(sub["doc_freq"].sum())
            w = Bm25Weight(df_global, self.num_docs,
                           float(self.avg_fieldnorm))
            g = []
            for r in sub.itertuples():
                row = {c: getattr(r, c) for c in cursor_cols
                       if hasattr(r, c)}  # pre-ratio layouts fall back
                g.append(_TermCursor(t, row, w))
            groups.append(g)
        return groups

    def _fieldnorms_for(self, docids: np.ndarray) -> np.ndarray:
        """Global fieldnorm ids from the owning segments' readers (only
        the segments actually hit; pinned under the reader budget)."""
        out = np.zeros(len(docids), dtype=np.int64)
        seg_idx = np.searchsorted(self.offsets, docids, side="right") - 1
        for si in np.unique(seg_idx).tolist():
            fn = get_reader(os.path.join(self.index_dir, "segments",
                                         self.segment_ids[si]),
                            self.tokenizer).fieldnorm_ids()
            m = seg_idx == si
            out[m] = fn[docids[m] - self.offsets[si]]
        return out

    def _leaf_parts(self, node, need: int, use_wand: bool,
                    search_after: tuple | None) -> list:
        """Score the whole layout as one leaf, then hand the root merge
        the top `need` hits split by owning segment. Counts are exact
        except for OR with use_wand (a lower bound, as for segments)."""
        shape = None if search_after is not None else _wand_shape(
            node, self.text_field, self.tokenizer)
        if shape is None:
            raise ValueError(
                "the global term-partitioned layout answers term AND/OR "
                f"queries over `{self.text_field}` only (no phrases, "
                "filters or search_after)")
        op, terms = shape
        groups = self._cursor_groups(terms)
        fn_lookup = _GlobalFieldnormLookup(self)
        k = max(need, 1)
        if len(terms) == 1:
            docids, scores, count = _single_term_topk(groups[0], fn_lookup,
                                                      k)
        elif op == "and":
            docids, scores, count = and_topk_groups(groups, fn_lookup,
                                                    "freq", k)
        elif use_wand:
            docids, scores, count = or_topk_cursors(
                [c for g in groups if g is not None for c in g],
                fn_lookup, "freq", k)
        else:
            docids, scores, count = _or_exhaustive(groups, fn_lookup)
        top = _top_k_order(docids, scores, need)
        docids, scores = docids[top], scores[top]
        seg_idx = np.searchsorted(self.offsets, docids, side="right") - 1
        parts = [(self.segment_ids[si], 0,
                  _partial(docids[m] - self.offsets[si], scores[m]))
                 for si in np.unique(seg_idx).tolist()
                 for m in [seg_idx == si]]
        # the layout counts matches once for the whole corpus, not per
        # segment; the root merge only sums the counts
        parts.append((self.segment_ids[0], int(count), _partial([], [])))
        return parts


def _single_term_topk(group, fn_lookup, k: int):
    """One term: bound-ordered decode per salt row with a shared
    threshold (docid-order WAND cannot skip for one cursor). The count
    is EXACT from term-dict metadata — the global twin of the segment
    layout's single-term path (wand.single_term_topk)."""
    if not group:
        return _empty3()
    acc_d = np.zeros(0, dtype=np.int64)
    acc_s = np.zeros(0, dtype=np.float32)
    theta = float("-inf")
    for cur in sorted(group, key=lambda c: -c.max_score):
        if cur.max_score < theta:
            continue
        d, s = single_cursor_topk(cur, fn_lookup, "freq", k, theta)
        acc_d = np.concatenate([acc_d, d])
        acc_s = np.concatenate([acc_s, s])
        if len(acc_s) >= k:
            kth = float(np.partition(acc_s.astype(np.float64), -k)[-k])
            theta = kth - abs(kth) * 1e-5
    return acc_d, acc_s, int(sum(c.doc_freq for c in group))


def _or_exhaustive(groups: list, fn_lookup):
    """Exact-count OR: decode every block of every cursor, score the
    union in query order (bit-identical to the segment path's sums)."""
    parts = []
    for g in groups:
        if g is None:
            continue
        # a term's salt cursors cover ascending disjoint docid ranges
        ds, ss = zip(*(c.decode_blocks(np.arange(len(c.block_last)),
                                       fn_lookup, "freq") for c in g))
        parts.append((np.concatenate(ds), np.concatenate(ss)))
    docs = _union_ids([d for d, _ in parts])
    return docs, _combine_in_query_order(parts, docs), len(docs)
