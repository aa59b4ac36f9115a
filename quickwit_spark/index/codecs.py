"""Delta + varint posting-list codecs, vectorized with numpy.

Postings for one term are stored as 128-doc blocks (the reference engine's
underlying index library uses the same block size for its skip data — see
SURVEY.md §2.3): docids are delta-encoded (first docid of block j is a delta
against the last docid of block j-1), varint-packed; per block we keep
(last_docid, max_tf, min_fieldnorm_id) — the block-max metadata that powers
block-max WAND pruning at query time.

All encode/decode paths are numpy-vectorized: no per-value Python in the
hot loop. The decoder makes one pass over the bytes (a per-byte shift and
one add.reduceat per value); the encoder keeps a bounded loop over *byte
positions*, <= 10 iterations.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-style varint encoding of a uint64 array, vectorized.
    Delegates to varint_encode_with_sizes — ONE encoder body, so the
    byte-identity contract (content-addressed segment ids, merge
    splicing) has a single implementation to keep."""
    return varint_encode_with_sizes(
        np.ascontiguousarray(values, dtype=np.uint64))[0]


def varint_decode(buf: bytes | memoryview) -> np.ndarray:
    """Decode a varint byte buffer back to a uint64 array, vectorized.
    Delegates to varint_decode_with_sizes: ONE decoder body to keep —
    the content-addressed idempotence contract requires every path to
    agree byte-for-byte, so there must be no second copy to drift."""
    return varint_decode_with_sizes(buf)[0]


def varint_decode_with_sizes(buf: bytes | memoryview
                             ) -> tuple[np.ndarray, np.ndarray]:
    """varint_decode that also returns each value's encoded byte count
    (the merge splicer reuses parents' unchanged bytes and needs the
    per-value sizes to rebuild block byte offsets without re-encoding)."""
    a = np.frombuffer(buf, dtype=np.uint8)
    ends = np.flatnonzero(a < 0x80)
    if ends.size == a.size:  # every byte terminates a one-byte value
        return a.astype(np.uint64), np.ones(a.size, dtype=np.int64)
    if ends.size == 0:
        return np.zeros(0, dtype=np.uint64), np.zeros(0, dtype=np.int64)
    # bytes after the last terminator belong to no value: drop them
    a = a[:ends[-1] + 1]
    starts = np.empty(ends.shape, dtype=np.int64)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    lens = ends - starts + 1
    # byte i of value j carries bits 7*(i - starts[j]) and up; the 7-bit
    # groups of one value are disjoint, so their sum is their OR
    shift = np.arange(a.size, dtype=np.uint64)
    shift -= np.repeat(starts.astype(np.uint64), lens)
    shift *= np.uint64(7)
    parts = (a & 0x7F).astype(np.uint64)
    parts <<= shift
    return np.add.reduceat(parts, starts), lens


def _binary_cells(col) -> tuple[np.ndarray, np.ndarray]:
    """(values, offsets int64[n+1]) of an arrow binary or list column, cell
    i being values[offs[i]:offs[i+1]] — zero-copy access to every cell (a
    one-chunk column is not combined, which would copy). Binary values
    are the uint8 bytes; list values are the child as a typed array."""
    import pyarrow as pa
    arr = col.chunk(0) if col.num_chunks == 1 else col.combine_chunks()
    if pa.types.is_list(arr.type) or pa.types.is_large_list(arr.type):
        offsets = arr.buffers()[1]
        values = arr.values.to_numpy(zero_copy_only=False)
        large = pa.types.is_large_list(arr.type)
    else:
        _validity, offsets, data = arr.buffers()
        values = np.frombuffer(data, dtype=np.uint8)
        large = pa.types.is_large_binary(arr.type)
    odt = np.int64 if large else np.int32
    offs = np.frombuffer(offsets, dtype=odt)[
        arr.offset:arr.offset + len(arr) + 1].astype(np.int64, copy=False)
    # values may be shared/offset; slice to this array's view
    off0 = int(offs[0])
    if off0:
        offs = offs - off0
    return values[off0:off0 + int(offs[-1])], offs


def decode_postings(docid_blob: bytes, tf_blob: bytes) -> tuple[np.ndarray, np.ndarray]:
    """Decode a full term posting list back to (docids int64, tfs int64)."""
    deltas = varint_decode(docid_blob)
    docids = np.cumsum(deltas.astype(np.int64))
    tfs = varint_decode(tf_blob).astype(np.int64)
    return docids, tfs


def varint_encode_with_sizes(v: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Vectorized varint encode returning (buffer, per-value byte counts).
    Values fitting 32 bits are processed as uint32 (the common case for
    within-segment docid gaps and tfs — halves memory traffic)."""
    if v.size == 0:
        return b"", np.zeros(0, dtype=np.int64)
    nb = np.ones(v.shape, dtype=np.int64)
    tmp = v >> np.uint64(7)
    while tmp.any():
        nb += (tmp != 0)
        tmp >>= np.uint64(7)
    total = int(nb.sum())
    out = np.zeros(total, dtype=np.uint8)
    starts = np.zeros(v.shape, dtype=np.int64)
    np.cumsum(nb[:-1], out=starts[1:])
    if int(nb.max()) <= 4:  # all values < 2^28: uint32 path is exact
        cur = v.astype(np.uint32)
        mask, seven = np.uint32(0x7F), np.uint32(7)
    else:
        cur = v.copy()
        mask, seven = np.uint64(0x7F), np.uint64(7)
    for j in range(int(nb.max())):
        active = nb > j
        idx = starts[active] + j
        byte = (cur[active] & mask).astype(np.uint8)
        more = (nb[active] > j + 1).astype(np.uint8) << 7
        out[idx] = byte | more
        cur >>= seven
    return out.tobytes(), nb


def encode_position_blob(positions: np.ndarray, tfs: np.ndarray,
                         term_of: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Encode a (term, doc, position)-ordered token stream into the
    segment position format: delta varints resetting per posting run,
    with per-term byte offsets [nterms+1]. The SINGLE encoder shared by
    the initial build, the merge executor, and delete rewrites — the
    content-addressed segment-id idempotence depends on all paths
    producing bit-identical blobs."""
    ntok = len(positions)
    if ntok == 0:
        # zero postings (blank-text chunk): 0 terms => offsets [0]
        return b"", np.zeros(1, dtype=np.int64)
    run_starts = np.r_[0, np.cumsum(tfs)[:-1]]
    pdel = np.empty(ntok, dtype=np.int64)
    pdel[0] = positions[0]
    pdel[1:] = positions[1:] - positions[:-1]
    pdel[run_starts] = positions[run_starts]
    blob, nb = varint_encode_with_sizes(pdel.astype(np.uint64))
    tok_term = np.repeat(term_of, tfs)
    tstarts = np.nonzero(np.r_[True, tok_term[1:] != tok_term[:-1]])[0]
    tbytes = np.add.reduceat(nb, tstarts)
    return blob, np.r_[0, np.cumsum(tbytes)]


def decode_positions(pos_blob: bytes, tfs: np.ndarray
                     ) -> tuple[np.ndarray, np.ndarray]:
    """Decode one term's position blob.

    tfs are the term's per-posting frequencies (run lengths). Returns
    (positions int64 — all runs concatenated, run_starts int64[n_postings])
    where run j occupies positions[run_starts[j]:run_starts[j]+tfs[j]].
    Deltas reset at run starts (first value of a run is the absolute
    position), so a group-wise cumsum reconstructs them.
    """
    deltas = varint_decode(pos_blob).astype(np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    if len(deltas) == 0:
        # empty posting stream (blank-text position segment): mirror the
        # encoder's ntok==0 guard — np.r_[0, ...] would fabricate a run
        z = np.zeros(0, dtype=np.int64)
        return z, z
    run_starts = np.r_[0, np.cumsum(tfs)[:-1]]
    cs = np.cumsum(deltas)
    base = cs[run_starts] - deltas[run_starts]
    run_of = np.repeat(np.arange(len(tfs)), tfs)
    return cs - base[run_of], run_starts


def decode_blocks_batch(docid_blob: bytes, tf_blob: bytes,
                        doc_offsets: np.ndarray, tf_offsets: np.ndarray,
                        block_last: np.ndarray, doc_freq: int,
                        block_idx: np.ndarray
                        ) -> tuple[np.ndarray, np.ndarray]:
    """Decode a sorted-unique set of blocks in ONE varint pass.

    Consecutive block indices are grouped into contiguous byte ranges;
    the ranges are joined and decoded with a single varint_decode
    (varints are self-delimiting), then per-run delta bases are fixed up
    vectorized. Decoding ALL blocks this way costs the same as a full
    decode_postings — the WAND path pays no per-block Python overhead.

    Block value counts are derivable without decoding: every block holds
    BLOCK_SIZE postings except the final one (doc_freq mod BLOCK_SIZE).
    """
    block_idx = np.asarray(block_idx, dtype=np.int64)
    if block_idx.size == 0:
        return np.zeros(0, dtype=np.int64), np.zeros(0, dtype=np.int64)
    nblocks = len(block_last)
    # per-block posting counts
    sizes = np.full(len(block_idx), BLOCK_SIZE, dtype=np.int64)
    last_sz = doc_freq - (nblocks - 1) * BLOCK_SIZE
    sizes[block_idx == nblocks - 1] = last_sz
    # contiguous runs of selected blocks
    breaks = np.nonzero(np.diff(block_idx) != 1)[0]
    run_starts = np.r_[0, breaks + 1]
    run_ends = np.r_[breaks, len(block_idx) - 1]  # inclusive
    b0 = block_idx[run_starts]
    b1 = block_idx[run_ends]
    dlo = doc_offsets[b0]
    dhi = np.where(b1 + 1 < nblocks, doc_offsets[np.minimum(b1 + 1, nblocks - 1)],
                   len(docid_blob))
    tlo = tf_offsets[b0]
    thi = np.where(b1 + 1 < nblocks, tf_offsets[np.minimum(b1 + 1, nblocks - 1)],
                   len(tf_blob))
    counts = np.add.reduceat(sizes, run_starts)
    dview = memoryview(docid_blob)
    tview = memoryview(tf_blob)
    joined_d = b"".join(dview[int(a):int(b)] for a, b in zip(dlo, dhi))
    joined_t = b"".join(tview[int(a):int(b)] for a, b in zip(tlo, thi))
    deltas = varint_decode(joined_d).astype(np.int64)
    tfs = varint_decode(joined_t).astype(np.int64)
    # per-run base: last docid of the block before the run (0 for block 0)
    bases = np.where(b0 > 0, block_last[np.maximum(b0 - 1, 0)], 0)
    starts = np.r_[0, np.cumsum(counts)[:-1]]
    cs = np.cumsum(deltas)
    adjust = bases + deltas[starts] - cs[starts]
    run_of = np.repeat(np.arange(len(starts)), counts)
    return cs + adjust[run_of], tfs
