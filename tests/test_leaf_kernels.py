"""Property tests for the exhaustive leaf's kernels against plain
references: the one-pass varint decoder against the per-byte-position
loop (tests/oracle.py), the zero-copy binary-cell view against
`to_pylist`, the sorted-set kernels against numpy's set routines, and
the partial top-k against a full lexsort."""

import numpy as np
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from quickwit_spark.index.codecs import (_binary_cells,
                                         varint_decode_with_sizes,
                                         varint_encode)
from quickwit_spark.search.engine import _isect_idx, _top_k_order, _union_ids

from tests import oracle

_SETTINGS = settings(max_examples=150, deadline=None, derandomize=True)

_u64 = st.one_of(st.integers(0, 127), st.integers(0, 2 ** 64 - 1),
                 st.sampled_from([2 ** 63, 2 ** 64 - 1]))


def _same_decode(buf):
    got_v, got_n = varint_decode_with_sizes(buf)
    want_v, want_n = oracle.varint_decode_with_sizes(buf)
    assert got_v.dtype == want_v.dtype and got_n.dtype == want_n.dtype
    assert got_v.tolist() == want_v.tolist()
    assert got_n.tolist() == want_n.tolist()


@given(st.lists(_u64, max_size=200))
@_SETTINGS
def test_varint_decode_matches_loop_oracle(vals):
    """Values up to 2**64-1, so 10-byte varints, and the empty input."""
    _same_decode(varint_encode(np.asarray(vals, dtype=np.uint64)))


_CELL_TYPES = [pa.binary(), pa.large_binary(), pa.list_(pa.int64()),
               pa.list_(pa.int32()), pa.large_list(pa.float32())]


@given(st.data(), st.sampled_from(_CELL_TYPES), st.integers(0, 3))
@_SETTINGS
def test_binary_cells_match_pylist(data, typ, cut):
    """One or many chunks, int32 or int64 offsets, and a sliced first
    chunk (a non-zero array offset into a shared data buffer); binary
    cells as bytes, list cells as typed child values."""
    # list values stay within 2**24, so float32 holds them exactly
    cell = (st.binary(max_size=12) if pa.types.is_binary(typ)
            or pa.types.is_large_binary(typ)
            else st.lists(st.integers(-2 ** 24, 2 ** 24), max_size=12))
    chunks = data.draw(st.lists(st.lists(cell, max_size=20),
                                min_size=1, max_size=4))
    arrs = [pa.array(c, type=typ) for c in chunks]
    arrs[0] = arrs[0].slice(min(cut, len(arrs[0])))
    col = pa.chunked_array(arrs, type=typ)
    values, offs = _binary_cells(col)
    assert offs.dtype == np.int64 and len(offs) == len(col) + 1
    cells = [values[offs[i]:offs[i + 1]] for i in range(len(col))]
    if values.dtype == np.uint8:
        assert [c.tobytes() for c in cells] == col.to_pylist()
    else:
        assert values.dtype == typ.value_type.to_pandas_dtype()
        assert [c.tolist() for c in cells] == col.to_pylist()


@given(st.lists(st.integers(0, 127), max_size=200))
@_SETTINGS
def test_varint_decode_one_byte_values(vals):
    _same_decode(varint_encode(np.asarray(vals, dtype=np.uint64)))


@given(st.lists(st.lists(_u64, max_size=40), max_size=6),
       st.lists(st.integers(128, 255), max_size=12))
@_SETTINGS
def test_varint_decode_concatenated_and_unterminated(chunks, tail):
    """Concatenated encoder outputs decode as one stream; trailing
    continuation bytes with no terminator are ignored."""
    buf = b"".join(varint_encode(np.asarray(c, dtype=np.uint64))
                   for c in chunks)
    if buf:
        _same_decode(buf + bytes(tail))
    else:  # no terminator at all: nothing decodes
        got_v, got_n = varint_decode_with_sizes(bytes(tail))
        assert len(got_v) == len(got_n) == 0


@given(st.binary(min_size=1, max_size=300))
@_SETTINGS
def test_varint_decode_arbitrary_bytes(buf):
    """Any buffer with a terminator, overlong runs included."""
    if any(b < 0x80 for b in buf):
        _same_decode(buf)


_sorted_set = st.lists(st.integers(0, 400), max_size=120, unique=True).map(
    lambda v: np.asarray(sorted(v), dtype=np.int64))


@given(_sorted_set, _sorted_set)
@_SETTINGS
def test_isect_idx_matches_intersect1d(a, b):
    """_isect_idx takes sorted unique docids, as every leaf set is."""
    got = _isect_idx(a, b)
    want = np.intersect1d(a, b, assume_unique=True, return_indices=True)
    for g, w in zip(got, want):
        assert g.tolist() == w.tolist()


@given(st.lists(st.lists(st.integers(0, 400), max_size=80), max_size=5),
       st.booleans())
@_SETTINGS
def test_union_ids_matches_unique(sets, presort):
    """Sorted or unsorted input, duplicates and empty sets included."""
    arrs = [np.asarray(sorted(s) if presort else s, dtype=np.int64)
            for s in sets]
    got = _union_ids(arrs)
    want = (np.unique(np.concatenate(arrs)) if arrs
            else np.zeros(0, dtype=np.int64))
    assert got.dtype == np.int64
    assert got.tolist() == want.tolist()


@given(st.lists(st.sampled_from([0.25, 0.5, 1.0, 1.5, 2.0, np.nan]),
                max_size=150),
       st.integers(0, 170), st.randoms(use_true_random=False))
@_SETTINGS
def test_top_k_order_matches_full_lexsort(scores, k, rnd):
    """Few distinct scores, so ties at the k-th place are the rule;
    k = 0, k = n and k > n are all drawn."""
    n = len(scores)
    docids = np.asarray(rnd.sample(range(10 * n + 1), n), dtype=np.int64)
    s = np.asarray(scores, dtype=np.float32)
    want = np.lexsort((-docids, -s.astype(np.float64)))[:k]
    assert _top_k_order(docids, s, k).tolist() == want.tolist()
    assert _top_k_order(docids, s, n).tolist() == \
        np.lexsort((-docids, -s.astype(np.float64))).tolist()
