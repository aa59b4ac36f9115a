"""Property tests (hypothesis) for the posting codecs: varint round
trips, block decoding vs full decoding, and position round trips — the
bit-level invariants every splice/merge path depends on."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from quickwit_spark.index.codecs import (decode_blocks_batch,
                                         decode_positions, decode_postings,
                                         encode_position_blob,
                                         varint_decode,
                                         varint_decode_with_sizes,
                                         varint_encode,
                                         varint_encode_with_sizes)
from tests.oracle import decode_block, encode_posting_blocks


@given(st.lists(st.integers(min_value=0, max_value=2 ** 64 - 1),
                max_size=300))
@settings(max_examples=200, deadline=None)
def test_varint_round_trip(vals):
    v = np.asarray(vals, dtype=np.uint64)
    buf = varint_encode(v)
    out = varint_decode(buf)
    assert out.tolist() == v.tolist()
    buf2, sizes = varint_encode_with_sizes(v)
    assert buf2 == buf  # canonical: both encoders agree byte-for-byte
    assert int(sizes.sum()) == len(buf)
    out2, sizes2 = varint_decode_with_sizes(buf)
    assert out2.tolist() == v.tolist()
    assert sizes2.tolist() == sizes.tolist()


@st.composite
def postings(draw):
    n = draw(st.integers(min_value=1, max_value=700))
    gaps = draw(st.lists(st.integers(min_value=1, max_value=50),
                         min_size=n, max_size=n))
    docids = np.cumsum(np.asarray(gaps, dtype=np.int64)) - 1
    tfs = np.asarray(draw(st.lists(
        st.integers(min_value=1, max_value=200), min_size=n, max_size=n)),
        dtype=np.int64)
    fns = np.asarray(draw(st.lists(
        st.integers(min_value=0, max_value=255), min_size=n, max_size=n)),
        dtype=np.int64)
    return docids, tfs, fns


@given(postings())
@settings(max_examples=60, deadline=None)
def test_block_decode_matches_full_decode(p):
    docids, tfs, fns = p
    enc = encode_posting_blocks(docids, tfs, fns)
    d, t = decode_postings(enc["docid_blob"], enc["tf_blob"])
    assert d.tolist() == docids.tolist()
    assert t.tolist() == tfs.tolist()
    nblk = len(enc["block_last"])
    # every single block decodes to the right slice
    for bi in range(nblk):
        lo, hi = bi * 128, min((bi + 1) * 128, len(docids))
        db, tb = decode_block(enc["docid_blob"], enc["tf_blob"],
                              enc["doc_offsets"], enc["tf_offsets"],
                              enc["block_last"], bi)
        assert db.tolist() == docids[lo:hi].tolist()
        assert tb.tolist() == tfs[lo:hi].tolist()
    # arbitrary block subsets via the batched (contiguous-run) decoder
    for sel in ([0], list(range(nblk)), list(range(0, nblk, 2)),
                [nblk - 1]):
        sel = sorted(set(s for s in sel if s < nblk))
        db, tb = decode_blocks_batch(
            enc["docid_blob"], enc["tf_blob"], enc["doc_offsets"],
            enc["tf_offsets"], enc["block_last"], len(docids),
            np.asarray(sel, dtype=np.int64))
        want_d, want_t = [], []
        for bi in sel:
            lo, hi = bi * 128, min((bi + 1) * 128, len(docids))
            want_d.extend(docids[lo:hi].tolist())
            want_t.extend(tfs[lo:hi].tolist())
        assert db.tolist() == want_d
        assert tb.tolist() == want_t


@st.composite
def position_runs(draw):
    nterm = draw(st.integers(min_value=1, max_value=8))
    tfs, pos, term_of = [], [], []
    for ti in range(nterm):
        nposting = draw(st.integers(min_value=1, max_value=10))
        for _ in range(nposting):
            tf = draw(st.integers(min_value=1, max_value=6))
            start = draw(st.integers(min_value=0, max_value=1000))
            gaps = draw(st.lists(st.integers(min_value=0, max_value=9),
                                 min_size=tf - 1, max_size=tf - 1))
            run = [start]
            for g in gaps:
                run.append(run[-1] + g)
            pos.extend(run)
            tfs.append(tf)
            term_of.append(ti)
    return (np.asarray(pos, dtype=np.int64),
            np.asarray(tfs, dtype=np.int64),
            np.asarray(term_of, dtype=np.int64))


@given(position_runs())
@settings(max_examples=60, deadline=None)
def test_positions_round_trip(p):
    pos, tfs, term_of = p
    blob, term_offsets = encode_position_blob(pos, tfs, term_of)
    # decode per term using each term's byte slice and its run lengths
    out = []
    starts = np.r_[0, np.cumsum(tfs)[:-1]]
    for ti in range(term_of.max() + 1):
        rows = np.nonzero(term_of == ti)[0]
        seg = blob[term_offsets[ti]:term_offsets[ti + 1]]
        dec, _rs = decode_positions(seg, tfs[rows])
        out.extend(dec.tolist())
    assert out == pos.tolist()


@given(postings())
@settings(max_examples=25, deadline=None)
def test_reference_twin_matches_builder_encoder(tmp_path_factory, p):
    """encode_posting_blocks (the single-term reference twin used by
    tests) must stay BYTE-IDENTICAL to the production encoder inside
    builder.write_segment — otherwise the twin validates an encoding
    production never runs."""
    import os

    import pyarrow.parquet as pq

    from quickwit_spark.index.builder import write_segment

    docids, tfs, fns = p
    n_docs = int(docids.max()) + 1
    fn_ids = np.zeros(n_docs, dtype=np.int64)
    fn_ids[docids] = fns
    seg_dir = str(tmp_path_factory.mktemp("twin") / "seg")
    write_segment(
        seg_dir, np.array(["t"], dtype=object),
        np.zeros(len(docids), dtype=np.int64), docids, tfs, fn_ids,
        {"_seg_doc": np.arange(n_docs, dtype=np.int32)},
        {"segment_id": "s", "partition_id": 0, "chunk_idx": 0,
         "bytes_raw": 0, "schema_rev": 0, "tokenizer": "default"})
    row = pq.read_table(os.path.join(seg_dir, "postings.parquet")
                        ).to_pandas().iloc[0]
    enc = encode_posting_blocks(docids, tfs, fns)
    assert bytes(row["docid_blob"]) == enc["docid_blob"]
    assert bytes(row["tf_blob"]) == enc["tf_blob"]
    assert list(row["block_last"]) == enc["block_last"].tolist()
    assert list(row["block_max_tf"]) == enc["block_max_tf"].tolist()
    assert list(row["block_min_fn"]) == enc["block_min_fn"].tolist()
    assert list(row["doc_offsets"]) == enc["doc_offsets"].tolist()
    assert list(row["tf_offsets"]) == enc["tf_offsets"].tolist()
