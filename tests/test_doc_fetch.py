"""Hit fetch from the doc store (docs.parquet).

A hit's `doc` is the stored row of its segment's doc store without the
internal `_seg_doc` id, with NaN and null rendered as None, ip columns
in their text form and u64 values as exact Python ints. The parity test
compares every fetched doc with a full-file read of docs.parquet, for
built, delete-rewritten and merged segments and for a segment whose doc
store is one row group. The O(hits) test pins that a hit fetch reads
only the row group holding the hit. The cache tests pin that the reader
keeps each decoded row group, reads only the ones it lacks, and counts
each against the reader budget once, also under concurrent fetches.
"""

import json
import math
import os
import threading

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

from quickwit_spark.config import IndexConfig
from quickwit_spark.functions.fieldtypes import hex_to_ip_display
from quickwit_spark.index.builder import build_index_pandas
from quickwit_spark.index.deletes import apply_delete_query
from quickwit_spark.index.manifest import Manifest
from quickwit_spark.index.merge import merge_segments
from quickwit_spark.search import ast as A
from quickwit_spark.search.engine import IndexSearcher

N = 1000
PAD = 6000  # bytes of `__source` per doc: ~6 MB of stored values


def _corpus(n: int = N) -> pd.DataFrame:
    i = np.arange(n)
    f64 = [float(x) + 0.5 for x in i]
    f64[3], f64[4] = float("nan"), None
    i64 = pd.array([int(x) - 500 for x in i], dtype="Int64")
    i64[1] = pd.NA
    flag = pd.array([bool(x % 2) for x in i], dtype="boolean")
    flag[2] = pd.NA
    return pd.DataFrame({
        "doc_id": i.astype(np.int64),
        "text": [f"common tok{x}" for x in i],
        "i64": i64,
        "u64": np.array([2**63 + 7 * int(x) for x in i], dtype=np.uint64),
        "flag": flag,
        "f64": pd.Series(f64, dtype=object),
        "client_ip": [f"10.0.{x // 256}.{x % 256}" if x % 9 else "2001:db8::1"
                      for x in i],
        "payload": ["AAE=" if x % 5 else None for x in i],
        "name": [f"name-{x}" if x % 7 else None for x in i],
        "__source": [json.dumps({"doc_id": int(x), "pad": "x" * PAD})
                     for x in i],
    })


def _config(root: str) -> IndexConfig:
    return IndexConfig(
        index_uid="fetch", index_dir=root, key_cols=("doc_id",),
        text_col="text", tokenizer="default", tag_cols=(), sha_col=None,
        store_cols=("i64", "u64", "flag", "f64", "client_ip", "payload",
                    "name"),
        field_types={"client_ip": "ip", "payload": "bytes"},
        source_col="__source")


def _golden(seg_dir: str) -> list[dict]:
    """Every stored row of a segment, read whole, in the hit.doc form."""
    tbl = pq.read_table(os.path.join(seg_dir, "docs.parquet"))
    with open(os.path.join(seg_dir, "meta.json")) as f:
        ftypes = json.load(f)["field_types"]
    rows = tbl.to_pylist()
    for local, row in enumerate(rows):
        assert row.pop("_seg_doc") == local
        for k, v in row.items():
            if isinstance(v, float) and math.isnan(v):
                row[k] = None
            elif ftypes.get(k) == "ip" and v is not None:
                row[k] = hex_to_ip_display(v)
    return rows


def _probe_ids(seg_dir: str) -> list[int]:
    """Local doc ids at the first, middle and last row group's edges."""
    md = pq.read_metadata(os.path.join(seg_dir, "docs.parquet"))
    starts = np.cumsum([0] + [md.row_group(g).num_rows
                              for g in range(md.num_row_groups)])
    mid = md.num_row_groups // 2
    return sorted({0, int(starts[1]) - 1, int(starts[mid]),
                   int(starts[mid + 1]) - 1, int(starts[-1]) - 1})


def _assert_fetch_matches(root: str, pdf: pd.DataFrame) -> None:
    """Every live segment: its probe docs, fetched in one search and one
    at a time, equal the golden rows."""
    s = IndexSearcher(root)
    for seg in Manifest.load(root).segments():
        seg_dir = os.path.join(root, "segments", seg["segment_id"])
        golden = _golden(seg_dir)
        # row-group edges plus every doc holding a null, NaN or v6 ip
        probes = sorted(set(_probe_ids(seg_dir))
                        | {d for d, r in enumerate(golden)
                           if r["doc_id"] < 8})
        keys = [golden[d]["doc_id"] for d in probes]
        res = s.search(A.Bool(should=tuple(A.Term("text", f"tok{k}")
                                           for k in keys)),
                       k=len(keys))
        got = {h.doc["doc_id"]: (h.segment_id, h.doc_id, h.doc)
               for h in res.hits}
        assert sorted(got) == sorted(keys)
        for d, key in zip(probes, keys):
            assert got[key] == (seg["segment_id"], d, golden[d])
            one = s.search(A.Term("text", f"tok{key}"), k=1).hits
            assert [h.doc for h in one] == [golden[d]]
            src = pdf.loc[pdf["doc_id"] == key].iloc[0]
            assert golden[d]["u64"] == int(src["u64"])
            assert golden[d]["client_ip"] == src["client_ip"]
            assert golden[d]["__source"] == src["__source"]


def test_fetched_docs_equal_stored_rows(tmp_path):
    root = str(tmp_path / "idx")
    pdf = _corpus()
    build_index_pandas(pdf, _config(root), num_partitions=2)
    built = Manifest.load(root).segments()
    assert len(built) == 2
    # a doc store written the way every segment was before bounded row
    # groups: one row group, pq.write_table defaults
    legacy = os.path.join(root, "segments", built[1]["segment_id"],
                          "docs.parquet")
    pq.write_table(pq.read_table(legacy), legacy, compression="zstd")
    assert pq.read_metadata(legacy).num_row_groups == 1

    # the special values all reach the doc store
    rows = [r for seg in built for r in _golden(
        os.path.join(root, "segments", seg["segment_id"]))]
    by_key = {r["doc_id"]: r for r in rows}
    assert by_key[1]["i64"] is None and by_key[2]["flag"] is None
    assert by_key[3]["f64"] is None and by_key[4]["f64"] is None
    assert by_key[5]["f64"] == 5.5 and by_key[0]["client_ip"] == "2001:db8::1"
    assert by_key[1]["payload"] == b"\x00\x01"
    assert by_key[5]["payload"] is None and by_key[7]["name"] is None
    assert max(r["u64"] for r in rows) == 2**63 + 7 * (N - 1)

    _assert_fetch_matches(root, pdf)

    # delete-rewritten segment; its parent is the built one that kept
    # the bounded row groups
    seg0 = os.path.join(root, "segments", built[0]["segment_id"])
    victim = _golden(seg0)[_probe_ids(seg0)[1]]["doc_id"]
    out = apply_delete_query(root, A.Term("text", f"tok{victim}"))
    assert out["segments_rewritten"] == 1 and out["docs_deleted"] == 1
    _assert_fetch_matches(root, pdf)

    # merged segment
    m = Manifest.load(root)
    parents = m.segments()
    child = merge_segments(root, parents)
    m.publish([child], replaced_segment_ids=[p["segment_id"]
                                             for p in parents])
    assert len(Manifest.load(root).segments()) == 1
    _assert_fetch_matches(root, pdf)


def test_hit_fetch_reads_only_the_hit_row_group(tmp_path, monkeypatch):
    root = str(tmp_path / "idx")
    pdf = _corpus()
    build_index_pandas(pdf, _config(root), num_partitions=1)
    (seg,) = Manifest.load(root).segments()
    path = os.path.join(root, "segments", seg["segment_id"], "docs.parquet")
    md = pq.read_metadata(path)
    assert md.num_row_groups >= 3
    rg = md.num_row_groups // 2
    local = sum(md.row_group(g).num_rows for g in range(rg)) + 1
    key = pq.read_table(path, columns=["doc_id"]).column(0)[local].as_py()

    real_read_table = pq.read_table

    def no_doc_store_read_table(source, *a, **kw):
        if str(source).endswith("docs.parquet"):
            raise AssertionError("whole doc-store read on the search path")
        return real_read_table(source, *a, **kw)

    calls = []
    real_read_row_groups = pq.ParquetFile.read_row_groups

    def spy(self, row_groups, columns=None, *a, **kw):
        calls.append((list(row_groups), list(columns)))
        return real_read_row_groups(self, row_groups, columns, *a, **kw)

    monkeypatch.setattr(pq, "read_table", no_doc_store_read_table)
    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", spy)
    res = IndexSearcher(root).search(A.Term("text", f"tok{key}"), k=1)
    assert [(h.doc_id, h.doc["doc_id"]) for h in res.hits] == [(local, key)]
    stored = [f.name for f in md.schema.to_arrow_schema()]
    assert calls == [([rg], [c for c in stored if c != "_seg_doc"])]


def _one_segment(tmp_path):
    """A 1-segment index of the corpus; its doc store has >= 3 row groups.
    Returns the root, the segment directory and the row-group starts."""
    root = str(tmp_path / "idx")
    build_index_pandas(_corpus(), _config(root), num_partitions=1)
    (seg,) = Manifest.load(root).segments()
    seg_dir = os.path.join(root, "segments", seg["segment_id"])
    md = pq.read_metadata(os.path.join(seg_dir, "docs.parquet"))
    assert md.num_row_groups >= 3
    starts = np.cumsum([0] + [md.row_group(g).num_rows
                              for g in range(md.num_row_groups)])
    return root, seg_dir, starts


def _spy_row_group_reads(monkeypatch) -> list:
    calls = []
    real = pq.ParquetFile.read_row_groups

    def spy(self, row_groups, columns=None, *a, **kw):
        calls.append(list(row_groups))
        return real(self, row_groups, columns, *a, **kw)

    monkeypatch.setattr(pq.ParquetFile, "read_row_groups", spy)
    return calls


def _hits_query(golden: list[dict], locals_: list[int]) -> A.Node:
    return A.Bool(should=tuple(A.Term("text", f"tok{golden[d]['doc_id']}")
                               for d in locals_))


def test_second_fetch_of_a_hit_reads_no_row_group(tmp_path, monkeypatch):
    root, seg_dir, starts = _one_segment(tmp_path)
    golden = _golden(seg_dir)
    local = int(starts[1]) + 2
    calls = _spy_row_group_reads(monkeypatch)
    s = IndexSearcher(root)
    q = _hits_query(golden, [local])
    first = s.search(q, k=1).hits
    assert calls == [[1]]
    second = IndexSearcher(root).search(q, k=1).hits
    assert calls == [[1]]
    assert [h.doc for h in first] == [h.doc for h in second] == [golden[local]]


def test_fetch_reads_only_the_uncached_row_groups(tmp_path, monkeypatch):
    root, seg_dir, starts = _one_segment(tmp_path)
    golden = _golden(seg_dir)
    s = IndexSearcher(root)
    calls = _spy_row_group_reads(monkeypatch)
    s.search(_hits_query(golden, [int(starts[1])]), k=1)
    assert calls == [[1]]
    # groups 0 and 2 are cold, group 1 is cached: one read of the two
    span = [int(starts[2]) + 1, int(starts[1]) + 5, 3, int(starts[1])]
    res = s.search(_hits_query(golden, span), k=len(span))
    assert calls == [[1], [0, 2]]
    assert sorted((h.doc_id, h.doc["doc_id"]) for h in res.hits) == sorted(
        (d, golden[d]["doc_id"]) for d in span)
    for h in res.hits:
        assert h.doc == golden[h.doc_id]


def test_decoded_blocks_are_pinned_once(tmp_path):
    from quickwit_spark.search.engine import get_reader
    _root, seg_dir, starts = _one_segment(tmp_path)
    r = get_reader(seg_dir)
    cols = [c for c in r.docs_schema().names if c != "_seg_doc"]
    base = r.cache_footprint
    f = pq.ParquetFile(os.path.join(seg_dir, "docs.parquet"))
    block = f.read_row_group(1, columns=cols)
    ids = [int(starts[1]), int(starts[2]) - 1]
    assert r.read_docs(ids).equals(block.take([0, block.num_rows - 1]))
    assert r.cache_footprint == base + block.nbytes
    r.read_docs(ids[::-1])
    r.read_docs(ids[:1])
    assert r.cache_footprint == base + block.nbytes


def test_fetch_matches_with_a_one_byte_reader_budget(tmp_path, monkeypatch):
    """Every pin evicts all but the newest reader, often the one still
    fetching: what it already decoded must still serve the fetch."""
    import quickwit_spark.search.engine as eng
    monkeypatch.setattr(eng, "_READER_CACHE", type(eng._READER_CACHE)())
    monkeypatch.setattr(eng, "READER_CACHE_BUDGET_BYTES", 1)
    root = str(tmp_path / "idx")
    pdf = _corpus()
    build_index_pandas(pdf, _config(root), num_partitions=2)
    _assert_fetch_matches(root, pdf)
    (seg0, _) = Manifest.load(root).segments()
    seg0 = os.path.join(root, "segments", seg0["segment_id"])
    victim = _golden(seg0)[_probe_ids(seg0)[2]]["doc_id"]
    out = apply_delete_query(root, A.Term("text", f"tok{victim}"))
    assert out["segments_rewritten"] == 1
    _assert_fetch_matches(root, pdf)
    m = Manifest.load(root)
    parents = m.segments()
    m.publish([merge_segments(root, parents)],
              replaced_segment_ids=[p["segment_id"] for p in parents])
    _assert_fetch_matches(root, pdf)
    assert len(eng._READER_CACHE) == 1


def test_read_docs_of_no_ids_is_an_empty_table(tmp_path):
    from quickwit_spark.search.engine import get_reader
    _root, seg_dir, _starts = _one_segment(tmp_path)
    r = get_reader(seg_dir)
    empty = r.read_docs([])
    assert empty.num_rows == 0
    stored = pq.read_schema(os.path.join(seg_dir, "docs.parquet"))
    assert empty.column_names == [c for c in stored.names if c != "_seg_doc"]
    assert empty.schema.equals(r.read_docs([0]).schema)
    assert r.read_docs(np.array([], dtype=np.int64)).num_rows == 0


def test_concurrent_cold_fetches_pin_each_block_once(tmp_path, monkeypatch):
    import quickwit_spark.search.engine as eng
    root, seg_dir, starts = _one_segment(tmp_path)
    golden = _golden(seg_dir)
    span = [1, int(starts[1]) + 1, int(starts[2]) + 1]
    q = _hits_query(golden, span)

    def fresh_cache_footprint(fetch) -> tuple[int, list]:
        """Empty reader and leaf caches, warm the search path, then
        fetch cold: the reader's footprint growth over the fetch, and
        its docs."""
        monkeypatch.setattr(eng, "_READER_CACHE", type(eng._READER_CACHE)())
        eng.clear_leaf_cache()
        s = IndexSearcher(root)
        s.search(q, k=len(span), fetch_fields=False)
        r = eng.get_reader(seg_dir)
        before = r.cache_footprint
        docs = fetch(s)
        assert eng.get_reader(seg_dir) is r
        return r.cache_footprint - before, docs

    def one(s):
        return [[h.doc for h in s.search(q, k=len(span)).hits]]

    def four(s):
        barrier, out = threading.Barrier(4), [None] * 4

        def run(i):
            barrier.wait()
            out[i] = [h.doc for h in s.search(q, k=len(span)).hits]

        ts = [threading.Thread(target=run, args=(i,)) for i in range(4)]
        for t in ts:
            t.start()
        for t in ts:
            t.join()
        return out

    single, (docs,) = fresh_cache_footprint(one)
    assert sorted(d["doc_id"] for d in docs) == sorted(
        golden[d]["doc_id"] for d in span)
    threaded, outs = fresh_cache_footprint(four)
    assert outs == [docs] * 4
    assert threaded == single > 0
