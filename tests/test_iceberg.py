"""Iceberg source: Avro OCF codec, metadata layer, scan planning,
snapshot time travel, distributed append/planning, and an end-to-end
index build from an Iceberg table (BASELINE.json north star: the
source corpus is an Iceberg table of source-code repositories)."""

import json
import os
import struct
from zlib import error as zlib_error

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from quickwit_spark.sources import avro_ocf, iceberg


# ------------------------------------------------------------- avro

def test_zigzag_spec_vectors():
    """Byte values straight from the Avro 1.11 spec's varint table."""
    cases = {0: b"\x00", -1: b"\x01", 1: b"\x02", -2: b"\x03",
             2: b"\x04", -64: b"\x7f", 64: b"\x80\x01",
             -8_000_000_000: b"\xff\xbf\xb2\xcd\x3b",
             8_000_000_000: b"\x80\xc0\xb2\xcd\x3b"}
    for n, raw in cases.items():
        assert avro_ocf.encode_long(n) == raw, n
        assert avro_ocf.decode_long(raw, 0) == (n, len(raw))


def test_datum_spec_bytes():
    """The spec's worked record example: {'a': 27, 'b': 'foo'} encodes
    to 36 06 66 6f 6f."""
    sch = {"type": "record", "name": "test", "fields": [
        {"name": "a", "type": "long"}, {"name": "b", "type": "string"}]}
    buf = avro_ocf.datum_to_bytes(sch, {"a": 27, "b": "foo"})
    assert buf == b"\x36\x06foo"
    assert avro_ocf.datum_from_bytes(sch, buf) == {"a": 27, "b": "foo"}


def test_union_and_magic():
    sch = ["null", "string"]
    assert avro_ocf.datum_to_bytes(sch, None) == b"\x00"
    assert avro_ocf.datum_to_bytes(sch, "a") == b"\x02\x02a"
    assert avro_ocf.MAGIC == b"Obj\x01"


_REC = {"type": "record", "name": "r", "fields": [
    {"name": "s", "type": "string"},
    {"name": "n", "type": ["null", "long"]},
    {"name": "d", "type": "double"},
    {"name": "b", "type": "bytes"},
    {"name": "arr", "type": {"type": "array", "items": {
        "type": "record", "name": "kv", "fields": [
            {"name": "key", "type": "int"},
            {"name": "value", "type": "bytes"}]}}},
    {"name": "m", "type": {"type": "map", "values": "boolean"}},
]}

_rec_st = st.fixed_dictionaries({
    "s": st.text(max_size=40),
    "n": st.none() | st.integers(-2**63, 2**63 - 1),
    "d": st.floats(allow_nan=False, width=64),
    "b": st.binary(max_size=40),
    "arr": st.lists(st.fixed_dictionaries({
        "key": st.integers(-2**31, 2**31 - 1),
        "value": st.binary(max_size=8)}), max_size=5),
    "m": st.dictionaries(st.text(max_size=8), st.booleans(), max_size=4),
})


@settings(max_examples=150, deadline=None)
@given(recs=st.lists(_rec_st, max_size=8),
       codec=st.sampled_from(["null", "deflate"]))
def test_ocf_roundtrip_property(tmp_path_factory, recs, codec):
    path = str(tmp_path_factory.mktemp("avro") / "t.avro")
    avro_ocf.write_ocf(path, _REC, recs, codec=codec)
    meta, back = avro_ocf.read_ocf(path)
    assert back == recs
    assert json.loads(meta["avro.schema"]) == _REC


@settings(max_examples=300, deadline=None)
@given(data=st.binary(min_size=0, max_size=200))
def test_decoder_rejects_garbage_bytes(data):
    """Hostile/corrupt input must raise promptly — never hang, never
    over-allocate from a forged block count, never silently return
    truncated bytes/strings."""
    try:
        avro_ocf.datum_from_bytes(_REC, data)
    except (ValueError, IndexError, UnicodeDecodeError):
        pass


@settings(max_examples=150, deadline=None)
@given(flips=st.lists(st.tuples(st.integers(0, 10_000),
                                st.integers(1, 255)),
                      min_size=1, max_size=6))
def test_ocf_reader_survives_mutation(tmp_path_factory, flips):
    """Bit-flipped container files either still decode to SOME records
    (flip hit slack like the deflate stream's redundancy) or raise a
    clean error — no hangs, no crashes outside ValueError-family."""
    path = str(tmp_path_factory.mktemp("fuzz") / "t.avro")
    recs = [{"s": "abc", "n": 7, "d": 1.0, "b": b"xy",
             "arr": [{"key": 1, "value": b"z"}], "m": {"k": True}}] * 4
    avro_ocf.write_ocf(path, _REC, recs)
    raw = bytearray(open(path, "rb").read())
    for off, xor in flips:
        raw[off % len(raw)] ^= xor
    open(path, "wb").write(bytes(raw))
    try:
        avro_ocf.read_ocf(path)
    except (ValueError, IndexError, KeyError, UnicodeDecodeError,
            EOFError, json.JSONDecodeError, zlib_error, OverflowError,
            struct.error):
        # NOT MemoryError: a forged count over-allocating would be the
        # exact bug the bounds guards exist to prevent
        pass


def test_avro_schema_growth_defaults():
    """Fields added with a declared default re-encode records decoded
    under an OLDER schema (the manifest-compaction forward-compat
    path); genuinely missing fields still refuse."""
    sch = {"type": "record", "name": "r", "fields": [
        {"name": "x", "type": "long"},
        {"name": "added", "type": ["null", "long"], "default": None}]}
    buf = avro_ocf.datum_to_bytes(sch, {"x": 5})    # legacy record
    assert avro_ocf.datum_from_bytes(sch, buf) == {"x": 5,
                                                   "added": None}
    with pytest.raises(ValueError, match="missing required"):
        avro_ocf.datum_to_bytes(sch, {"added": 1})


def test_ocf_detects_torn_block(tmp_path):
    path = str(tmp_path / "t.avro")
    avro_ocf.write_ocf(path, _REC, [{"s": "x", "n": 1, "d": 0.0,
                                     "b": b"", "arr": [], "m": {}}])
    raw = bytearray(open(path, "rb").read())
    raw[-1] ^= 0xFF                        # corrupt the sync marker
    open(path, "wb").write(bytes(raw))
    with pytest.raises(ValueError, match="sync"):
        avro_ocf.read_ocf(path)


# ------------------------------------------------- transforms / spec

def test_murmur3_iceberg_spec_vectors():
    """Golden hashes published in the Iceberg spec (Appendix B):
    independent of this repo's writer, so writer+reader cannot agree
    by being wrong together."""
    assert iceberg.murmur3_32(struct.pack("<q", 34)) == 2017239379
    assert iceberg.murmur3_32(b"iceberg") == 1210000089


def test_transforms():
    ap = iceberg.apply_transform
    assert ap("identity", "string", "x") == "x"
    assert ap("bucket[16]", "long", 34) == 2017239379 % 16
    assert ap("bucket[16]", "int", 34) == ap("bucket[16]", "long", 34)
    assert ap("truncate[10]", "long", -1) == -10    # floor, not C-trunc
    assert ap("truncate[10]", "long", 19) == 10
    assert ap("truncate[3]", "string", "iceberg") == "ice"
    assert ap("void", "long", 7) is None
    assert ap("bucket[4]", "string", None) is None


def test_single_value_serialization():
    for t, v in [("int", -5), ("long", 2**40), ("float", 1.5),
                 ("double", -2.25), ("boolean", True),
                 ("string", "héllo"), ("binary", b"\x00\xff")]:
        raw = iceberg.to_single_value_bytes(t, v)
        assert iceberg.from_single_value_bytes(t, raw) == v
    assert iceberg.to_single_value_bytes("long", 1) == b"\x01" + b"\x00" * 7


# ------------------------------------------------------ table fixture

@pytest.fixture(scope="module")
def docs_pdf():
    pdf = pd.read_parquet("/root/testdata/sf0.001/documents.parquet")
    return pdf.sort_values("doc_id").reset_index(drop=True)


@pytest.fixture(scope="module")
def two_snapshot_table(tmp_path_factory, docs_pdf):
    root = str(tmp_path_factory.mktemp("icetbl") / "docs")
    iceberg.create_table(root, pa.Schema.from_pandas(docs_pdf),
                         partition_by=[("lang", "identity"),
                                       ("doc_id", "bucket[4]")])
    even = docs_pdf[docs_pdf.doc_id % 2 == 0]
    odd = docs_pdf[docs_pdf.doc_id % 2 == 1]
    t = iceberg.append_pandas(root, even, timestamp_ms=1000)
    snap1 = t.meta["current-snapshot-id"]
    iceberg.append_pandas(root, odd, timestamp_ms=2000)
    return root, snap1


def test_full_scan_counts(two_snapshot_table, docs_pdf):
    root, _ = two_snapshot_table
    t = iceberg.load_table(root)
    plan = t.plan_files()
    assert sum(f["record_count"] for f in plan.files) == len(docs_pdf)
    got = pd.concat([pd.read_parquet(p) for p in plan.paths])
    assert sorted(got.doc_id) == sorted(docs_pdf.doc_id)


def test_time_travel(two_snapshot_table, docs_pdf):
    root, snap1 = two_snapshot_table
    t = iceberg.load_table(root)
    even = docs_pdf[docs_pdf.doc_id % 2 == 0]
    for kwargs in ({"snapshot_id": snap1}, {"as_of_ms": 1500}):
        plan = t.plan_files(**kwargs)
        assert sum(f["record_count"] for f in plan.files) == len(even)
    assert t.plan_files(as_of_ms=500).files == []   # before snapshot 1


def test_partition_pruning_exact(two_snapshot_table, docs_pdf):
    root, _ = two_snapshot_table
    t = iceberg.load_table(root)
    plan = t.plan_files(filter=[("lang", "=", "en")])
    assert plan.files_pruned_partition > 0
    got = pd.concat([pd.read_parquet(p) for p in plan.paths])
    got = got[got.lang == "en"]
    exp = docs_pdf[docs_pdf.lang == "en"]
    assert sorted(got.doc_id) == sorted(exp.doc_id)
    # bucket pruning: equality on the bucketed source column
    some_id = int(docs_pdf.doc_id.iloc[5])
    plan2 = t.plan_files(filter=[("doc_id", "=", some_id)])
    assert plan2.files_pruned_partition > 0 or plan2.files_pruned_bounds > 0
    got2 = pd.concat([pd.read_parquet(p) for p in plan2.paths])
    assert some_id in set(got2.doc_id)


def test_bounds_pruning_boundary_inclusive(two_snapshot_table, docs_pdf):
    """Files whose max == the literal must survive `<=` but not `<`."""
    root, _ = two_snapshot_table
    t = iceberg.load_table(root)
    cut = int(docs_pdf.doc_id.quantile(0.3))
    for op, pred in [("<", lambda s: s < cut), ("<=", lambda s: s <= cut),
                     (">", lambda s: s > cut), (">=", lambda s: s >= cut)]:
        plan = t.plan_files(filter=[("doc_id", op, cut)])
        got = pd.concat([pd.read_parquet(p) for p in plan.paths]) \
            if plan.paths else pd.DataFrame({"doc_id": []})
        got = got[pred(got.doc_id)]
        exp = docs_pdf[pred(docs_pdf.doc_id)]
        assert sorted(got.doc_id) == sorted(exp.doc_id), op


def test_in_filter_and_conjunction(two_snapshot_table, docs_pdf):
    root, _ = two_snapshot_table
    t = iceberg.load_table(root)
    langs = sorted(docs_pdf.lang.unique())[:2]
    cut = int(docs_pdf.doc_id.median())
    flt = [("lang", "in", langs), ("doc_id", ">=", cut)]
    plan = t.plan_files(filter=flt)
    got = pd.concat([pd.read_parquet(p) for p in plan.paths])
    got = got[got.lang.isin(langs) & (got.doc_id >= cut)]
    exp = docs_pdf[docs_pdf.lang.isin(langs) & (docs_pdf.doc_id >= cut)]
    assert sorted(got.doc_id) == sorted(exp.doc_id)


def test_version_hint_and_reload(two_snapshot_table):
    root, _ = two_snapshot_table
    t = iceberg.load_table(root)
    assert t.version == 3                   # create + 2 appends
    hint = os.path.join(root, "metadata", "version-hint.text")
    os.unlink(hint)                         # fallback: scan vN files
    t2 = iceberg.load_table(root)
    assert t2.meta == t.meta
    with open(hint, "w") as f:
        f.write("3")


def test_position_deletes(spark, tmp_path, docs_pdf):
    """Merge-on-read position deletes: delete_where writes a content=1
    manifest + (file_path,pos) parquet; reads suppress exactly those
    rows via the _metadata anti-join; time travel to a pre-delete
    snapshot still sees everything; deletes are idempotent, compose
    with later appends (different file paths never collide), and are
    never treated as appends by the incremental planner."""
    root = str(tmp_path / "deltbl")
    iceberg.create_table(root, pa.Schema.from_pandas(docs_pdf),
                         partition_by=[("lang", "identity")])
    t = iceberg.append_pandas(root, docs_pdf, timestamp_ms=1000)
    pre_delete_snap = t.meta["current-snapshot-id"]

    cut = int(docs_pdf.doc_id.quantile(0.25))
    t = iceberg.delete_where(root, [("doc_id", "<", cut)],
                             timestamp_ms=2000)
    exp = docs_pdf[docs_pdf.doc_id >= cut]
    got = t.read(spark).toPandas()
    assert sorted(got.doc_id) == sorted(exp.doc_id)
    # filtered read composes with the delete suppression
    lang0 = docs_pdf.lang.iloc[0]
    got_l = t.read(spark, filter=[("lang", "=", lang0)]).toPandas()
    assert sorted(got_l.doc_id) == sorted(exp[exp.lang == lang0].doc_id)
    # pre-delete snapshot unaffected
    assert t.read(spark, snapshot_id=pre_delete_snap).count() \
        == len(docs_pdf)

    # idempotent: re-deleting the same predicate commits nothing new
    v_before = iceberg.load_table(root).version
    t2 = iceberg.delete_where(root, [("doc_id", "<", cut)])
    assert t2.version == v_before

    # a second, overlapping delete only adds the NEW positions
    cut2 = int(docs_pdf.doc_id.quantile(0.4))
    t3 = iceberg.delete_where(root, [("doc_id", "<", cut2)],
                              timestamp_ms=3000)
    exp3 = docs_pdf[docs_pdf.doc_id >= cut2]
    assert sorted(t3.read(spark).toPandas().doc_id) \
        == sorted(exp3.doc_id)

    # later appends are untouched by earlier deletes, and the
    # incremental planner never reports delete files as appends
    extra = docs_pdf.copy()
    extra["doc_id"] = extra["doc_id"] + 100_000
    t4 = iceberg.append_pandas(root, extra, timestamp_ms=4000)
    assert t4.read(spark).count() == len(exp3) + len(extra)
    seq_after_deletes = t3.meta["last-sequence-number"]
    delta = t4.appended_files(since_seq=seq_after_deletes - 1)
    paths = {f["file_path"] for f in delta}
    assert all("-deletes" not in p for p in paths)
    assert sum(f["record_count"] for f in delta) == len(extra)

    # distributed planning lists DATA files only (delete suppression
    # is read-time; a delete parquet must never surface as data)
    dist = t4.plan_files_spark(spark).toPandas()
    assert all("-deletes" not in p for p in dist.file_path)
    assert dist.record_count.sum() == 2 * len(docs_pdf)

    # equality deletes refuse loudly instead of returning wrong rows
    snap = t4.snapshot()
    _, mls = avro_ocf.read_ocf(snap["manifest-list"])
    del_mf = next(m for m in mls if m["content"] == 1)
    _, entries = avro_ocf.read_ocf(del_mf["manifest_path"])
    entries[0]["data_file"]["content"] = 2
    sch = iceberg.manifest_entry_avro_schema(
        t4.spec_fields, {f["id"]: f for f in t4.schema_fields})
    avro_ocf.write_ocf(del_mf["manifest_path"], sch, entries)
    with pytest.raises(ValueError, match="equality delete"):
        t4.plan_files()


def test_deletes_survive_uri_encodable_paths(spark, tmp_path, docs_pdf):
    """Spark's _metadata.file_path is URI-encoded (a space reads back
    as %20); both delete anti-joins must still match — a silent miss
    would resurrect deleted rows."""
    root = str(tmp_path / "sp ace+tbl" / "docs")
    iceberg.create_table(root, pa.Schema.from_pandas(docs_pdf),
                         partition_by=[("lang", "identity")])
    iceberg.append_pandas(root, docs_pdf, timestamp_ms=1000)
    cut = int(docs_pdf.doc_id.quantile(0.5))
    t = iceberg.delete_where(root, [("doc_id", "<", cut)],
                             timestamp_ms=2000)
    got = t.read(spark).toPandas()
    assert sorted(got.doc_id) \
        == sorted(docs_pdf[docs_pdf.doc_id >= cut].doc_id)
    upd = docs_pdf[docs_pdf.doc_id >= cut].iloc[:10].copy()
    upd["n_chars"] = upd["n_chars"] + 7
    t = iceberg.upsert_pandas(root, upd, ["doc_id"], timestamp_ms=3000)
    got2 = t.read(spark).toPandas()
    assert got2.doc_id.is_unique and len(got2) == len(got)
    assert got2.set_index("doc_id").loc[upd.doc_id.iloc[0], "n_chars"] \
        == int(upd.n_chars.iloc[0])


def test_equality_deletes_upsert(spark, tmp_path, docs_pdf):
    """CDC upserts: an equality delete on the key + appended rows in
    one snapshot retires every OLDER row with a matching key while the
    same-commit rows survive (strictly-smaller-sequence rule); chained
    upserts, time travel, and position deletes compose."""
    root = str(tmp_path / "upserttbl")
    iceberg.create_table(root, pa.Schema.from_pandas(docs_pdf),
                         partition_by=[("lang", "identity")])
    t = iceberg.append_pandas(root, docs_pdf, timestamp_ms=1000)
    pre_snap = t.meta["current-snapshot-id"]

    upd = docs_pdf.iloc[:40].copy()
    upd["n_chars"] = upd["n_chars"] + 1000
    new = docs_pdf.iloc[:5].copy()
    new["doc_id"] = new["doc_id"] + 500_000
    t = iceberg.upsert_pandas(root, pd.concat([upd, new],
                                              ignore_index=True),
                              ["doc_id"], timestamp_ms=2000)
    got = t.read(spark).toPandas()
    assert len(got) == len(docs_pdf) + len(new)
    assert got.doc_id.is_unique              # old versions suppressed
    m = got.set_index("doc_id")
    orig = docs_pdf.set_index("doc_id")
    for d in upd.doc_id:
        assert m.loc[d, "n_chars"] == orig.loc[d, "n_chars"] + 1000

    # chained upsert bumps again (each delete only reaches older seqs)
    upd2 = upd.copy()
    upd2["n_chars"] = upd2["n_chars"] + 1
    t = iceberg.upsert_pandas(root, upd2, ["doc_id"], timestamp_ms=3000)
    got2 = t.read(spark).toPandas()
    assert got2.doc_id.is_unique and len(got2) == len(got)
    m2 = got2.set_index("doc_id")
    assert m2.loc[upd.doc_id.iloc[0], "n_chars"] \
        == orig.loc[upd.doc_id.iloc[0], "n_chars"] + 1001

    # time travel to the pre-upsert snapshot: original values
    old = t.read(spark, snapshot_id=pre_snap).toPandas()
    assert len(old) == len(docs_pdf)
    assert old.set_index("doc_id").loc[upd.doc_id.iloc[0], "n_chars"] \
        == orig.loc[upd.doc_id.iloc[0], "n_chars"]

    # position delete on top of equality deletes
    t = iceberg.delete_where(root, [("doc_id", "<", 10)],
                             timestamp_ms=4000)
    got3 = t.read(spark).toPandas()
    assert (got3.doc_id >= 10).all()
    assert got3.doc_id.is_unique
    assert len(got3) == (got2.doc_id >= 10).sum()


def test_add_column_schema_evolution(spark, tmp_path, docs_pdf):
    """Add-column evolution: pre-evolution files null-fill the new
    column on read; pruning on the new column keeps old files (no
    bounds recorded) while Spark's re-applied filter stays exact."""
    root = str(tmp_path / "evolve")
    iceberg.create_table(root, pa.Schema.from_pandas(docs_pdf),
                         partition_by=[("lang", "identity")])
    iceberg.append_pandas(root, docs_pdf, timestamp_ms=1000)
    t = iceberg.add_column(root, "stars", "long")
    assert t.schema_fields[-1] == {"id": 6, "name": "stars",
                                   "required": False, "type": "long"}
    with pytest.raises(ValueError, match="already exists"):
        iceberg.add_column(root, "lang", "string")

    pdf2 = docs_pdf.copy()
    pdf2["stars"] = pdf2.doc_id % 5
    t = iceberg.append_pandas(root, pdf2, timestamp_ms=2000)
    got = t.read(spark).toPandas()
    assert len(got) == 2 * len(docs_pdf)
    assert got.stars.isna().sum() == len(docs_pdf)      # old files
    got2 = t.read(spark, filter=[("stars", ">=", 3)]).toPandas()
    assert len(got2) == (pdf2.stars >= 3).sum()
    assert got2.stars.notna().all()


def test_manifest_compaction(tmp_path, docs_pdf):
    """Small manifests merge once min-count accumulate: the list stays
    bounded, scans stay exact and duplicate-free, earlier snapshots are
    untouched, and the incremental delta survives a compaction racing
    past it (EXISTING entries keep their data sequence numbers)."""
    root = str(tmp_path / "compact")
    iceberg.create_table(
        root, pa.Schema.from_pandas(docs_pdf),
        partition_by=[("lang", "identity")],
        properties={"commit.manifest.min-count-to-merge": "6"})
    chunks = [docs_pdf.iloc[i::10] for i in range(10)]
    t = None
    for i, ch in enumerate(chunks):
        t = iceberg.append_pandas(root, ch, timestamp_ms=(i + 1) * 1000)

    _, mls = avro_ocf.read_ocf(t.snapshot()["manifest-list"])
    assert len(mls) == 5          # merged(1..6) + four later smalls
    assert any(m["existing_files_count"] > 0 for m in mls)

    plan = t.plan_files()
    assert sum(f["record_count"] for f in plan.files) == len(docs_pdf)
    assert len(plan.paths) == len(set(plan.paths))    # no dup entries

    # partition pruning still works through the merged manifest
    lang0 = docs_pdf.lang.iloc[0]
    got = pd.concat([pd.read_parquet(p) for p in
                     t.plan_files(filter=[("lang", "=", lang0)]).paths])
    assert (got.lang == lang0).sum() == (docs_pdf.lang == lang0).sum()

    # earlier snapshots reference their own (uncompacted) lists
    snap3 = t.meta["snapshots"][2]["snapshot-id"]
    p3 = t.plan_files(snapshot_id=snap3)
    assert sum(f["record_count"] for f in p3.files) \
        == sum(len(c) for c in chunks[:3])

    # delta across the compaction boundary: consumer is at seq 4, the
    # seq-6 commit compacted manifests 1..6 — chunks 5 and 6 are now
    # EXISTING entries but remain unconsumed and MUST appear
    delta = t.appended_files(since_seq=4)
    assert sum(f["record_count"] for f in delta) \
        == sum(len(c) for c in chunks[4:])


def test_null_partition_values_and_concurrent_append(tmp_path, docs_pdf):
    """NaN/None source values become null partition values (not int()
    crashes), and a commit racing another rebases instead of clobbering
    the winner's snapshot."""
    pdf = docs_pdf.head(20).copy()
    pdf.loc[pdf.index[:3], "doc_id"] = None      # -> float NaN column
    pdf.loc[pdf.index[3:5], "lang"] = None
    root = str(tmp_path / "nulls")
    iceberg.create_table(root, pa.Schema.from_pandas(pdf),
                         partition_by=[("lang", "identity"),
                                       ("doc_id", "bucket[4]")])
    t = iceberg.append_pandas(root, pdf)
    plan = t.plan_files()
    assert sum(f["record_count"] for f in plan.files) == len(pdf)
    # null partitions survive an equality filter (kept, not pruned)
    lang0 = docs_pdf.lang.iloc[7]
    kept = pd.concat([pd.read_parquet(p) for p in
                      t.plan_files(filter=[("lang", "=", lang0)]).paths])
    assert (kept.lang == lang0).sum() == (pdf.lang == lang0).sum()

    # stale-handle commits: both appends must survive (rebase inside
    # the commit lock), not last-writer-wins
    stale = iceberg.load_table(root)
    f1 = iceberg._write_data_file(docs_pdf.iloc[20:25], root, 99,
                                  {"lang": "xx", "doc_id_bucket": 0},
                                  stale.schema_fields)
    f2 = iceberg._write_data_file(docs_pdf.iloc[25:31], root, 99,
                                  {"lang": "yy", "doc_id_bucket": 1},
                                  stale.schema_fields)
    iceberg._commit_append(stale, [f1], timestamp_ms=5000)
    t2 = iceberg._commit_append(stale, [f2], timestamp_ms=6000)  # stale!
    assert len(t2.meta["snapshots"]) == 3
    assert sum(f["record_count"] for f in t2.plan_files().files) \
        == len(pdf) + 5 + 6


def test_unpartitioned_table(tmp_path, docs_pdf):
    root = str(tmp_path / "flat")
    iceberg.create_table(root, pa.Schema.from_pandas(docs_pdf))
    t = iceberg.append_pandas(root, docs_pdf)
    plan = t.plan_files(filter=[("doc_id", "<", -1)])
    assert plan.files == [] and plan.files_pruned_bounds == 1
    assert sum(f["record_count"]
               for f in t.plan_files().files) == len(docs_pdf)


# ------------------------------------------------------- spark paths

def test_spark_read_matches_pandas(spark, two_snapshot_table, docs_pdf):
    root, snap1 = two_snapshot_table
    t = iceberg.load_table(root)
    got = t.read(spark, filter=[("lang", "=", "en")]).toPandas()
    exp = docs_pdf[docs_pdf.lang == "en"]
    assert sorted(got.doc_id) == sorted(exp.doc_id)
    assert got.dtypes["doc_id"] == np.int64
    # time travel through the Spark reader
    got1 = t.read(spark, snapshot_id=snap1).count()
    assert got1 == (docs_pdf.doc_id % 2 == 0).sum()


def test_plan_files_spark_parity(spark, two_snapshot_table):
    root, _ = two_snapshot_table
    t = iceberg.load_table(root)
    flt = [("lang", "=", "en")]
    local = sorted(t.plan_files(filter=flt).paths)
    dist = sorted(t.plan_files_spark(spark, filter=flt)
                  .toPandas().file_path)
    assert local == dist


def test_append_spark_roundtrip(spark, tmp_path, docs_pdf):
    root = str(tmp_path / "sparktbl")
    iceberg.create_table(root, pa.Schema.from_pandas(docs_pdf),
                         partition_by=[("lang", "identity")])
    t = iceberg.append_spark(root, spark.createDataFrame(docs_pdf),
                             timestamp_ms=1000,
                             files_per_partition_value=2)
    back = t.read(spark).toPandas().sort_values("doc_id") \
        .reset_index(drop=True)
    assert back.equals(docs_pdf)
    plan = t.plan_files(filter=[("lang", "=", docs_pdf.lang.iloc[0])])
    assert plan.files_pruned_partition > 0


def test_incremental_ingest_snapshots(spark, tmp_path, monkeypatch):
    """Snapshot-driven incremental ingest: each call indexes exactly
    the appended delta, the source position advances atomically with
    the publish, replays are exactly-once, rewinds refuse."""
    from quickwit_spark.config import IndexConfig
    from quickwit_spark.index.corpus import corpus_pandas
    from quickwit_spark.index.manifest import CheckpointConflict, Manifest
    from quickwit_spark.search import ast as A
    from quickwit_spark.search.engine import IndexSearcher
    from quickwit_spark.sources.iceberg_ingest import ingest_iceberg

    pdf = corpus_pandas(240, seed=3)
    a, b = pdf.iloc[:150], pdf.iloc[150:]
    root = str(tmp_path / "inc_src")
    iceberg.create_table(root, pa.Schema.from_pandas(pdf),
                         partition_by=[("lang", "identity")])
    iceberg.append_pandas(root, a, timestamp_ms=1000)

    cfg = IndexConfig(index_uid="inc", index_dir=str(tmp_path / "inc"))
    r1 = ingest_iceberg(spark, root, cfg, partitions_per_ingest=4)
    assert r1["status"] == "published" and r1["docs"] == len(a)
    s = IndexSearcher(cfg.index_dir)
    assert s.search(A.MatchAll(), k=1, fetch_fields=False).num_hits \
        == len(a)

    # nothing new -> no-op, no segment churn
    segs_before = set(Manifest.load(cfg.index_dir).data["segments"])
    assert ingest_iceberg(spark, root, cfg)["status"] == "up-to-date"
    assert set(Manifest.load(cfg.index_dir).data["segments"]) \
        == segs_before
    key = [k for k in Manifest.load(cfg.index_dir).data["checkpoints"]
           if k.startswith("iceberg:")][0]
    pos_after_r1 = Manifest.load(cfg.index_dir).checkpoint(key)

    # second snapshot -> only the delta is indexed
    iceberg.append_pandas(root, b, timestamp_ms=2000)
    r2 = ingest_iceberg(spark, root, cfg, partitions_per_ingest=4)
    assert r2["status"] == "published" and r2["docs"] == len(b)
    s = IndexSearcher(cfg.index_dir)
    assert s.search(A.MatchAll(), k=1, fetch_fields=False).num_hits \
        == len(pdf)

    # racing duplicate ingest: a second runner that read the
    # checkpoint BEFORE the first publish rebuilds the same
    # content-addressed segments, hits the publish conflict, and
    # resolves it as a benign replay (position embeds the ids hash)
    real_ckpt = Manifest.checkpoint
    stale_served = []

    def stale_once(self, pid):
        if str(pid).startswith("iceberg:") and not stale_served:
            stale_served.append(1)
            return pos_after_r1        # the read the racer did pre-r2
        return real_ckpt(self, pid)

    monkeypatch.setattr(Manifest, "checkpoint", stale_once)
    r3 = ingest_iceberg(spark, root, cfg, partitions_per_ingest=4)
    monkeypatch.undo()
    assert r3["status"] == "replayed"
    assert s.search(A.MatchAll(), k=1, fetch_fields=False).num_hits \
        == len(pdf)

    # rewind refusal: manifest says further ahead than the table
    # (same lineage: position pins a snapshot that really exists)
    m = Manifest.load(cfg.index_dir)
    real_snap = iceberg.load_table(root).meta["snapshots"][0][
        "snapshot-id"]
    m.publish([], checkpoint_delta={
        key: (m.checkpoint(key),
              f"iceberg-seq=99;snap={real_snap};files=0;ids=x")})
    with pytest.raises(CheckpointConflict, match="rewind"):
        ingest_iceberg(spark, root, cfg)

    # lineage refusal: a table dropped and recreated at the same path
    # reuses the path-derived uuid (same checkpoint key) and can land
    # on the same sequence number — must refuse, never 'up-to-date'
    import shutil
    shutil.rmtree(root)
    iceberg.create_table(root, pa.Schema.from_pandas(pdf),
                         partition_by=[("lang", "identity")])
    iceberg.append_pandas(root, a.iloc[:3])
    with pytest.raises(CheckpointConflict, match="replaced"):
        ingest_iceberg(spark, root, cfg)


def test_index_build_from_iceberg(spark, tmp_path):
    """End-to-end: corpus -> Iceberg table -> read -> index build ->
    search results identical to building from the direct DataFrame."""
    from quickwit_spark.config import IndexConfig
    from quickwit_spark.index.builder import build_index
    from quickwit_spark.index.corpus import corpus_pandas
    from quickwit_spark.search import ast as A
    from quickwit_spark.search.engine import IndexSearcher

    pdf = corpus_pandas(300, seed=7)
    root = str(tmp_path / "src_iceberg")
    iceberg.create_table(root, pa.Schema.from_pandas(pdf),
                         partition_by=[("lang", "identity")])
    iceberg.append_pandas(root, pdf)

    t = iceberg.load_table(root)
    df_ice = t.read(spark)
    cfg_i = IndexConfig(index_uid="ice", index_dir=str(tmp_path / "ice"))
    build_index(spark, df_ice, cfg_i, num_partitions=4)

    cfg_d = IndexConfig(index_uid="dir", index_dir=str(tmp_path / "dir"))
    build_index(spark, spark.createDataFrame(pdf), cfg_d,
                num_partitions=4)

    q = A.Bool(must=(A.FullText("content", "merge index", "and"),))
    for query in (q, A.FullText("content", "parse", "or")):
        a = IndexSearcher(cfg_i.index_dir).search(query, k=10,
                                                  fetch_fields=False)
        b = IndexSearcher(cfg_d.index_dir).search(query, k=10,
                                                  fetch_fields=False)
        assert a.num_hits == b.num_hits and a.num_hits > 0
        # segment ids are content-addressed WITH the index uid, so they
        # differ across the two indexes by construction; routing and
        # within-segment doc order are deterministic, so (doc_id, score)
        # must be rank-identical.
        assert [(h.doc_id, round(h.score, 4)) for h in a.hits] == \
               [(h.doc_id, round(h.score, 4)) for h in b.hits]


# ------------------------------- schema evolution: rename/drop (by id)

def _fidmap(fpath):
    import pyarrow.parquet as pq
    out = {}
    for f in pq.ParquetFile(fpath).schema_arrow:
        fid = (f.metadata or {}).get(b"PARQUET:field_id")
        if fid is not None:
            out[f.name] = int(fid)
    return out


def test_field_ids_embedded_everywhere(tmp_path, docs_pdf):
    """Every parquet this writer emits carries PARQUET:field_id
    footers: data files (schema ids), position-delete files (the spec's
    reserved ids), equality-delete key files (the key's ids)."""
    root = str(tmp_path / "fid")
    iceberg.create_table(root, pa.Schema.from_pandas(docs_pdf),
                         partition_by=[("lang", "identity")])
    t = iceberg.append_pandas(root, docs_pdf.iloc[:60])
    ids = {f["name"]: f["id"] for f in t.schema_fields}
    for f in t.plan_files().files:
        assert _fidmap(f["file_path"]) == ids
    t = iceberg.delete_where(root, [("doc_id", "<", 5)])
    t = iceberg.upsert_pandas(root, docs_pdf.iloc[:3], ["doc_id"])
    dels = t.plan_files().delete_files
    pos = next(d for d in dels if d["content"] == 1)
    assert _fidmap(pos["file_path"]) == {
        "file_path": iceberg._POS_DELETE_PATH_ID,
        "pos": iceberg._POS_DELETE_POS_ID}
    eq = next(d for d in dels if d["content"] == 2)
    assert _fidmap(eq["file_path"]) == {"doc_id": ids["doc_id"]}
    assert t.meta["properties"][iceberg._FIELD_IDS_PROP] == "true"


def test_rename_column_reads_and_prunes(spark, tmp_path, docs_pdf):
    """Rename mid-history: files from BOTH generations bind to the new
    name by field id, bounds pruning still works (bounds are keyed by
    id), and a filter under the new name returns exact rows."""
    root = str(tmp_path / "ren")
    iceberg.create_table(root, pa.Schema.from_pandas(docs_pdf),
                         partition_by=[("lang", "identity")])
    even = docs_pdf[docs_pdf.doc_id % 2 == 0]
    odd = docs_pdf[docs_pdf.doc_id % 2 == 1].rename(
        columns={"n_chars": "char_count"})
    iceberg.append_pandas(root, even, timestamp_ms=1000)
    t = iceberg.rename_column(root, "n_chars", "char_count")
    assert [f["name"] for f in t.schema_fields].count("char_count") == 1
    iceberg.append_pandas(root, odd, timestamp_ms=2000)

    t = iceberg.load_table(root)
    assert t._needs_field_id_read(t.schema_fields)
    got = t.read(spark).toPandas()
    assert "char_count" in got.columns and "n_chars" not in got.columns
    assert int(got.char_count.sum()) == int(docs_pdf.n_chars.sum())
    # bounds pruning under the NEW name over OLD files: bounds are
    # keyed by field id, so a cut above the global max prunes every
    # file even though half were written under the old name
    plan = t.plan_files(
        filter=[("char_count", ">", int(docs_pdf.n_chars.max()))])
    assert plan.files_pruned_bounds == plan.entries_total > 0
    cut = int(docs_pdf.n_chars.quantile(0.5))
    got2 = t.read(spark, filter=[("char_count", ">", cut)]).toPandas()
    exp2 = docs_pdf[docs_pdf.n_chars > cut]
    assert sorted(got2.doc_id) == sorted(exp2.doc_id)


def test_rename_partition_source_column(spark, tmp_path, docs_pdf):
    """Renaming a partition-spec source column keeps partition pruning
    (spec fields reference the source by id, not name)."""
    root = str(tmp_path / "renpart")
    iceberg.create_table(root, pa.Schema.from_pandas(docs_pdf),
                         partition_by=[("lang", "identity")])
    iceberg.append_pandas(root, docs_pdf)
    iceberg.rename_column(root, "lang", "language")
    t = iceberg.load_table(root)
    plan = t.plan_files(filter=[("language", "=", "en")])
    assert plan.files_pruned_partition > 0
    got = t.read(spark, filter=[("language", "=", "en")]).toPandas()
    exp = docs_pdf[docs_pdf.lang == "en"]
    assert sorted(got.doc_id) == sorted(exp.doc_id)


def test_time_travel_uses_snapshot_schema(spark, tmp_path, docs_pdf):
    """Reads pinned to a pre-rename snapshot present the OLD column
    name (the snapshot's schema generation), current reads the new."""
    root = str(tmp_path / "ttschema")
    iceberg.create_table(root, pa.Schema.from_pandas(docs_pdf))
    iceberg.append_pandas(root, docs_pdf.iloc[:50], timestamp_ms=1000)
    iceberg.rename_column(root, "n_chars", "char_count")
    iceberg.append_pandas(root, docs_pdf.iloc[50:80].rename(
        columns={"n_chars": "char_count"}), timestamp_ms=2000)
    t = iceberg.load_table(root)
    old = t.read(spark, as_of_ms=1500)
    assert "n_chars" in old.columns and "char_count" not in old.columns
    assert old.count() == 50
    cur = t.read(spark)
    assert "char_count" in cur.columns and cur.count() == 80


def test_drop_then_readd_does_not_resurrect(spark, tmp_path, docs_pdf):
    """Dropping a column then re-adding the same name mints a FRESH
    field id: old files' values stay out (null), they are not
    silently rebound by name."""
    root = str(tmp_path / "dropadd")
    iceberg.create_table(root, pa.Schema.from_pandas(docs_pdf))
    iceberg.append_pandas(root, docs_pdf.iloc[:40], timestamp_ms=1000)
    iceberg.drop_column(root, "n_chars")
    t = iceberg.load_table(root)
    assert "n_chars" not in [f["name"] for f in t.schema_fields]
    got = t.read(spark).toPandas()
    assert "n_chars" not in got.columns and len(got) == 40
    t = iceberg.add_column(root, "n_chars", "long")
    new_id = next(f["id"] for f in t.schema_fields
                  if f["name"] == "n_chars")
    assert new_id == t.meta["last-column-id"]
    got2 = iceberg.load_table(root).read(spark).toPandas()
    assert got2.n_chars.isna().all()


def test_rename_drop_guards(tmp_path, docs_pdf):
    root = str(tmp_path / "guards")
    iceberg.create_table(root, pa.Schema.from_pandas(docs_pdf),
                         partition_by=[("lang", "identity")])
    iceberg.append_pandas(root, docs_pdf.iloc[:20])
    with pytest.raises(ValueError, match="already exists"):
        iceberg.rename_column(root, "n_chars", "lang")
    with pytest.raises(ValueError, match="unknown column"):
        iceberg.rename_column(root, "nope", "x")
    with pytest.raises(ValueError, match="partition spec"):
        iceberg.drop_column(root, "lang")
    # live equality delete referencing the column blocks its drop
    iceberg.upsert_pandas(root, docs_pdf.iloc[:2], ["doc_id"])
    with pytest.raises(ValueError, match="equality-delete"):
        iceberg.drop_column(root, "doc_id")
    # legacy table (files predate id embedding): refuse loudly
    import json as _json
    t = iceberg.load_table(root)
    meta = dict(t.meta)
    meta["properties"] = {k: v for k, v in meta["properties"].items()
                          if k != iceberg._FIELD_IDS_PROP}
    iceberg._write_metadata(root, meta, t.version + 1)
    with pytest.raises(ValueError, match="predates"):
        iceberg.rename_column(root, "n_chars", "nc")
    with pytest.raises(ValueError, match="predates"):
        iceberg.drop_column(root, "n_chars")


def test_equality_delete_across_rename(spark, tmp_path, docs_pdf):
    """An upsert's equality-delete file written BEFORE a key-column
    rename still retires old rows after it (delete keys resolve by
    field id too)."""
    root = str(tmp_path / "eqren")
    iceberg.create_table(root, pa.Schema.from_pandas(docs_pdf))
    iceberg.append_pandas(root, docs_pdf.iloc[:30], timestamp_ms=1000)
    upd = docs_pdf.iloc[:10].copy()
    upd["n_chars"] = upd["n_chars"] + 7
    iceberg.upsert_pandas(root, upd, ["doc_id"], timestamp_ms=2000)
    iceberg.rename_column(root, "doc_id", "id")
    t = iceberg.load_table(root)
    got = t.read(spark).toPandas().sort_values("id")
    assert len(got) == 30
    exp = docs_pdf.iloc[:30].n_chars.reset_index(drop=True) \
        + pd.Series([7] * 10 + [0] * 20)
    assert list(got.n_chars) == list(exp)


def test_delete_where_after_rename(spark, tmp_path, docs_pdf):
    """delete_where's driver position scan resolves predicate columns
    by field id, so it works over files written pre-rename."""
    root = str(tmp_path / "delren")
    iceberg.create_table(root, pa.Schema.from_pandas(docs_pdf))
    iceberg.append_pandas(root, docs_pdf.iloc[:40], timestamp_ms=1000)
    iceberg.rename_column(root, "doc_id", "id")
    cut = int(docs_pdf.doc_id.iloc[10])
    iceberg.delete_where(root, [("id", "<", cut)], timestamp_ms=2000)
    t = iceberg.load_table(root)
    got = t.read(spark).toPandas()
    exp = docs_pdf.iloc[:40]
    exp = exp[exp.doc_id >= cut]
    assert sorted(got.id) == sorted(exp.doc_id)
    with pytest.raises(ValueError, match="unknown filter column"):
        iceberg.delete_where(root, [("doc_id", "<", cut)])


# ------------------------------------------- maintenance: expire / gc

def test_expire_snapshots(spark, tmp_path, docs_pdf):
    """Expiry trims history + snapshot-log, deletes files reachable
    only from expired snapshots (old manifest lists, compacted-away
    manifests), keeps the current read intact, and records the
    expired-seq watermark."""
    root = str(tmp_path / "expire")
    iceberg.create_table(root, pa.Schema.from_pandas(docs_pdf),
                         properties={
                             "commit.manifest.min-count-to-merge": "2"})
    for i in range(3):
        iceberg.append_pandas(root, docs_pdf.iloc[30 * i:30 * (i + 1)],
                              timestamp_ms=1000 * (i + 1))
    t = iceberg.load_table(root)
    assert len(t.meta["snapshots"]) == 3
    before = t.read(spark).toPandas()
    listing_before = {p for p in os.listdir(os.path.join(root, "metadata"))
                      if p.endswith(".avro")}

    res = iceberg.expire_snapshots(root, retain_last=1)
    assert res["expired_snapshots"] == 2 and res["deleted_files"] >= 2
    t = iceberg.load_table(root)
    assert len(t.meta["snapshots"]) == 1
    assert len(t.meta["snapshot-log"]) == 1
    assert int(t.meta["properties"]["quickwit.expired-up-to-seq"]) == 2
    after = t.read(spark).toPandas()
    assert sorted(after.doc_id) == sorted(before.doc_id)
    # time travel to the expired range now resolves to no snapshot
    assert t.snapshot(as_of_ms=1500) is None
    with pytest.raises(ValueError, match="unknown snapshot"):
        t.snapshot(snapshot_id=12345)
    listing_after = {p for p in os.listdir(os.path.join(root, "metadata"))
                     if p.endswith(".avro")}
    assert listing_after < listing_before
    # idempotent / nothing further to expire
    assert iceberg.expire_snapshots(root, retain_last=1) == {
        "expired_snapshots": 0, "deleted_files": 0}


def test_expire_snapshots_then_ingest_lineage(spark, tmp_path):
    """ingest_iceberg's lineage check accepts a checkpoint whose
    snapshot was legitimately expired (watermark), but still refuses a
    genuinely replaced table (fresh metadata has no watermark)."""
    from quickwit_spark.config import IndexConfig
    from quickwit_spark.index.corpus import corpus_pandas
    from quickwit_spark.sources.iceberg_ingest import ingest_iceberg

    pdf = corpus_pandas(120, seed=11)
    root = str(tmp_path / "expinc")
    iceberg.create_table(root, pa.Schema.from_pandas(pdf))
    iceberg.append_pandas(root, pdf.iloc[:60], timestamp_ms=1000)
    cfg = IndexConfig(index_uid="expinc",
                      index_dir=str(tmp_path / "expidx"))
    r1 = ingest_iceberg(spark, root, cfg, partitions_per_ingest=2)
    assert r1["status"] == "published"
    iceberg.append_pandas(root, pdf.iloc[60:], timestamp_ms=2000)
    iceberg.expire_snapshots(root, retain_last=1)
    r2 = ingest_iceberg(spark, root, cfg, partitions_per_ingest=2)
    assert r2["status"] == "published" and r2["docs"] == 60


def test_remove_orphan_files(tmp_path, docs_pdf):
    root = str(tmp_path / "orphans")
    iceberg.create_table(root, pa.Schema.from_pandas(docs_pdf))
    t = iceberg.append_pandas(root, docs_pdf.iloc[:30])
    live = {os.path.abspath(f["file_path"])
            for f in t.plan_files().files}
    stray_data = os.path.join(root, "data", "stray.parquet")
    docs_pdf.iloc[:3].to_parquet(stray_data)
    stray_meta = os.path.join(root, "metadata", "stray-manifest.avro")
    with open(stray_meta, "wb") as f:
        f.write(b"not really avro")
    dry = iceberg.remove_orphan_files(root, dry_run=True)
    assert {os.path.abspath(p) for p in dry} == {
        os.path.abspath(stray_data), os.path.abspath(stray_meta)}
    assert os.path.exists(stray_data)       # dry run deleted nothing
    removed = iceberg.remove_orphan_files(root)
    assert sorted(removed) == sorted(dry)
    assert not os.path.exists(stray_data)
    assert not os.path.exists(stray_meta)
    for p in live:
        assert os.path.exists(p)
    # metadata json / hint survive; table still reads
    t2 = iceberg.load_table(root)
    assert sum(f["record_count"] for f in t2.plan_files().files) == 30
    # mtime guard: a fresh stray with older_than in the past is kept
    docs_pdf.iloc[:3].to_parquet(stray_data)
    kept = iceberg.remove_orphan_files(root, older_than_ms=1)
    assert kept == [] and os.path.exists(stray_data)


def test_metadata_tables(spark, tmp_path, docs_pdf):
    """The commit metadata behind Iceberg's `$snapshots` / `$manifests`
    / `$files` views, read straight from the table: snapshot lineage,
    the manifest list's content types and the live files' records."""
    root = str(tmp_path / "metatbl")
    iceberg.create_table(root, pa.Schema.from_pandas(docs_pdf),
                         partition_by=[("lang", "identity")])
    iceberg.append_pandas(root, docs_pdf.iloc[:40], timestamp_ms=1000)
    iceberg.append_pandas(root, docs_pdf.iloc[40:70], timestamp_ms=2000)
    iceberg.delete_where(root, [("doc_id", "<",
                                 int(docs_pdf.doc_id.iloc[5]))])
    t = iceberg.load_table(root)
    snaps = t.meta["snapshots"]
    assert [s["summary"]["operation"] for s in snaps] == \
        ["append", "append", "delete"]
    assert snaps[-1]["snapshot-id"] == t.meta["current-snapshot-id"]
    assert snaps[0].get("parent-snapshot-id") is None
    assert [s.get("parent-snapshot-id") for s in snaps[1:]] == \
        [s["snapshot-id"] for s in snaps[:-1]]
    _, mfs = avro_ocf.read_ocf(t.snapshot()["manifest-list"])
    assert sum(m.get("content") == 1 for m in mfs) == 1  # one delete
    plan = t.plan_files()
    assert len(plan.delete_files) == 1
    assert sum(f["record_count"] for f in plan.files) == 70
    # every data file carries its identity partition value
    assert all((f.get("partition") or {}).get("lang")
               for f in plan.files)


# --------------------------------------- maintenance: rewrite (compact)

def test_rewrite_data_files_folds_deletes(spark, tmp_path, docs_pdf):
    """Compaction folds position+equality deletes into rewritten data
    files: the read is unchanged, delete manifests are gone, untouched
    files are carried (not rewritten), and a fully-deleted file
    disappears."""
    root = str(tmp_path / "rw")
    iceberg.create_table(root, pa.Schema.from_pandas(docs_pdf),
                         partition_by=[("lang", "identity")])
    iceberg.append_pandas(root, docs_pdf.iloc[:60], timestamp_ms=1000)
    cut = int(docs_pdf.doc_id.iloc[10])
    iceberg.delete_where(root, [("doc_id", "<", cut)],
                         timestamp_ms=2000)
    upd = docs_pdf.iloc[20:30].copy()
    upd["n_chars"] = upd["n_chars"] + 5
    iceberg.upsert_pandas(root, upd, ["doc_id"], timestamp_ms=3000)
    # one language fully deleted -> its file must vanish entirely
    gone_lang = docs_pdf.iloc[:60].lang.iloc[0]
    iceberg.delete_where(root, [("lang", "=", gone_lang)],
                         timestamp_ms=4000)
    t = iceberg.load_table(root)
    before = t.read(spark).toPandas().sort_values("doc_id")
    n_files_before = len(t.plan_files().files)
    assert t.plan_files().delete_files      # debt exists

    res = iceberg.rewrite_data_files(root, timestamp_ms=5000)
    assert res["dropped_delete_files"] >= 3
    assert res["rewritten_files"] > 0
    assert res["rows_removed"] > 0
    t = iceberg.load_table(root)
    plan = t.plan_files()
    assert plan.delete_files == []          # debt folded in
    assert len(plan.files) < n_files_before + 10  # upsert files carried
    after = t.read(spark).toPandas().sort_values("doc_id")
    assert list(after.doc_id) == list(before.doc_id)
    assert list(after.n_chars) == list(before.n_chars)
    assert gone_lang not in set(after.lang)
    # record counts in the manifest match the surviving rows
    assert sum(f["record_count"] for f in plan.files) == len(after)
    # no-op on a clean table
    assert iceberg.rewrite_data_files(root)["rewritten_files"] == 0
    # full lifecycle: expiring the pre-rewrite history makes the
    # replaced data files and the consumed delete files unreachable —
    # they are physically removed, and the current read is unchanged
    res2 = iceberg.expire_snapshots(root, retain_last=1)
    assert res2["expired_snapshots"] >= 3
    assert any(p.endswith(".parquet") for p in res2["deleted_paths"])
    t = iceberg.load_table(root)
    final = t.read(spark).toPandas().sort_values("doc_id")
    assert list(final.doc_id) == list(before.doc_id)


def test_rewrite_preserves_sequence_for_ingest_and_future_deletes(
        spark, tmp_path):
    """Rewritten entries keep their DATA sequence numbers: an
    incremental consumer checkpointed past them sees no delta, and an
    equality delete committed AFTER the rewrite still retires them."""
    from quickwit_spark.config import IndexConfig
    from quickwit_spark.index.corpus import corpus_pandas
    from quickwit_spark.sources.iceberg_ingest import ingest_iceberg

    pdf = corpus_pandas(100, seed=13)
    root = str(tmp_path / "rwseq")
    iceberg.create_table(root, pa.Schema.from_pandas(pdf))
    iceberg.append_pandas(root, pdf.iloc[:80], timestamp_ms=1000)
    cfg = IndexConfig(index_uid="rwseq",
                      index_dir=str(tmp_path / "rwidx"))
    assert ingest_iceberg(spark, root, cfg)["status"] == "published"

    iceberg.delete_where(
        root, [("path", "=", str(pdf.path.iloc[0]))], timestamp_ms=2000)
    res = iceberg.rewrite_data_files(root, timestamp_ms=3000)
    assert res["rewritten_files"] == 1
    # ingest after rewrite: the table sequence advanced (delete +
    # rewrite commits), so the position moves — but the rewritten
    # file's PRESERVED data sequence is at/below the checkpoint, so
    # ZERO files/docs are (re-)ingested
    r = ingest_iceberg(spark, root, cfg)
    assert r["status"] == "published" and r["files"] == 0 \
        and r["docs"] == 0
    assert ingest_iceberg(spark, root, cfg)["status"] == "up-to-date"

    # a FUTURE upsert still governs rewritten rows (their preserved
    # data sequence stays strictly smaller)
    upd = pdf.iloc[1:3].copy()
    upd["content"] = upd["content"] + " updated"
    iceberg.upsert_pandas(root, upd, ["path"], timestamp_ms=4000)
    t = iceberg.load_table(root)
    got = t.read(spark).toPandas()
    assert len(got) == 79                  # 80 - 1 deleted
    assert (got.content.str.endswith(" updated").sum()) == 2
    assert got.path.is_unique


# ------------------------------------ partition spec evolution

def test_update_partition_spec_plans_per_manifest(spark, tmp_path,
                                                  docs_pdf):
    """After a spec change, old manifests prune under their OWN spec
    and new manifests under the new one; reads see all rows."""
    root = str(tmp_path / "specev")
    iceberg.create_table(root, pa.Schema.from_pandas(docs_pdf),
                         partition_by=[("lang", "identity")])
    iceberg.append_pandas(root, docs_pdf.iloc[:60], timestamp_ms=1000)
    t = iceberg.update_partition_spec(
        root, [("lang", "identity"), ("doc_id", "bucket[4]")])
    assert t.meta["default-spec-id"] == 1
    # reused field keeps its id; the new one gets a fresh id
    pf = {f["name"]: f["field-id"] for f in t.spec_fields}
    assert pf["lang"] == 1000 and pf["doc_id_bucket"] == 1001
    iceberg.append_pandas(root, docs_pdf.iloc[60:120],
                          timestamp_ms=2000)

    t = iceberg.load_table(root)
    got = t.read(spark).toPandas()
    assert sorted(got.doc_id) == sorted(docs_pdf.iloc[:120].doc_id)
    # lang pruning spans BOTH spec generations
    plan = t.plan_files(filter=[("lang", "=", "en")])
    assert plan.files_pruned_partition > 0
    got_en = t.read(spark, filter=[("lang", "=", "en")]).toPandas()
    exp_en = docs_pdf.iloc[:120]
    exp_en = exp_en[exp_en.lang == "en"]
    assert sorted(got_en.doc_id) == sorted(exp_en.doc_id)
    # bucket pruning applies only to new-spec files; old files survive
    # on bounds/partition conservatively and results stay exact
    some_id = int(docs_pdf.doc_id.iloc[70])
    got_one = t.read(spark,
                     filter=[("doc_id", "=", some_id)]).toPandas()
    assert list(got_one.doc_id) == [some_id]
    # distributed planner agrees with the local one
    dist = {r["file_path"] for r in
            t.plan_files_spark(spark,
                               filter=[("lang", "=", "en")]).collect()}
    local = set(t.plan_files(filter=[("lang", "=", "en")]).paths)
    assert dist == local


def test_update_partition_spec_guards(tmp_path, docs_pdf):
    root = str(tmp_path / "specgd")
    iceberg.create_table(root, pa.Schema.from_pandas(docs_pdf))
    with pytest.raises(ValueError, match="unknown partition column"):
        iceberg.update_partition_spec(root, [("nope", "identity")])
    with pytest.raises(ValueError, match="duplicate partition field"):
        iceberg.update_partition_spec(
            root, [("lang", "identity"), ("lang", "identity")])
    with pytest.raises(ValueError, match="unsupported transform"):
        iceberg.update_partition_spec(root, [("lang", "month")])


def test_rewrite_migrates_partition_layout(spark, tmp_path, docs_pdf):
    """rewrite_data_files re-partitions old-spec files into the
    current default layout: afterwards every live file is
    current-spec, reads are unchanged, and the new layout prunes."""
    root = str(tmp_path / "specrw")
    iceberg.create_table(root, pa.Schema.from_pandas(docs_pdf))
    iceberg.append_pandas(root, docs_pdf.iloc[:80], timestamp_ms=1000)
    iceberg.update_partition_spec(root, [("lang", "identity")])
    t = iceberg.load_table(root)
    before = t.read(spark).toPandas()
    assert {f["_spec_id"] for f in t.plan_files().files} == {0}

    res = iceberg.rewrite_data_files(root, timestamp_ms=2000)
    assert res["rewritten_files"] == 1      # the one old-spec file
    t = iceberg.load_table(root)
    plan = t.plan_files()
    assert {f["_spec_id"] for f in plan.files} == {1}
    assert len(plan.files) == docs_pdf.iloc[:80].lang.nunique()
    after = t.read(spark).toPandas()
    assert sorted(after.doc_id) == sorted(before.doc_id)
    # the migrated layout actually prunes on lang now
    plan2 = t.plan_files(filter=[("lang", "=", "en")])
    assert plan2.files_pruned_partition > 0
    # and is now a no-op
    assert iceberg.rewrite_data_files(root)["rewritten_files"] == 0


def test_compaction_skips_old_spec_manifests(tmp_path, docs_pdf):
    """Manifest compaction merges only default-spec manifests; an
    old-spec manifest is carried verbatim, never folded into a
    manifest whose partition struct can't encode its entries."""
    root = str(tmp_path / "speccp")
    iceberg.create_table(root, pa.Schema.from_pandas(docs_pdf),
                         partition_by=[("lang", "identity")],
                         properties={
                             "commit.manifest.min-count-to-merge": "2"})
    iceberg.append_pandas(root, docs_pdf.iloc[:20], timestamp_ms=1000)
    iceberg.update_partition_spec(root, [("doc_id", "bucket[2]")])
    for i in range(3):
        iceberg.append_pandas(
            root, docs_pdf.iloc[20 + 20 * i:40 + 20 * i],
            timestamp_ms=2000 + i)
    t = iceberg.load_table(root)
    snap = t.snapshot()
    _, manifests = avro_ocf.read_ocf(snap["manifest-list"])
    by_spec = {}
    for m in manifests:
        by_spec.setdefault(m["partition_spec_id"], 0)
        by_spec[m["partition_spec_id"]] += 1
    assert by_spec[0] == 1                 # old-spec carried verbatim
    assert by_spec[1] < 3                  # new-spec smalls merged
    got = pd.concat([pd.read_parquet(p)
                     for p in t.plan_files().paths])
    assert sorted(got.doc_id) == sorted(docs_pdf.iloc[:80].doc_id)


def test_rewrite_never_overwrites_live_paths(spark, tmp_path, docs_pdf):
    """A rewritten file whose surviving rows equal the original's must
    get a FRESH path: pq.write_table is not atomic, so an in-place
    overwrite torn by a crash would corrupt a file the pre-rewrite
    (still current) snapshot references."""
    root = str(tmp_path / "rwsafe")
    iceberg.create_table(root, pa.Schema.from_pandas(docs_pdf))
    iceberg.append_pandas(root, docs_pdf.iloc[:30], timestamp_ms=1000)
    # equality delete matching NO rows: the file is "touched" (its seq
    # is smaller) but every row survives
    ghost = docs_pdf.iloc[:1].copy()
    ghost["doc_id"] = -999
    iceberg.upsert_pandas(root, ghost, ["doc_id"], timestamp_ms=2000)
    t = iceberg.load_table(root)
    rewritable = {f["file_path"] for f in t.plan_files().files
                  if f["_seq"] == 1}       # governed by the eq delete
    assert len(rewritable) == 1
    res = iceberg.rewrite_data_files(root, timestamp_ms=3000)
    # the upsert's own file (same seq as the delete) is carried
    assert res["rewritten_files"] == 1 and res["rows_removed"] == 0
    t = iceberg.load_table(root)
    after = t.plan_files()
    # identical surviving rows, yet a FRESH path — never an in-place
    # overwrite of the file the pre-rewrite snapshot references
    assert not (set(after.paths) & rewritable)
    got = t.read(spark).toPandas()
    assert sorted(got.doc_id) == sorted(
        list(docs_pdf.iloc[:30].doc_id) + [-999])


# ---------------------------------------------------------------------------
# sync_iceberg: CDC delete/upsert propagation into the index
# ---------------------------------------------------------------------------


def _wnum(i: int) -> str:
    """Digit-free token suffix so markers survive any tokenizer."""
    return "".join(chr(97 + int(c)) for c in str(i))


def _sync_row(i: int, ver: str) -> dict:
    return {"repo": "r0" if i % 2 else "r1", "path": f"src/f{i}.py",
            "commit": "c1", "lang": "python",
            "content": f"{ver}{_wnum(i)} shared corpus body text"}


def _sync_cfg(tmp_path, name):
    from quickwit_spark.config import IndexConfig
    return IndexConfig(index_uid=name, index_dir=str(tmp_path / name),
                       sha_col=None)


def test_sync_iceberg_propagates_upserts_and_deletes(spark, tmp_path):
    """CDC sync: an upserted document's old version is retired from the
    index and its new version indexed; a delete_where'd row (position
    delete against an already-indexed file) is retired outright."""
    import pandas as pd

    from quickwit_spark.search import ast as A
    from quickwit_spark.search.engine import IndexSearcher
    from quickwit_spark.sources.iceberg_ingest import sync_iceberg

    pdf = pd.DataFrame([_sync_row(i, "old") for i in range(30)])
    root = str(tmp_path / "sync_src")
    iceberg.create_table(root, pa.Schema.from_pandas(pdf))
    iceberg.append_pandas(root, pdf, timestamp_ms=1000)
    cfg = _sync_cfg(tmp_path, "sync1")

    r1 = sync_iceberg(spark, root, cfg, partitions_per_ingest=4)
    assert r1["status"] == "published" and r1["docs"] == 30
    assert r1["docs_retired"] == 0

    # upsert two docs (equality deletes keyed on path) + hard-delete one
    upd = pd.DataFrame([_sync_row(i, "new") for i in (3, 7)])
    iceberg.upsert_pandas(root, upd, ["path"], timestamp_ms=2000)
    iceberg.delete_where(root, [("path", "=", "src/f11.py")],
                         timestamp_ms=3000)

    r2 = sync_iceberg(spark, root, cfg, partitions_per_ingest=4)
    assert r2["status"] == "published"
    assert r2["docs_retired"] == 3          # f3-old, f7-old, f11
    assert r2["docs"] == 2                  # f3-new, f7-new
    assert r2["eq_delete_files"] == 1 and r2["pos_delete_files"] == 1

    s = IndexSearcher(cfg.index_dir)
    assert s.search(A.MatchAll(), k=1, fetch_fields=False).num_hits == 29
    # old versions gone, new versions searchable
    assert s.search(A.Term("content", f"old{_wnum(3)}"), k=5,
                    fetch_fields=False).num_hits == 0
    assert s.search(A.Term("content", f"new{_wnum(3)}"), k=5,
                    fetch_fields=False).num_hits == 1
    assert s.search(A.Term("path", "src/f11.py"), k=5,
                    fetch_fields=False).num_hits == 0
    # untouched docs still served
    assert s.search(A.Term("content", f"old{_wnum(4)}"), k=5,
                    fetch_fields=False).num_hits == 1

    # index state matches a MoR read of the table exactly
    assert sorted(r.path for r in
                  iceberg.load_table(root).read(spark)
                  .select("path").collect()) == sorted(
        h.doc["path"] for h in s.search(
            A.MatchAll(), k=50, fetch_fields=True).hits)

    r3 = sync_iceberg(spark, root, cfg)
    assert r3["status"] == "up-to-date"


def test_sync_iceberg_intra_delta_upsert_chain(spark, tmp_path):
    """Two upserts of the same key inside one delta: only the newest
    version is indexed (the older delta row is suppressed by the
    strictly-smaller-sequence rule before it ever reaches the index)."""
    import pandas as pd

    from quickwit_spark.search import ast as A
    from quickwit_spark.search.engine import IndexSearcher
    from quickwit_spark.sources.iceberg_ingest import sync_iceberg

    pdf = pd.DataFrame([_sync_row(i, "vone") for i in range(10)])
    root = str(tmp_path / "chain_src")
    iceberg.create_table(root, pa.Schema.from_pandas(pdf))
    iceberg.append_pandas(root, pdf, timestamp_ms=1000)
    cfg = _sync_cfg(tmp_path, "sync2")
    assert sync_iceberg(spark, root, cfg)["docs"] == 10

    iceberg.upsert_pandas(root, pd.DataFrame([_sync_row(2, "vtwo")]),
                          ["path"], timestamp_ms=2000)
    iceberg.upsert_pandas(root, pd.DataFrame([_sync_row(2, "vthree")]),
                          ["path"], timestamp_ms=3000)
    r = sync_iceberg(spark, root, cfg)
    assert r["docs_retired"] == 1           # the indexed vone doc
    assert r["docs"] == 1                   # ONLY vthree
    s = IndexSearcher(cfg.index_dir)
    assert s.search(A.MatchAll(), k=1, fetch_fields=False).num_hits == 10
    for ver, want in (("vone", 0), ("vtwo", 0), ("vthree", 1)):
        assert s.search(A.Term("content", f"{ver}{_wnum(2)}"), k=5,
                        fetch_fields=False).num_hits == want, ver


def test_sync_iceberg_delta_internal_position_delete(spark, tmp_path):
    """A row upserted and then delete_where'd inside the same delta
    vanishes end-to-end: the indexed old version retires, the delta
    version is suppressed before indexing."""
    import pandas as pd

    from quickwit_spark.search import ast as A
    from quickwit_spark.search.engine import IndexSearcher
    from quickwit_spark.sources.iceberg_ingest import sync_iceberg

    pdf = pd.DataFrame([_sync_row(i, "vone") for i in range(8)])
    root = str(tmp_path / "dip_src")
    iceberg.create_table(root, pa.Schema.from_pandas(pdf))
    iceberg.append_pandas(root, pdf, timestamp_ms=1000)
    cfg = _sync_cfg(tmp_path, "sync3")
    sync_iceberg(spark, root, cfg)

    iceberg.upsert_pandas(root, pd.DataFrame([_sync_row(1, "vtwo")]),
                          ["path"], timestamp_ms=2000)
    iceberg.delete_where(root, [("path", "=", "src/f1.py")],
                         timestamp_ms=3000)
    r = sync_iceberg(spark, root, cfg)
    assert r["docs"] == 0
    s = IndexSearcher(cfg.index_dir)
    assert s.search(A.MatchAll(), k=1, fetch_fields=False).num_hits == 7
    assert s.search(A.Term("path", "src/f1.py"), k=5,
                    fetch_fields=False).num_hits == 0


def test_sync_iceberg_null_delete_key_refused(spark, tmp_path):
    """A delete row with a null key cannot be retired by term match —
    refuse loudly instead of leaving a stale document."""
    import pandas as pd

    from quickwit_spark.sources.iceberg_ingest import sync_iceberg

    pdf = pd.DataFrame([_sync_row(i, "vone") for i in range(4)])
    pdf.loc[1, "path"] = None
    root = str(tmp_path / "null_src")
    iceberg.create_table(root, pa.Schema.from_pandas(pdf))
    iceberg.append_pandas(root, pdf, timestamp_ms=1000)
    cfg = _sync_cfg(tmp_path, "sync4")
    sync_iceberg(spark, root, cfg)
    # upsert with a null key value -> its equality delete row is null
    iceberg.upsert_pandas(root, pdf.iloc[[1]], ["path"],
                          timestamp_ms=2000)
    with pytest.raises(ValueError, match="null key"):
        sync_iceberg(spark, root, cfg)


def test_sync_iceberg_refuses_after_deletes_folded_by_rewrite(
        spark, tmp_path):
    """rewrite_data_files drops delete manifests while preserving data
    sequence numbers, so deletes committed after the checkpoint but
    compacted before the sync are unobservable as a delta — the
    watermark must make sync refuse, never silently skip them."""
    import pandas as pd

    from quickwit_spark.index.manifest import CheckpointConflict
    from quickwit_spark.sources.iceberg_ingest import sync_iceberg

    pdf = pd.DataFrame([_sync_row(i, "vone") for i in range(6)])
    root = str(tmp_path / "fold_src")
    iceberg.create_table(root, pa.Schema.from_pandas(pdf))
    iceberg.append_pandas(root, pdf, timestamp_ms=1000)
    cfg = _sync_cfg(tmp_path, "sync5")
    sync_iceberg(spark, root, cfg)

    iceberg.delete_where(root, [("path", "=", "src/f2.py")],
                         timestamp_ms=2000)
    r = iceberg.rewrite_data_files(root, timestamp_ms=3000)
    assert r["dropped_delete_files"] == 1
    with pytest.raises(CheckpointConflict, match="compacted delete"):
        sync_iceberg(spark, root, cfg)
    # a FRESH index over the compacted table is fine (rewritten files
    # already exclude the deleted row)
    cfg2 = _sync_cfg(tmp_path, "sync5b")
    r2 = sync_iceberg(spark, root, cfg2)
    assert r2["docs"] == 5


def test_sync_iceberg_refuses_nonunique_position_delete_key(
        spark, tmp_path):
    """A position delete removes ONE row; if another already-indexed
    row shares the key, retiring by key would drop the survivor — the
    duplicate check must refuse."""
    import pandas as pd

    from quickwit_spark.sources.iceberg_ingest import sync_iceberg

    rows = [_sync_row(i, "vone") for i in range(4)]
    dup = dict(rows[1])
    dup["content"] = "duplicatekey other content"  # same repo/path/commit
    pdf = pd.DataFrame(rows + [dup])
    root = str(tmp_path / "dup_src")
    iceberg.create_table(root, pa.Schema.from_pandas(pdf))
    iceberg.append_pandas(root, pdf, timestamp_ms=1000)
    cfg = _sync_cfg(tmp_path, "sync6")
    sync_iceberg(spark, root, cfg)

    iceberg.delete_where(root, [("content", "=", dup["content"])],
                         timestamp_ms=2000)
    with pytest.raises(ValueError, match="not unique"):
        sync_iceberg(spark, root, cfg)


def test_sync_iceberg_first_sync_tolerates_null_keyed_history(
        spark, tmp_path):
    """On a FIRST sync nothing is indexed, so the retirement pass is
    skipped entirely — a null-keyed upsert in the table history is
    handled by the MoR read's eqNullSafe, not refused."""
    import pandas as pd

    from quickwit_spark.sources.iceberg_ingest import sync_iceberg

    pdf = pd.DataFrame([_sync_row(i, "vone") for i in range(4)])
    pdf.loc[1, "path"] = None
    root = str(tmp_path / "nullhist_src")
    iceberg.create_table(root, pa.Schema.from_pandas(pdf))
    iceberg.append_pandas(root, pdf, timestamp_ms=1000)
    iceberg.upsert_pandas(root, pdf.iloc[[1]], ["path"],
                          timestamp_ms=2000)
    cfg = _sync_cfg(tmp_path, "sync7")
    r = sync_iceberg(spark, root, cfg)
    # MoR read: the null-keyed v1 row is eq-deleted, its upsert survives
    assert r["status"] == "published"
    assert r["docs"] == iceberg.load_table(root).read(spark).count()


def test_sync_iceberg_refuses_on_full_built_index(spark, tmp_path):
    """A sync over an index populated by a FULL build (segments, no
    iceberg checkpoint) would re-index the whole table next to the
    existing copies — refuse."""
    import pandas as pd

    from quickwit_spark.index.builder import build_index
    from quickwit_spark.index.manifest import CheckpointConflict
    from quickwit_spark.sources.iceberg_ingest import sync_iceberg

    pdf = pd.DataFrame([_sync_row(i, "vone") for i in range(6)])
    root = str(tmp_path / "fb_src")
    iceberg.create_table(root, pa.Schema.from_pandas(pdf))
    t = iceberg.append_pandas(root, pdf, timestamp_ms=1000)
    cfg = _sync_cfg(tmp_path, "sync8")
    build_index(spark, t.read(spark), cfg)  # full build, no checkpoint
    with pytest.raises(CheckpointConflict, match="duplicate every"):
        sync_iceberg(spark, root, cfg)


def test_sync_iceberg_pinned_before_rewrite_is_sound(spark, tmp_path):
    """A fold only blinds syncs whose planned snapshot includes the
    rewrite: pinned to the pre-rewrite snapshot, the delete manifests
    are still visible and the sync retires exactly; the CURRENT
    snapshot refuses."""
    import pandas as pd

    from quickwit_spark.index.manifest import CheckpointConflict
    from quickwit_spark.search import ast as A
    from quickwit_spark.search.engine import IndexSearcher
    from quickwit_spark.sources.iceberg_ingest import sync_iceberg

    pdf = pd.DataFrame([_sync_row(i, "vone") for i in range(6)])
    root = str(tmp_path / "pin_src")
    iceberg.create_table(root, pa.Schema.from_pandas(pdf))
    iceberg.append_pandas(root, pdf, timestamp_ms=1000)
    cfg = _sync_cfg(tmp_path, "sync9")
    sync_iceberg(spark, root, cfg)

    t = iceberg.delete_where(root, [("path", "=", "src/f2.py")],
                             timestamp_ms=2000)
    snap_del = t.meta["current-snapshot-id"]
    iceberg.rewrite_data_files(root, timestamp_ms=3000)

    r = sync_iceberg(spark, root, cfg, snapshot_id=snap_del)
    assert r["docs_retired"] == 1 and r["status"] == "published"
    s = IndexSearcher(cfg.index_dir)
    assert s.search(A.MatchAll(), k=1, fetch_fields=False).num_hits == 5
    # the checkpoint now sits AT the delete; the rewrite snapshot has
    # nothing left to consume from it -> next current sync is clean
    r2 = sync_iceberg(spark, root, cfg)
    assert r2["status"] == "published" and r2["docs_retired"] == 0
    assert s.search(A.MatchAll(), k=1, fetch_fields=False).num_hits == 5

    # but a SECOND index whose checkpoint predates the fold refuses on
    # the current snapshot
    cfg2 = _sync_cfg(tmp_path, "sync9b")
    # replay history: index snapshot 1 only
    first_snap = iceberg.load_table(root).meta["snapshots"][0][
        "snapshot-id"]
    sync_iceberg(spark, root, cfg2, snapshot_id=first_snap)
    with pytest.raises(CheckpointConflict, match="compacted delete"):
        sync_iceberg(spark, root, cfg2)


def test_sync_iceberg_float_key_duplicate_detected(spark, tmp_path):
    """The uniqueness probe compares keys in one canonical space: a
    double key whose duplicate comes back from Spark as 7.0 must still
    clash with the delete-side Int64 7."""
    import pandas as pd

    from quickwit_spark.sources.iceberg_ingest import sync_iceberg

    pdf = pd.DataFrame([_sync_row(i, "vone") for i in range(4)])
    pdf["val"] = [1.0, 7.0, 7.0, 3.0]  # doubles; rows 1 and 2 collide
    root = str(tmp_path / "fk_src")
    iceberg.create_table(root, pa.Schema.from_pandas(pdf))
    iceberg.append_pandas(root, pdf, timestamp_ms=1000)
    cfg = _sync_cfg(tmp_path, "sync10")
    sync_iceberg(spark, root, cfg)
    iceberg.delete_where(root, [("path", "=", "src/f1.py")],
                         timestamp_ms=2000)
    with pytest.raises(ValueError, match="not unique"):
        sync_iceberg(spark, root, cfg, key_cols=["val"])


@pytest.mark.parametrize("seed", [11, 23, 47])
def test_sync_iceberg_randomized_cdc_equivalence(spark, tmp_path, seed):
    """Property: after ANY sequence of appends / upserts / deletes /
    compactions (compaction only when the index is caught up) with
    syncs interleaved, the index equals a merge-on-read scan of the
    table, row for row. Each row's `commit` column carries its version,
    so a stale old version, a missed delete, or a lost survivor all
    show up in the (path, commit) comparison."""
    import random

    import pandas as pd

    from quickwit_spark.search import ast as A
    from quickwit_spark.search.engine import IndexSearcher
    from quickwit_spark.sources.iceberg_ingest import sync_iceberg

    rng = random.Random(seed)

    def row(i, ver):
        return {"repo": "r", "path": f"p{i}.py", "commit": f"v{ver}",
                "lang": "py", "content": f"ver{_wnum(ver)} doc {_wnum(i)}"}

    next_id = 8
    pdf = pd.DataFrame([row(i, 0) for i in range(next_id)])
    root = str(tmp_path / f"rand_src_{seed}")
    iceberg.create_table(root, pa.Schema.from_pandas(pdf))
    iceberg.append_pandas(root, pdf, timestamp_ms=1000)
    cfg = _sync_cfg(tmp_path, f"rand_{seed}")
    sync_iceberg(spark, root, cfg, partitions_per_ingest=2)

    live = {f"p{i}.py" for i in range(next_id)}
    ver = 0
    ts = 2000
    caught_up = True
    for _step in range(10):
        op = rng.choice(["append", "upsert", "delete", "sync",
                         "compact"])
        ts += 1000
        if op == "append":
            new = [row(next_id + j, 0) for j in range(rng.randint(1, 3))]
            live |= {r["path"] for r in new}
            next_id += len(new)
            iceberg.append_pandas(root, pd.DataFrame(new),
                                  timestamp_ms=ts)
            caught_up = False
        elif op == "upsert" and live:
            ver += 1
            picks = rng.sample(sorted(live),
                               k=min(len(live), rng.randint(1, 3)))
            upd = pd.DataFrame(
                [row(int(p[1:-3]), ver) for p in picks])
            iceberg.upsert_pandas(root, upd, ["path"], timestamp_ms=ts)
            caught_up = False
        elif op == "delete" and live:
            victim = rng.choice(sorted(live))
            live.discard(victim)
            iceberg.delete_where(root, [("path", "=", victim)],
                                 timestamp_ms=ts)
            caught_up = False
        elif op == "compact":
            if not caught_up:
                # fold-blind protection is tested elsewhere; here we
                # only compact when the index consumed every delete
                continue
            iceberg.rewrite_data_files(root, timestamp_ms=ts)
        else:
            sync_iceberg(spark, root, cfg, partitions_per_ingest=2)
            caught_up = True
    sync_iceberg(spark, root, cfg, partitions_per_ingest=2)

    table_state = sorted(
        (r.path, r.commit) for r in iceberg.load_table(root)
        .read(spark).select("path", "commit").collect())
    s = IndexSearcher(cfg.index_dir)
    k = s.count("*") + 10
    index_state = sorted(
        (h.doc["path"], h.doc["commit"]) for h in
        s.search(A.MatchAll(), k=k, fetch_fields=True).hits)
    assert index_state == table_state
    assert {p for p, _v in index_state} == live


def test_sync_iceberg_stale_checkpoint_race_is_replay(spark, tmp_path,
                                                      monkeypatch):
    """A racing duplicate sync that read the checkpoint before the
    winner's publish re-runs retirement (idempotent: nothing left to
    match) and rebuilds the same content-addressed segments, resolving
    as a benign replay with the index state unchanged."""
    import pandas as pd

    from quickwit_spark.index.manifest import Manifest
    from quickwit_spark.search import ast as A
    from quickwit_spark.search.engine import IndexSearcher
    from quickwit_spark.sources.iceberg_ingest import sync_iceberg

    pdf = pd.DataFrame([_sync_row(i, "vone") for i in range(8)])
    root = str(tmp_path / "race_src")
    iceberg.create_table(root, pa.Schema.from_pandas(pdf))
    iceberg.append_pandas(root, pdf, timestamp_ms=1000)
    cfg = _sync_cfg(tmp_path, "sync_race")
    sync_iceberg(spark, root, cfg)
    key = [k for k in Manifest.load(cfg.index_dir).data["checkpoints"]
           if k.startswith("iceberg:")][0]
    pos_before = Manifest.load(cfg.index_dir).checkpoint(key)

    iceberg.upsert_pandas(root, pd.DataFrame([_sync_row(2, "vtwo")]),
                          ["path"], timestamp_ms=2000)
    r1 = sync_iceberg(spark, root, cfg)
    assert r1["status"] == "published" and r1["docs_retired"] == 1

    real_ckpt = Manifest.checkpoint
    served = []

    def stale_once(self, pid):
        if str(pid).startswith("iceberg:") and not served:
            served.append(1)
            return pos_before
        return real_ckpt(self, pid)

    monkeypatch.setattr(Manifest, "checkpoint", stale_once)
    r2 = sync_iceberg(spark, root, cfg)
    monkeypatch.undo()
    assert r2["status"] == "replayed"
    assert r2["docs_retired"] == 0  # retirement idempotent: all gone
    s = IndexSearcher(cfg.index_dir)
    assert s.search(A.MatchAll(), k=1, fetch_fields=False).num_hits == 8
    assert s.search(A.Term("content", f"vtwo{_wnum(2)}"), k=3,
                    fetch_fields=False).num_hits == 1


def test_sync_iceberg_race_with_merge_keeps_new_docs(spark, tmp_path,
                                                     monkeypatch):
    """Hardest race shape: the winner publishes the delta, a MERGE then
    folds the new segments into a merged segment (partition_id -1), and
    only then does a stale-checkpoint duplicate retry retirement. The
    merged segment carries max_src_pid = its newest ancestor's epoch,
    keeping the just-published rows OUT of the stale retry's retirement
    scope."""
    import pandas as pd

    from quickwit_spark.index.manifest import Manifest
    from quickwit_spark.index.merge import run_merges
    from quickwit_spark.search import ast as A
    from quickwit_spark.search.engine import IndexSearcher
    from quickwit_spark.sources.iceberg_ingest import sync_iceberg

    pdf = pd.DataFrame([_sync_row(i, "vone") for i in range(12)])
    root = str(tmp_path / "rm_src")
    iceberg.create_table(root, pa.Schema.from_pandas(pdf))
    iceberg.append_pandas(root, pdf, timestamp_ms=1000)
    cfg = _sync_cfg(tmp_path, "sync_rm")
    sync_iceberg(spark, root, cfg, partitions_per_ingest=3)
    key = [k for k in Manifest.load(cfg.index_dir).data["checkpoints"]
           if k.startswith("iceberg:")][0]
    pos_before = Manifest.load(cfg.index_dir).checkpoint(key)

    iceberg.upsert_pandas(root, pd.DataFrame([_sync_row(4, "vtwo")]),
                          ["path"], timestamp_ms=2000)
    r1 = sync_iceberg(spark, root, cfg, partitions_per_ingest=3)
    assert r1["docs_retired"] == 1
    # the merge folds the delta's new segment in with old ones
    from quickwit_spark.config import MergePolicyConfig
    from quickwit_spark.index.merge_policy import StableLogMergePolicy
    run_merges(cfg.index_dir, spark=spark,
               policy=StableLogMergePolicy(
                   MergePolicyConfig(merge_factor=2,
                                     min_level_num_docs=1)))

    real_ckpt = Manifest.checkpoint
    served = []

    def stale_once(self, pid):
        if str(pid).startswith("iceberg:") and not served:
            served.append(1)
            return pos_before
        return real_ckpt(self, pid)

    monkeypatch.setattr(Manifest, "checkpoint", stale_once)
    r2 = sync_iceberg(spark, root, cfg, partitions_per_ingest=3)
    monkeypatch.undo()
    assert r2["status"] == "replayed" and r2["docs_retired"] == 0
    s = IndexSearcher(cfg.index_dir)
    assert s.search(A.MatchAll(), k=1, fetch_fields=False).num_hits == 12
    assert s.search(A.Term("content", f"vtwo{_wnum(4)}"), k=3,
                    fetch_fields=False).num_hits == 1


def test_sync_iceberg_refuses_retirement_on_mixed_source_index(
        spark, tmp_path):
    """Streaming batches share the 1M partition-id stride with iceberg
    sequence numbers, so epoch-scoped retirement on a MIXED index would
    silently skip already-consumed streaming segments — refuse."""
    import pandas as pd

    from quickwit_spark.index.manifest import CheckpointConflict
    from quickwit_spark.sources.iceberg_ingest import sync_iceberg
    from quickwit_spark.streaming.incremental import ingest_batch

    pdf = pd.DataFrame([_sync_row(i, "vone") for i in range(6)])
    root = str(tmp_path / "mix_src")
    iceberg.create_table(root, pa.Schema.from_pandas(pdf))
    iceberg.append_pandas(root, pdf, timestamp_ms=1000)
    cfg = _sync_cfg(tmp_path, "sync_mix")
    sync_iceberg(spark, root, cfg)
    # a streaming micro-batch lands in the same index
    extra = pd.DataFrame([_sync_row(i, "vone") for i in range(50, 53)])
    ingest_batch(spark.createDataFrame(extra), cfg, batch_id=7)
    # pure appends still sync fine (no retirement involved)
    iceberg.append_pandas(
        root, pd.DataFrame([_sync_row(i, "vone") for i in (30, 31)]),
        timestamp_ms=2000)
    assert sync_iceberg(spark, root, cfg)["status"] == "published"
    # a CDC delete now requires retirement -> refuse on the mixed index
    iceberg.upsert_pandas(root, pd.DataFrame([_sync_row(2, "vtwo")]),
                          ["path"], timestamp_ms=3000)
    with pytest.raises(CheckpointConflict, match="non-iceberg"):
        sync_iceberg(spark, root, cfg)


# ------------------------------------------------- review-pass regressions

def test_data_file_names_hash_full_content(tmp_path):
    """Two pre-lock writers at the same sequence with equal row count
    and FIRST row but different remaining rows must land on distinct
    paths — the second must not clobber the first (the delete/upsert
    paths already content-hash for this race)."""
    pdf = pd.DataFrame({"k": [1, 2], "v": ["same-first", "b"]})
    root = str(tmp_path / "t")
    iceberg.create_table(root, pa.Schema.from_pandas(pdf))
    from quickwit_spark.sources.iceberg import _write_data_file
    t = iceberg.load_table(root)
    f1 = _write_data_file(pdf, root, 1, {}, t.schema_fields)
    pdf2 = pdf.copy()
    pdf2.loc[1, "v"] = "DIFFERENT"
    f2 = _write_data_file(pdf2, root, 1, {}, t.schema_fields)
    assert f1["file_path"] != f2["file_path"]
    assert sorted(pd.read_parquet(f1["file_path"])["v"]) == \
        ["b", "same-first"]
    assert "DIFFERENT" in set(pd.read_parquet(f2["file_path"])["v"])


def test_upsert_in_batch_duplicate_key_last_wins(spark, tmp_path):
    """Rows sharing a key WITHIN one upsert batch: only the last
    version becomes live (CDC batch order), not two live rows."""
    pdf = pd.DataFrame({"k": [1, 2], "v": ["a", "x"]})
    root = str(tmp_path / "t")
    iceberg.create_table(root, pa.Schema.from_pandas(pdf))
    iceberg.append_pandas(root, pdf, timestamp_ms=1000)
    up = pd.DataFrame({"k": [1, 1], "v": ["mid", "final"]})
    iceberg.upsert_pandas(root, up, ["k"], timestamp_ms=2000)
    rows = {(r.k, r.v) for r in
            iceberg.load_table(root).read(spark).collect()}
    assert rows == {(1, "final"), (2, "x")}


def test_empty_append_writes_no_zero_row_file(spark, tmp_path):
    """An append matching no rows on an UNPARTITIONED table must not
    commit a zero-row data file — read() would later fail planned-file
    reconciliation once any delete file exists."""
    pdf = pd.DataFrame({"k": [1, 2, 3], "v": ["a", "b", "c"]})
    root = str(tmp_path / "t")
    iceberg.create_table(root, pa.Schema.from_pandas(pdf))
    iceberg.append_pandas(root, pdf, timestamp_ms=1000)
    iceberg.append_pandas(root, pdf.iloc[0:0], timestamp_ms=2000)
    t = iceberg.load_table(root)
    assert all(f["record_count"] > 0 for f in t.plan_files().files)
    iceberg.delete_where(root, [("k", "=", 2)], timestamp_ms=3000)
    got = sorted(r.k for r in
                 iceberg.load_table(root).read(spark).collect())
    assert got == [1, 3]


def test_delete_where_skips_equality_dead_rows(spark, tmp_path):
    """delete_where matching only rows an equality delete already
    killed must be a no-op commit-wise — emitting position deletes for
    dead rows later wedges a CDC sync on a perfectly consistent
    table."""
    pdf = pd.DataFrame({"k": [1, 2], "status": ["old", "keep"]})
    root = str(tmp_path / "t")
    iceberg.create_table(root, pa.Schema.from_pandas(pdf))
    iceberg.append_pandas(root, pdf, timestamp_ms=1000)
    # upsert k=1: v1 (status old) eq-dead, v2 (status new) live
    iceberg.upsert_pandas(root, pd.DataFrame({"k": [1],
                                              "status": ["new"]}),
                          ["k"], timestamp_ms=2000)
    snaps_before = len(iceberg.load_table(root).meta["snapshots"])
    t = iceberg.delete_where(root, [("status", "=", "old")],
                             timestamp_ms=3000)
    # only the dead v1 row matched: nothing to delete, no commit
    assert len(t.meta["snapshots"]) == snaps_before
    rows = {(r.k, r.status) for r in t.read(spark).collect()}
    assert rows == {(1, "new"), (2, "keep")}


def test_delete_where_eq_dead_then_sync_not_wedged(spark, tmp_path):
    """The full wedge scenario from the review: upsert (eq delete) ->
    delete_where matching only the dead old version -> sync. The sync
    must neither refuse nor retire the live new version."""
    from quickwit_spark.search import ast as A
    from quickwit_spark.search.engine import IndexSearcher
    from quickwit_spark.sources.iceberg_ingest import sync_iceberg

    pdf = pd.DataFrame([_sync_row(i, "old") for i in range(8)])
    root = str(tmp_path / "src")
    iceberg.create_table(root, pa.Schema.from_pandas(pdf))
    iceberg.append_pandas(root, pdf, timestamp_ms=1000)
    cfg = _sync_cfg(tmp_path, "nowedge")
    assert sync_iceberg(spark, root, cfg)["docs"] == 8
    iceberg.upsert_pandas(
        root, pd.DataFrame([_sync_row(3, "new")]), ["path"],
        timestamp_ms=2000)
    # matches ONLY the dead old version of f3 (content differs)
    iceberg.delete_where(
        root, [("content", "=", _sync_row(3, "old")["content"])],
        timestamp_ms=3000)
    r = sync_iceberg(spark, root, cfg)
    assert r["status"] == "published"
    s = IndexSearcher(cfg.index_dir)
    assert s.search(A.Term("path", "src/f3.py"), k=5,
                    fetch_fields=False).num_hits == 1
    assert s.search(A.Term("content", f"new{_wnum(3)}"), k=5,
                    fetch_fields=False).num_hits == 1


def test_sync_probe_typed_keys_catch_duplicates(spark, tmp_path):
    """Dtype-inference regression: a double key column whose delete
    set keeps Float64 ({7.0, 8.5}) while the probe side would intify
    ({7.0} -> 7) used to canonicalize differently, silently missing
    the surviving duplicate. The typed join must refuse."""
    from quickwit_spark.config import IndexConfig
    from quickwit_spark.sources.iceberg_ingest import sync_iceberg

    pdf = pd.DataFrame({"k": [7.0, 7.0, 8.5],
                        "v": ["a", "b", "c"],
                        "content": ["w aa", "w bb", "w cc"]})
    root = str(tmp_path / "src")
    iceberg.create_table(root, pa.Schema.from_pandas(pdf))
    iceberg.append_pandas(root, pdf, timestamp_ms=1000)
    cfg = IndexConfig(index_uid="typed", key_cols=("k", "v"),
                      index_dir=str(tmp_path / "typed"),
                      tag_cols=(), sha_col=None)
    assert sync_iceberg(spark, root, cfg, key_cols=["k"])["docs"] == 3
    # position-delete one k=7.0 row AND the 8.5 row: the delete key
    # set is {7.0, 8.5}; a surviving k=7.0 duplicate remains
    iceberg.delete_where(root, [("v", "in", ["a", "c"])],
                         timestamp_ms=2000)
    with pytest.raises(ValueError, match="not unique"):
        sync_iceberg(spark, root, cfg, key_cols=["k"])


def test_ingest_then_sync_refused_when_deletes_were_skipped(
        spark, tmp_path):
    """ingest_iceberg consumes appends-only; once it has skipped
    delete manifests (adel marker), switching to sync_iceberg must be
    a loud refusal — those deletions are below the checkpoint and can
    never be retired."""
    from quickwit_spark.index.manifest import CheckpointConflict
    from quickwit_spark.sources.iceberg_ingest import (ingest_iceberg,
                                                       sync_iceberg)

    pdf = pd.DataFrame([_sync_row(i, "old") for i in range(6)])
    root = str(tmp_path / "src")
    iceberg.create_table(root, pa.Schema.from_pandas(pdf))
    iceberg.append_pandas(root, pdf, timestamp_ms=1000)
    cfg = _sync_cfg(tmp_path, "modeswitch")
    assert ingest_iceberg(spark, root, cfg)["docs"] == 6
    iceberg.upsert_pandas(
        root, pd.DataFrame([_sync_row(2, "new")]), ["path"],
        timestamp_ms=2000)
    r = ingest_iceberg(spark, root, cfg)
    assert r["source_deletes_ignored"] == 1
    with pytest.raises(CheckpointConflict, match="appends-only"):
        sync_iceberg(spark, root, cfg)


def test_ingest_refuses_full_built_index(spark, tmp_path):
    """Same guard sync has: ingest over an index with segments but no
    iceberg checkpoint would silently double every document."""
    from quickwit_spark.index.builder import build_index_pandas
    from quickwit_spark.index.manifest import CheckpointConflict
    from quickwit_spark.sources.iceberg_ingest import ingest_iceberg

    pdf = pd.DataFrame([_sync_row(i, "old") for i in range(6)])
    root = str(tmp_path / "src")
    iceberg.create_table(root, pa.Schema.from_pandas(pdf))
    iceberg.append_pandas(root, pdf, timestamp_ms=1000)
    cfg = _sync_cfg(tmp_path, "fullbuilt")
    build_index_pandas(pdf, cfg, num_partitions=2)
    with pytest.raises(CheckpointConflict, match="duplicate every"):
        ingest_iceberg(spark, root, cfg)
    # explicit opt-out for genuinely multi-source indexes
    r = ingest_iceberg(spark, root, cfg, allow_existing_index=True)
    assert r["status"] == "published"


def test_sync_binary_key_requires_bytes_field_type(spark, tmp_path):
    """Binary key columns either flow through the engine's base64
    bytes coercion (field_types) or are refused loudly — str(bytes)
    would silently retire nothing."""
    from quickwit_spark.config import IndexConfig
    from quickwit_spark.sources.iceberg_ingest import sync_iceberg

    pdf = pd.DataFrame({"bk": [b"\x01\x02", b"\x03\x04"],
                        "content": ["w aa", "w bb"]})
    root = str(tmp_path / "src")
    iceberg.create_table(root, pa.Schema.from_pandas(pdf))
    iceberg.append_pandas(root, pdf, timestamp_ms=1000)
    cfg = IndexConfig(index_uid="bink", key_cols=("bk",),
                      index_dir=str(tmp_path / "bink"),
                      tag_cols=(), sha_col=None)
    assert sync_iceberg(spark, root, cfg, key_cols=["bk"])["docs"] == 2
    iceberg.delete_where(root, [("content", "=", "w aa")],
                         timestamp_ms=2000)
    with pytest.raises(ValueError, match="field_types"):
        sync_iceberg(spark, root, cfg, key_cols=["bk"])
