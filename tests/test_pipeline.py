"""Pipeline tests not covered by the DuckDB contract check: streaming
incremental ingest exactly-once, batch-id checkpoint replay (legacy
formats, collisions, replay after merge), the doc transform's error
accounting, global-layout fetch of zero hits, and the multimodal media
operators (sniffing, null/corrupt blobs, real-codec decode paths)."""

import os

import pandas as pd
import pytest

from quickwit_spark.config import IndexConfig
from quickwit_spark.index.corpus import corpus_df
from quickwit_spark.index.manifest import Manifest
from quickwit_spark.search.engine import IndexSearcher


def test_streaming_incremental_ingest(spark, tmp_path):
    from quickwit_spark.streaming.incremental import start_ingest_stream
    src = tmp_path / "stream_src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    cfg = IndexConfig(index_uid="stream",
                      index_dir=str(tmp_path / "stream_idx"))

    full = corpus_df(spark, 200, seed=42, num_partitions=2).toPandas()
    # two input files arriving over time
    full.iloc[:100].to_parquet(src / "part1.parquet", index=False)
    full.iloc[100:].to_parquet(src / "part2.parquet", index=False)

    schema = ("repo string, path string, commit string, lang string, "
              "content string, sha256 string")
    q = start_ingest_stream(spark, str(src), cfg, schema, ckpt,
                            partitions_per_batch=4)
    q.awaitTermination(120)

    m = Manifest.load(cfg.index_dir)
    assert sum(s["num_docs"] for s in m.segments()) == 200
    searcher = IndexSearcher(cfg.index_dir)
    assert searcher.count("*") == 200

    # restart the stream: no new data, no duplicate publishes
    q2 = start_ingest_stream(spark, str(src), cfg, schema, ckpt,
                             partitions_per_batch=4)
    q2.awaitTermination(60)
    m2 = Manifest.load(cfg.index_dir)
    assert sum(s["num_docs"] for s in m2.segments()) == 200



def test_batch_id_collision_not_swallowed(spark, tmp_path):
    """A batch-id collision that is NOT an exact replay (stream restarted
    with a fresh Spark checkpoint dir => batch ids restart over new data)
    must raise, not silently drop the batch; an exact replay stays
    idempotent."""
    from quickwit_spark.config import IndexConfig
    from quickwit_spark.index.manifest import CheckpointConflict
    from quickwit_spark.streaming.incremental import ingest_batch

    cfg = IndexConfig(index_uid="bc", index_dir=str(tmp_path / "bc"),
                      sha_col=None)

    def docs(tag, n):
        return spark.createDataFrame(pd.DataFrame({
            "repo": ["r"] * n, "path": [f"{tag}{i}" for i in range(n)],
            "commit": ["c"] * n, "lang": ["py"] * n,
            "content": [f"{tag} body {i}" for i in range(n)]}))

    ingest_batch(docs("a", 6), cfg, batch_id=0, partitions_per_batch=2)
    n0 = IndexSearcher(cfg.index_dir).count("*")
    assert n0 == 6
    # exact replay: no error, no new docs
    ingest_batch(docs("a", 6), cfg, batch_id=0, partitions_per_batch=2)
    assert IndexSearcher(cfg.index_dir).count("*") == 6
    # DIFFERENT data under the same batch id: must surface, not vanish
    with pytest.raises(CheckpointConflict):
        ingest_batch(docs("b", 6), cfg, batch_id=0,
                     partitions_per_batch=2)
    assert IndexSearcher(cfg.index_dir).count("*") == 6



def test_ingest_batch_legacy_integer_keys_replay(spark, tmp_path):
    """Indexes written before stream checkpoint keys were namespaced
    hold bare integer keys: a replay against them must stay idempotent
    (skip, no duplicate docs), and a batch-id collision over different
    data must still raise."""
    from quickwit_spark.config import IndexConfig
    from quickwit_spark.index.manifest import CheckpointConflict, Manifest
    from quickwit_spark.streaming.incremental import ingest_batch

    cfg = IndexConfig(index_uid="lk", index_dir=str(tmp_path / "lk"),
                      sha_col=None)

    def docs(tag, n):
        return spark.createDataFrame(pd.DataFrame({
            "repo": ["r"] * n, "path": [f"{tag}{i}" for i in range(n)],
            "commit": ["c"] * n, "lang": ["py"] * n,
            "content": [f"{tag} body {i}" for i in range(n)]}))

    ingest_batch(docs("a", 6), cfg, batch_id=0, partitions_per_batch=2)
    # rewrite the manifest to the LEGACY key format (bare integers)
    m = Manifest.load(cfg.index_dir)
    cps = m.data["checkpoints"]
    m.data["checkpoints"] = {k.split("-", 1)[1]: v for k, v in cps.items()}
    m.data["version"] += 1
    m._write()
    assert set(Manifest.load(cfg.index_dir).data["checkpoints"]) == \
        {"0", "1"}

    # exact replay against legacy keys: skipped, idempotent
    ingest_batch(docs("a", 6), cfg, batch_id=0, partitions_per_batch=2)
    assert IndexSearcher(cfg.index_dir).count("*") == 6
    # collision over different data: loud
    with pytest.raises(CheckpointConflict):
        ingest_batch(docs("b", 6), cfg, batch_id=0,
                     partitions_per_batch=2)
    assert IndexSearcher(cfg.index_dir).count("*") == 6



def test_transform_dropping_column_counts_as_error(spark):
    """A transform that drops a passthrough column must be counted as a
    transform error for the batch, not crash the job with KeyError."""
    from quickwit_spark.pipeline.transform import (
        DocProcessorCounters, process_docs)
    df = spark.createDataFrame(
        [("r", "p", "c", "py", "hello world", 1)],
        "repo string, path string, commit string, lang string, "
        "content string, extra int")
    counters = DocProcessorCounters(spark.sparkContext)
    out = process_docs(
        df, required={"content": "str"},
        transform=lambda pdf: pdf.drop(columns=["extra"]),
        counters=counters)
    assert out.count() == 0
    assert counters.transform_errors.value == 1



def test_global_fetch_zero_hits(spark, tmp_path):
    import pandas as pd
    import quickwit_spark as q
    from quickwit_spark.config import IndexConfig
    from quickwit_spark.index.global_index import (
        GlobalIndexSearcher, build_term_partitioned)
    pdf = pd.DataFrame({
        "repo": ["r"] * 2, "path": ["a", "b"], "commit": ["c"] * 2,
        "lang": ["py"] * 2, "content": ["alpha beta", "gamma"]})
    cfg = IndexConfig(index_uid="gz", index_dir=str(tmp_path / "gz"),
                      sha_col=None)
    q.build_index_pandas(pdf, cfg, num_partitions=1)
    build_term_partitioned(spark, cfg.index_dir, num_term_partitions=2)
    g = GlobalIndexSearcher(cfg.index_dir)
    n, res = g.search_terms(["zzznotaterm"], operator="or", k=5)
    assert n == 0 and len(res) == 0
    fetched = g.fetch(res)
    assert len(fetched) == 0



def test_replay_after_merge_is_benign(spark, tmp_path):
    """Replay of a batch whose segments were since merged away must be a
    no-op (the checkpoint position embeds the content-addressed segment
    ids, so position equality proves the replay without requiring the
    original segment rows to still exist)."""
    from quickwit_spark.config import IndexConfig
    from quickwit_spark.index.manifest import Manifest
    from quickwit_spark.index.merge import merge_segments
    from quickwit_spark.streaming.incremental import ingest_batch

    cfg = IndexConfig(index_uid="rm", index_dir=str(tmp_path / "rm"),
                      sha_col=None)

    def docs(tag, n):
        return spark.createDataFrame(pd.DataFrame({
            "repo": ["r"] * n, "path": [f"{tag}{i}" for i in range(n)],
            "commit": ["c"] * n, "lang": ["py"] * n,
            "content": [f"{tag} body {i}" for i in range(n)]}))

    ingest_batch(docs("a", 4), cfg, batch_id=0, partitions_per_batch=2)
    ingest_batch(docs("b", 4), cfg, batch_id=1, partitions_per_batch=2)
    m = Manifest.load(cfg.index_dir)
    segs = sorted(m.segments(), key=lambda x: x["segment_id"])
    meta = merge_segments(cfg.index_dir, segs)
    m.publish([meta],
              replaced_segment_ids=[x["segment_id"] for x in segs])
    m.vacuum()  # original batch segments are GONE from the manifest
    # exact replay of batch 0: benign no-op, count unchanged
    ingest_batch(docs("a", 4), cfg, batch_id=0, partitions_per_batch=2)
    assert IndexSearcher(cfg.index_dir).count("*") == 8



def test_replay_after_merge_cleans_orphan_dirs(spark, tmp_path):
    """The benign replay rewrites segment files before the publish is
    rejected; when the originals were merged/vacuumed away those dirs
    must be removed, not leaked."""
    from quickwit_spark.config import IndexConfig
    from quickwit_spark.index.manifest import Manifest
    from quickwit_spark.index.merge import merge_segments
    from quickwit_spark.streaming.incremental import ingest_batch

    cfg = IndexConfig(index_uid="rl", index_dir=str(tmp_path / "rl"),
                      sha_col=None)

    def docs(tag, n):
        return spark.createDataFrame(pd.DataFrame({
            "repo": ["r"] * n, "path": [f"{tag}{i}" for i in range(n)],
            "commit": ["c"] * n, "lang": ["py"] * n,
            "content": [f"{tag} body {i}" for i in range(n)]}))

    ingest_batch(docs("a", 4), cfg, batch_id=0, partitions_per_batch=2)
    ingest_batch(docs("b", 4), cfg, batch_id=1, partitions_per_batch=2)
    m = Manifest.load(cfg.index_dir)
    segs = sorted(m.segments(), key=lambda x: x["segment_id"])
    meta = merge_segments(cfg.index_dir, segs)
    m.publish([meta],
              replaced_segment_ids=[x["segment_id"] for x in segs])
    m.vacuum()
    seg_root = os.path.join(cfg.index_dir, "segments")
    assert len(os.listdir(seg_root)) == 1  # only the merged child
    ingest_batch(docs("a", 4), cfg, batch_id=0, partitions_per_batch=2)
    # replay was benign AND its rewritten dirs were swept
    assert len(os.listdir(seg_root)) == 1
    assert IndexSearcher(cfg.index_dir).count("*") == 8



def test_legacy_position_format_replay_accepted(spark, tmp_path):
    """Positions written before the ids= suffix must still be accepted
    as replays by their prefix (no crash-loop after an upgrade)."""
    from quickwit_spark.config import IndexConfig
    from quickwit_spark.index.manifest import Manifest
    from quickwit_spark.streaming.incremental import ingest_batch

    cfg = IndexConfig(index_uid="lg", index_dir=str(tmp_path / "lg"),
                      sha_col=None)
    df = spark.createDataFrame(pd.DataFrame({
        "repo": ["r"] * 4, "path": [f"f{i}" for i in range(4)],
        "commit": ["c"] * 4, "lang": ["py"] * 4,
        "content": [f"body {i}" for i in range(4)]}))
    ingest_batch(df, cfg, batch_id=0, partitions_per_batch=2)
    # rewrite the stored positions to the LEGACY (ids-less) format
    m = Manifest.load(cfg.index_dir)
    cps = m.data["checkpoints"]
    for k, v in list(cps.items()):
        cps[k] = str(v).rsplit(";ids=", 1)[0]
    m.data["version"] += 1
    m._write()
    # exact replay against legacy positions: benign
    ingest_batch(df, cfg, batch_id=0, partitions_per_batch=2)
    assert IndexSearcher(cfg.index_dir).count("*") == 4
    # the accepted replay UPGRADES the stored position to the strong
    # ids= format, so a later same-batch-id/same-doc-count collision
    # over different data can no longer match the weak prefix
    m2 = Manifest.load(cfg.index_dir)
    assert all(";ids=" in str(v) for v in m2.data["checkpoints"].values())
    df2 = spark.createDataFrame(pd.DataFrame({
        "repo": ["r"] * 4, "path": [f"g{i}" for i in range(4)],
        "commit": ["c"] * 4, "lang": ["py"] * 4,
        "content": [f"other {i}" for i in range(4)]}))
    with pytest.raises(Exception):
        ingest_batch(df2, cfg, batch_id=0, partitions_per_batch=2)



def test_transform_int64_rejects_lossy_values(spark):
    """int64 coercion quarantines non-integral ('1.7' silently became
    1), non-finite ('inf' crashed the task), and float-rounded
    magnitudes — they count as coercion_errors, not corrupt or crash."""
    import pandas as pd

    from quickwit_spark.pipeline.transform import process_docs

    df = spark.createDataFrame(pd.DataFrame({
        "doc_id": ["a", "b", "c", "d", "e"],
        "n": ["3", "1.7", "inf", "9007199254740993999", "12"]}))
    out = process_docs(df, required={"doc_id": "str", "n": "int64"}
                       ).toPandas().set_index("doc_id")
    # 'd' IS representable in int64: kept with the EXACT value (no
    # float64 round-trip), independent of which rows share its batch
    assert sorted(out.index) == ["a", "d", "e"]
    assert out.loc["a", "n"] == 3 and out.loc["e", "n"] == 12
    assert int(out.loc["d", "n"]) == 9007199254740993999



def test_stream_batch0_into_builder_bootstrapped_index(spark, tmp_path):
    """An index bootstrapped by build_index holds bare integer partition
    checkpoints 0..N-1 with 'docs=N' positions. Streaming batch 0 into it
    (base 0, overlapping int range) must NOT misread those as legacy
    STREAM checkpoints and raise CheckpointConflict forever — the
    namespaced 'stream-*' keys exist precisely so the two key spaces
    coexist."""
    from quickwit_spark.config import IndexConfig
    from quickwit_spark.index.builder import build_index
    from quickwit_spark.streaming.incremental import ingest_batch

    cfg = IndexConfig(index_uid="bb", index_dir=str(tmp_path / "bb"),
                      sha_col=None)

    def docs(tag, n):
        return spark.createDataFrame(pd.DataFrame({
            "repo": ["r"] * n, "path": [f"{tag}{i}" for i in range(n)],
            "commit": ["c"] * n, "lang": ["py"] * n,
            "content": [f"{tag} body {i}" for i in range(n)]}))

    build_index(spark, docs("base", 8), cfg, num_partitions=4)
    assert IndexSearcher(cfg.index_dir).count("*") == 8
    # first micro-batch over the same index: must publish, not conflict
    ingest_batch(docs("s", 5), cfg, batch_id=0, partitions_per_batch=2)
    assert IndexSearcher(cfg.index_dir).count("*") == 13
    # replay stays idempotent
    ingest_batch(docs("s", 5), cfg, batch_id=0, partitions_per_batch=2)
    assert IndexSearcher(cfg.index_dir).count("*") == 13



def test_legacy_preids_replay_upgraded_in_place(spark, tmp_path):
    """Legacy bare-int stream checkpoints in the PRE-ids format are
    accepted by weak prefix on replay — but must be upgraded in place,
    so a LATER batch-id collision with an equal doc count over different
    data raises instead of matching the weak prefix forever."""
    from quickwit_spark.config import IndexConfig
    from quickwit_spark.index.manifest import CheckpointConflict, Manifest
    from quickwit_spark.streaming.incremental import ingest_batch

    cfg = IndexConfig(index_uid="lu", index_dir=str(tmp_path / "lu"),
                      sha_col=None)

    def docs(tag, n):
        return spark.createDataFrame(pd.DataFrame({
            "repo": ["r"] * n, "path": [f"{tag}{i}" for i in range(n)],
            "commit": ["c"] * n, "lang": ["py"] * n,
            "content": [f"{tag} body {i}" for i in range(n)]}))

    ingest_batch(docs("a", 6), cfg, batch_id=0, partitions_per_batch=2)
    # rewrite to LEGACY keys (bare ints) in the PRE-ids position format
    m = Manifest.load(cfg.index_dir)
    cps = m.data["checkpoints"]
    m.data["checkpoints"] = {
        k.split("-", 1)[1]: v.rsplit(";ids=", 1)[0]
        for k, v in cps.items()}
    m.data["version"] += 1
    m._write()

    # exact replay: accepted by prefix AND upgraded in place
    ingest_batch(docs("a", 6), cfg, batch_id=0, partitions_per_batch=2)
    assert IndexSearcher(cfg.index_dir).count("*") == 6
    stored = Manifest.load(cfg.index_dir).data["checkpoints"]
    assert all(";ids=" in stored[k] for k in ("0", "1")), stored
    # same batch id + same doc count over DIFFERENT data: now loud
    with pytest.raises(CheckpointConflict):
        ingest_batch(docs("b", 6), cfg, batch_id=0,
                     partitions_per_batch=2)
    assert IndexSearcher(cfg.index_dir).count("*") == 6


def test_multimodal_stub_plumbing(spark):
    from quickwit_spark.pipeline.multimodal import (
        decode_image, extract_metadata, frame_sample, image_features,
        sniff_media_type)
    blobs = [
        (1, b"\x89PNG\r\n" + b"x" * 64),
        (2, b"\xff\xd8\xff\xe0" + b"y" * 64),
        (3, b"plain bytes " * 8),
    ]
    df = spark.createDataFrame(blobs, "id long, blob binary")
    meta = extract_metadata(df).toPandas().set_index("id")
    assert meta.loc[1, "sniffed_type"] == "image/png"
    assert meta.loc[2, "sniffed_type"] == "image/jpeg"
    assert meta.loc[3, "sniffed_type"] == "application/octet-stream"
    assert int(meta.loc[1, "n_bytes"]) == 70

    # corrupt blobs of real formats raise MediaDecodeError; video
    # blobs are not decodable images; fake path is deterministic
    from quickwit_spark.pipeline.multimodal import MediaDecodeError
    with pytest.raises(MediaDecodeError):
        decode_image(b"GIF89a\x01\x00\x01\x00")  # truncated GIF
    with pytest.raises(MediaDecodeError):
        decode_image(b"\x89PNG")  # truncated signature
    with pytest.raises(MediaDecodeError):
        decode_image(b"\xff\xd8\xff\xe0")  # truncated JPEG
    with pytest.raises(MediaDecodeError, match="not a decodable image"):
        decode_image(b"\x00\x00\x00\x18ftypisom")  # MP4 video
    a = decode_image(b"\x89PNGabc", fake=True)
    b = decode_image(b"\x89PNGabc", fake=True)
    assert (a == b).all() and a.shape == (4, 4, 3)

    feats = image_features(df).toPandas()
    assert len(feats) == 3
    assert all(len(f) == 3 for f in feats["feature"])

    frames = frame_sample(df, every_n=2).toPandas()
    assert (frames.groupby("id").size() > 0).all()
    assert sniff_media_type(b"RIFFxxxx") == "audio/wav"


def test_resize_images_stub(spark):
    import pandas as pd
    from quickwit_spark.pipeline.multimodal import resize_images
    df = spark.createDataFrame(
        pd.DataFrame({"id": [1, 2], "blob": [b"\x89PNGxxxx", b"RIFFdata"]}))
    out = resize_images(df, width=2, height=3).toPandas()
    assert set(out["id"]) == {1, 2}
    assert all(len(b) == 2 * 3 * 3 for b in out["blob"])  # HxWx3 uint8
    assert (out["width"] == 2).all() and (out["height"] == 3).all()


def test_multimodal_null_blobs_and_string_ids(spark):
    """Null blobs (MEDIA_SCHEMA allows them) null-propagate through
    image_features/resize_images and yield no frames in frame_sample,
    instead of bytes(None) killing the job; output schemas carry the id
    column's REAL name and type, not a hardcoded 'id long'."""
    from quickwit_spark.pipeline.multimodal import (
        frame_sample, image_features, resize_images)

    rows = [("m-1", b"x" * 64), ("m-2", None)]
    df = spark.createDataFrame(rows, "media_id string, blob binary")
    feats = image_features(df, id_col="media_id").toPandas() \
        .set_index("media_id")
    assert len(feats.loc["m-1", "feature"]) == 3
    assert feats.loc["m-2", "feature"] is None
    rz = resize_images(df, 2, 2, id_col="media_id").toPandas() \
        .set_index("media_id")
    assert rz.loc["m-2", "blob"] is None and rz.loc["m-1", "blob"]
    fr = frame_sample(df, id_col="media_id").toPandas()
    assert set(fr["media_id"]) == {"m-1"}


def test_multimodal_real_codecs_spark_path(spark):
    """Real PNG/WAV/Y4M decode through the mapInPandas operators:
    stats must equal the closed-form numpy values, undecodable blobs
    take the decode_error contract instead of failing the batch."""
    import numpy as np
    from quickwit_spark.pipeline import media_codecs as mc
    from quickwit_spark.pipeline.multimodal import (
        audio_stats, extract_metadata, image_stats, resize_images,
        y4m_frame_stats)

    def px(i):
        y, x, c = np.meshgrid(np.arange(6), np.arange(8), np.arange(3),
                              indexing="ij")
        return ((i * 7 + y * 5 + x * 3 + c * 11) % 256).astype(np.uint8)

    from quickwit_spark.pipeline.jpeg_codec import encode_jpeg
    flat = (70 * np.ones((16, 16, 3))).astype(np.uint8)
    rows = [(1, mc.encode_png(px(1), filter_type="cycle")),
            (2, mc.encode_png(px(2))),
            (3, b"\x00\x00\x00\x18ftypisom"),     # video, not an image
            (4, None),
            (5, encode_jpeg(flat, quality=90)),   # real JPEG
            (6, mc.encode_gif(px(6) % 8 * 32))]   # real GIF, lossless
    df = spark.createDataFrame(rows, "id long, blob binary")
    st = image_stats(df).toPandas().set_index("id")
    for i in (1, 2):
        assert (int(st.loc[i, "px_sum"]) == int(px(i).sum())
                and int(st.loc[i, "width"]) == 8
                and int(st.loc[i, "height"]) == 6)
    assert "not a decodable image" in st.loc[3, "decode_error"]
    assert st.loc[4, "decode_error"] == "null blob"
    # flat JPEG decodes near-exactly: DC-only blocks
    assert int(st.loc[5, "px_min"]) >= 69 and int(st.loc[5, "px_max"]) <= 71
    assert int(st.loc[6, "px_sum"]) == int((px(6) % 8 * 32).sum())

    meta = extract_metadata(df.filter("blob is not null")) \
        .toPandas().set_index("id")
    assert meta.loc[1, "sniffed_type"] == "image/png"
    assert meta.loc[3, "sniffed_type"] == "video/mp4"
    assert meta.loc[5, "sniffed_type"] == "image/jpeg"
    assert meta.loc[6, "sniffed_type"] == "image/gif"

    # resize through the real path re-encoded as PNG round-trips
    rz = resize_images(df.filter("id = 1"), 4, 3, fake=False,
                       method="bilinear", encode="png").toPandas()
    out = mc.decode_png(bytes(rz.iloc[0]["blob"]))
    assert out.shape == (3, 4, 3)
    assert (out == mc.resize_bilinear(px(1), 4, 3)).all()

    # WAV: 2-channel int16 closed form
    sm = (np.arange(400, dtype=np.int64) * 17 % 65536 - 32768) \
        .astype(np.int16).reshape(200, 2)
    adf = spark.createDataFrame(
        [(7, mc.encode_wav(sm, 8000)), (8, b"RIFFxxxxWAVE")],
        "id long, blob binary")
    au = audio_stats(adf).toPandas().set_index("id")
    assert (int(au.loc[7, "n_frames"]) == 200
            and int(au.loc[7, "n_channels"]) == 2
            and int(au.loc[7, "s_sum"]) == int(sm.astype(np.int64).sum())
            and int(au.loc[7, "sample_rate"]) == 8000)
    assert au.loc[8, "decode_error"]  # truncated RIFF

    # Y4M: 5 frames, every 2nd sampled -> frame_idx 0,2,4
    frames = [np.full((4, 4), 10 * k, dtype=np.uint8) for k in range(5)]
    vdf = spark.createDataFrame(
        [(9, mc.encode_y4m(frames, 4, 4))], "id long, blob binary")
    fr = y4m_frame_stats(vdf, every_n=2).toPandas()
    assert list(fr["frame_idx"]) == [0, 2, 4]
    assert list(fr["y_sum"]) == [0, 320, 640]


def test_multimodal_corrupt_blobs_null_propagate(spark):
    """One corrupt blob must not abort image_features/resize_images
    (fake=False) or leave partial frame rows in y4m_frame_stats."""
    import numpy as np
    from quickwit_spark.pipeline import media_codecs as mc
    from quickwit_spark.pipeline.multimodal import (
        image_features, resize_images, y4m_frame_stats)

    good = mc.encode_png(np.full((8, 8, 3), 50, np.uint8))
    rows = [(1, good), (2, b"\x89PNG truncated"), (3, b"\xff\xd8\xff")]
    df = spark.createDataFrame(rows, "id long, blob binary")
    feats = image_features(df, fake=False).toPandas().set_index("id")
    assert list(feats.loc[1, "feature"]) == [50.0, 50.0, 50.0]
    assert feats.loc[2, "feature"] is None
    assert feats.loc[3, "feature"] is None
    rz = resize_images(df, 2, 2, fake=False).toPandas().set_index("id")
    assert rz.loc[1, "blob"] and rz.loc[2, "blob"] is None

    frames = [np.full((4, 4), 7 * k, np.uint8) for k in range(4)]
    whole = mc.encode_y4m(frames, 4, 4)
    vdf = spark.createDataFrame(
        [(1, whole), (2, whole[:len(whole) - 20])],
        "id long, blob binary")
    fr = y4m_frame_stats(vdf).toPandas()
    assert set(fr["id"]) == {1}  # truncated stream: zero rows, not 3
    assert len(fr) == 4


def test_video_frame_stats_avi_and_y4m(spark):
    """video_frame_stats dispatches per blob: Y4M luma planes, AVI/MJPG
    decoded frames (grayscale = luma; RGB reduced with BT.601), zero
    rows for corrupt or non-video blobs."""
    import numpy as np
    from quickwit_spark.pipeline import media_codecs as mc
    from quickwit_spark.pipeline.avi_codec import encode_avi_mjpeg
    from quickwit_spark.pipeline.multimodal import video_frame_stats

    gray = [np.full((16, 16), 20 * k, np.uint8) for k in range(5)]
    avi = encode_avi_mjpeg(gray, quality=90)
    y4m = mc.encode_y4m([np.full((4, 4), 10 * k, np.uint8)
                         for k in range(5)], 4, 4)
    rgb = [np.full((16, 16, 3), [60, 120, 180], np.uint8)
           for _ in range(2)]
    avi_rgb = encode_avi_mjpeg(rgb, quality=95, subsampling="444")
    rows = [(1, avi), (2, y4m), (3, avi[:100]),    # truncated container
            (4, b"\x89PNG not a video"), (5, None),
            (6, avi_rgb)]
    df = spark.createDataFrame(rows, "id long, blob binary")
    fr = video_frame_stats(df, every_n=2).toPandas()

    assert set(fr["id"]) == {1, 2, 6}
    a = fr[fr["id"] == 1].sort_values("frame_idx")
    assert list(a["frame_idx"]) == [0, 2, 4]
    # flat gray AVI frames round-trip bit-exactly at q90
    assert list(a["y_sum"]) == [0, 40 * 256, 80 * 256]
    assert list(a["width"]) == [16, 16, 16]
    y = fr[fr["id"] == 2].sort_values("frame_idx")
    assert list(y["y_sum"]) == [0, 320, 640]
    r = fr[fr["id"] == 6]
    # BT.601 luma of (60,120,180) = 108.8 -> flat-block JPEG keeps it
    # within 1 LSB of the rounded value
    assert ((r["y_min"] >= 108) & (r["y_max"] <= 110)).all()


def test_frame_sample_real_avi_path(spark):
    """frame_sample hashes every n-th COMPRESSED AVI chunk (no decode);
    other blobs keep the 16-byte-window stub; corrupt AVI yields zero
    rows."""
    import hashlib
    import numpy as np
    from quickwit_spark.pipeline.avi_codec import (
        avi_frame_chunks, encode_avi_mjpeg)
    from quickwit_spark.pipeline.multimodal import frame_sample

    frames = [np.full((16, 16), 30 * k, np.uint8) for k in range(5)]
    avi = encode_avi_mjpeg(frames, quality=90)
    opaque = bytes(range(64))
    df = spark.createDataFrame(
        [(1, avi), (2, opaque), (3, avi[:80])], "id long, blob binary")
    fr = frame_sample(df, every_n=2).toPandas()

    a = fr[fr["id"] == 1].sort_values("frame_idx")
    assert list(a["frame_idx"]) == [0, 2, 4]
    want = {i: hashlib.sha256(p).hexdigest()[:16]
            for i, p in avi_frame_chunks(avi, every_n=2)}
    assert {int(i): h for i, h in zip(a["frame_idx"], a["frame_hash"])} \
        == want
    o = fr[fr["id"] == 2].sort_values("frame_idx")
    assert list(o["frame_idx"]) == [0, 2]  # 4 windows, every 2nd
    assert hashlib.sha256(opaque[:16]).hexdigest()[:16] \
        in set(o["frame_hash"])
    assert (fr["id"] != 3).all()


def test_audio_stats_flac_dispatch(spark):
    """audio_stats decodes FLAC blobs (lossless -> stats match the raw
    samples exactly) alongside WAV, with decode_error for corrupt
    streams."""
    import numpy as np
    from quickwit_spark.pipeline import media_codecs as mc
    from quickwit_spark.pipeline.flac_codec import encode_flac
    from quickwit_spark.pipeline.multimodal import (audio_stats,
                                                    extract_metadata)

    sm = (np.arange(600, dtype=np.int64) * 23 % 65536 - 32768) \
        .astype(np.int32).reshape(300, 2)
    flac = encode_flac(sm, 22050, stereo="mid_side")
    wav = mc.encode_wav(sm.astype(np.int16), 22050)
    df = spark.createDataFrame(
        [(1, flac), (2, wav), (3, flac[:40])], "id long, blob binary")

    meta = extract_metadata(df).toPandas().set_index("id")
    assert meta.loc[1, "sniffed_type"] == "audio/flac"
    assert meta.loc[2, "sniffed_type"] == "audio/wav"

    au = audio_stats(df).toPandas().set_index("id")
    for i in (1, 2):
        assert int(au.loc[i, "n_frames"]) == 300
        assert int(au.loc[i, "n_channels"]) == 2
        assert int(au.loc[i, "sample_rate"]) == 22050
        assert int(au.loc[i, "s_sum"]) == int(sm.astype(np.int64).sum())
        assert int(au.loc[i, "s_min"]) == int(sm.min())
        assert int(au.loc[i, "s_max"]) == int(sm.max())
    assert au.loc[3, "decode_error"]
