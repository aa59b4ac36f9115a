"""Pipeline tests not covered by the DuckDB contract check: streaming
incremental ingest exactly-once, batch-id checkpoint replay (legacy
formats, collisions, replay after merge), the doc transform's error
accounting and global-layout fetch of zero hits."""

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
    from quickwit_spark.search import ast as A
    g = GlobalIndexSearcher(cfg.index_dir)
    res = g.search(A.Term("content", "zzznotaterm"), k=5, fetch_fields=True)
    assert res.num_hits == 0 and len(res.hits) == 0



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
