"""The Structured Streaming micro-batch source, `streaming.incremental`:
a remote source URI needs an explicit format, and a replayed legacy
batch with partitions the stored keys do not name is refused instead of
silently dropped."""


def test_stream_remote_uri_requires_explicit_fmt(spark, tmp_path):
    """Format sniffing is driver-local; a remote URI must demand an
    explicit fmt instead of silently defaulting to parquet."""
    import pytest as _pytest
    from quickwit_spark.config import IndexConfig
    from quickwit_spark.streaming.incremental import start_ingest_stream
    cfg = IndexConfig(index_uid="x", index_dir=str(tmp_path / "x"))
    with _pytest.raises(ValueError, match="fmt="):
        start_ingest_stream(spark, "s3://bucket/events/", cfg,
                            "repo string", str(tmp_path / "ckpt"))


def test_legacy_batch_with_extra_partitions_raises(spark, tmp_path):
    """Legacy replay check: delta partitions ABSENT from the stored
    legacy keys must fail the replay match (previously they defaulted
    to matching, silently dropping the whole batch's new docs)."""
    import pandas as pd
    import pytest as _pytest
    from quickwit_spark.config import IndexConfig
    from quickwit_spark.index.manifest import (CheckpointConflict,
                                               Manifest)
    from quickwit_spark.streaming.incremental import ingest_batch
    cfg = IndexConfig(index_uid="leg", sha_col=None, tag_cols=(),
                      index_dir=str(tmp_path / "leg"))
    m = Manifest.create(cfg.index_dir, "leg", cfg.manifest_config())
    # legacy run: bare-int keys for partitions 0..1 of batch 0
    m.publish([], checkpoint_delta={
        0: (None, "batch=0;docs=3"), 1: (None, "batch=0;docs=3")})
    pdf = pd.DataFrame([{"repo": "r", "path": f"p{i}", "commit": "c",
                         "content": f"w{i} body"} for i in range(12)])
    df = spark.createDataFrame(pdf)
    with _pytest.raises(CheckpointConflict, match="collides"):
        ingest_batch(df, cfg, batch_id=0, partitions_per_batch=4)
    # no new docs were silently committed
    assert Manifest.load(cfg.index_dir).segments() == []
