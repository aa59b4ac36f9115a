"""Manifest transactions and the ingest guarantees built on them:
conditional publish (concurrent publishers compose, stale handles
conflict), all-or-nothing checkpoint deltas, checkpoint reset by source,
the dead-segment guard, and content-addressed segment ids that make a
replayed build publish the same segments."""

import os

import pandas as pd
import pytest

from quickwit_spark.config import IndexConfig
from quickwit_spark.index.builder import build_partition
from quickwit_spark.index.manifest import CheckpointConflict, Manifest


def test_concurrent_publishers_compose(tmp_path):
    """Two manifest handles publishing interleaved must BOTH survive
    (conditional publish against a fresh on-disk read — last-writer-wins
    would drop the first publisher's segments and checkpoints)."""
    idx = str(tmp_path / "idx")
    m1 = Manifest.load_or_create(idx, "c", {})
    m2 = Manifest.load(idx)  # stale handle
    segA = {"segment_id": "seg-a", "num_docs": 1}
    segB = {"segment_id": "seg-b", "num_docs": 2}
    m1.publish([segA], checkpoint_delta={"k1": (None, "done")})
    m2.publish([segB], checkpoint_delta={"k2": (None, "done")})
    fresh = Manifest.load(idx)
    assert {s["segment_id"] for s in fresh.segments()} == {"seg-a", "seg-b"}
    assert fresh.checkpoint("k1") == "done"
    assert fresh.checkpoint("k2") == "done"


def test_stale_handle_conflict_detected(tmp_path):
    """A stale handle replaying an already-committed delta hits
    CheckpointConflict against the FRESH state, not its own stale view."""
    from quickwit_spark.index.manifest import CheckpointConflict
    idx = str(tmp_path / "idx")
    m1 = Manifest.load_or_create(idx, "c", {})
    m2 = Manifest.load(idx)
    m1.publish([], checkpoint_delta={"k": (None, "v1")})
    with pytest.raises(CheckpointConflict):
        m2.publish([], checkpoint_delta={"k": (None, "v1")})


def test_reset_checkpoints_stream_owns_legacy_int_keys(tmp_path):
    """reset_checkpoints('stream') must clear legacy bare-int keys
    with stream positions (the module's own ownership contract) —
    previously only the nuclear '_all' could."""
    from quickwit_spark.index.manifest import Manifest
    d = str(tmp_path / "ix")
    m = Manifest.create(d, "ix", {"text_col": "content"})
    m.publish([], checkpoint_delta={
        "0": (None, "batch=0;docs=6"),          # legacy stream
        "1": (None, "docs=10"),                 # builder-owned
        "stream-2": (None, "batch=1;docs=3"),   # namespaced stream
        "bulk-x": (None, "done")})
    removed = m.reset_checkpoints("stream")
    assert sorted(removed) == ["0", "stream-2"]
    left = Manifest.load(d).data["checkpoints"]
    assert set(left) == {"1", "bulk-x"}


def test_publish_refuses_resurrecting_dead_segment(tmp_path):
    """A stale retry re-publishing a since-retired segment id would
    serve every replaced doc twice; publish must refuse."""
    import pytest as _pytest
    from quickwit_spark.index.manifest import (CheckpointConflict,
                                               Manifest)
    d = str(tmp_path / "ix")
    m = Manifest.create(d, "ix", {"text_col": "content"})
    m.publish([{"segment_id": "seg-a", "num_docs": 3}])
    m.publish([{"segment_id": "seg-m1", "num_docs": 3}],
              replaced_segment_ids=["seg-a"])
    with _pytest.raises(CheckpointConflict, match="resurrect"):
        m.publish([{"segment_id": "seg-a", "num_docs": 3}])
    # replaying a PUBLISHED id stays allowed (idempotent overwrite)
    m.publish([{"segment_id": "seg-m1", "num_docs": 3}])


def test_checkpoint_delta_is_all_or_nothing(tmp_path):
    """A delta that replays one key and advances another is rejected
    whole: neither the advancing key nor the staged segments land."""
    idx = str(tmp_path / "idx")
    m = Manifest.load_or_create(idx, "c", {})
    m.publish([{"segment_id": "seg-a", "num_docs": 7}],
              checkpoint_delta={"src-0": (None, "2"), "src-1": (None, "3")})
    with pytest.raises(CheckpointConflict):
        m.publish([{"segment_id": "seg-b", "num_docs": 3}],
                  checkpoint_delta={"src-1": ("3", "5"),    # advance
                                    "src-0": (None, "2")})  # replay
    fresh = Manifest.load(idx)
    assert fresh.checkpoint("src-0") == "2"
    assert fresh.checkpoint("src-1") == "3"
    assert [s["segment_id"] for s in fresh.segments()] == ["seg-a"]
    # the correct continuation for both keys commits
    m.publish([{"segment_id": "seg-b", "num_docs": 3}],
              checkpoint_delta={"src-0": ("2", "5"), "src-1": ("3", "5")})
    fresh = Manifest.load(idx)
    assert (fresh.checkpoint("src-0"), fresh.checkpoint("src-1")) \
        == ("5", "5")
    assert {s["segment_id"] for s in fresh.segments()} == {"seg-a", "seg-b"}


def test_rebuilt_segments_are_content_addressed(tmp_path):
    """Building the same docs in two fresh indexes publishes the same
    segment ids, so a build replayed after a crash between publish and
    acknowledgement converges on the segments already published."""
    pdf = pd.DataFrame({
        "repo": ["r"] * 5, "path": [f"p{i}" for i in range(5)],
        "commit": ["c"] * 5, "lang": ["py"] * 5,
        "content": [f"doc number{i} common text" for i in range(5)],
        "_pid": [7] * 5})
    ids = []
    for sub in ("a", "b"):
        cfg = IndexConfig(index_uid="q", index_dir=str(tmp_path / sub),
                          key_cols=("repo", "path", "commit"),
                          tokenizer="default", tag_cols=(), sha_col=None)
        segments_root = os.path.join(cfg.index_dir, "segments")
        os.makedirs(segments_root)
        rows = build_partition(pdf, cfg, segments_root)
        Manifest.load_or_create(cfg.index_dir, cfg.index_uid,
                                cfg.manifest_config()).publish(rows)
        ids.append([s["segment_id"]
                    for s in Manifest.load(cfg.index_dir).segments()])
    assert ids[0] and ids[0] == ids[1]
