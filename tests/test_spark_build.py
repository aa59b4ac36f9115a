"""Distributed build + search via Spark: results must equal the local
(pandas) engine and the oracle; resume must skip published partitions."""

import json
import os

import numpy as np
import pytest

from quickwit_spark.config import IndexConfig
from quickwit_spark.index.builder import build_index
from quickwit_spark.index.corpus import corpus_df, corpus_pandas
from quickwit_spark.index.manifest import CheckpointConflict, Manifest
from quickwit_spark.search import ast as A
from quickwit_spark.search.engine import IndexSearcher

N_DOCS = 400


@pytest.fixture(scope="module")
def spark_index(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("sparkidx")
    cfg = IndexConfig(index_uid="sp", index_dir=str(tmp / "sp"))
    df = corpus_df(spark, N_DOCS, seed=42, num_partitions=8)
    manifest = build_index(spark, df, cfg, num_partitions=6)
    return cfg, manifest


def test_spark_build_and_search(spark, spark_index):
    cfg, manifest = spark_index
    assert sum(s["num_docs"] for s in manifest.segments()) == N_DOCS
    searcher_local = IndexSearcher(cfg.index_dir)
    searcher_spark = IndexSearcher(cfg.index_dir, spark=spark)
    for q in ["merge", "query score", "mergeBatch OR splitIndex",
              "lang:python merge"]:
        r1 = searcher_local.search(q, k=20, fetch_fields=False)
        r2 = searcher_spark.search(q, k=20, fetch_fields=False)
        assert r1.num_hits == r2.num_hits
        assert [(np.float32(h.score).item(), h.segment_id, h.doc_id)
                for h in r1.hits] == \
               [(np.float32(h.score).item(), h.segment_id, h.doc_id)
                for h in r2.hits], q


def test_spark_build_resume_is_noop(spark, spark_index):
    cfg, manifest = spark_index
    df = corpus_df(spark, N_DOCS, seed=42, num_partitions=8)
    before = json.dumps(Manifest.load(cfg.index_dir).data["segments"],
                        sort_keys=True)
    m2 = build_index(spark, df, cfg, num_partitions=6)
    after = json.dumps(m2.data["segments"], sort_keys=True)
    assert before == after


def test_partial_build_then_resume(spark, tmp_path):
    """Interrupt after the first wave; rerun completes with the same final
    manifest as an uninterrupted build (FIXTURES.md F6 resume)."""
    cfg = IndexConfig(index_uid="resume", index_dir=str(tmp_path / "r1"))
    df = corpus_df(spark, N_DOCS, seed=42, num_partitions=8)
    build_index(spark, df, cfg, num_partitions=8, wave_size=3, max_waves=1)
    m_partial = Manifest.load(cfg.index_dir)
    assert len(m_partial.published_partitions()) == 3
    build_index(spark, df, cfg, num_partitions=8, wave_size=3)
    m_final = Manifest.load(cfg.index_dir)
    assert len(m_final.published_partitions()) == 8

    cfg2 = IndexConfig(index_uid="resume", index_dir=str(tmp_path / "r2"))
    m_direct = build_index(spark, df, cfg2, num_partitions=8)
    assert sorted(s["segment_id"] for s in m_final.segments()) == \
        sorted(s["segment_id"] for s in m_direct.segments())


def test_checkpoint_conflict(tmp_path):
    m = Manifest.create(str(tmp_path), "x", {})
    m.publish([], checkpoint_delta={0: (None, "docs=5")})
    with pytest.raises(CheckpointConflict):
        m.publish([], checkpoint_delta={0: (None, "docs=5")})
    # correct from-position succeeds
    m.publish([], checkpoint_delta={0: ("docs=5", "docs=9")})
    assert m.checkpoint(0) == "docs=9"


def test_blank_text_chunk_builds_empty_segment(tmp_path):
    """A partition whose docs all have empty/whitespace text must build a
    valid (empty-postings) segment instead of crashing the wave — one
    blank partition in a 100 TB build must not stall the checkpoint."""
    import pandas as pd
    from quickwit_spark.config import IndexConfig
    from quickwit_spark.index.builder import build_index_pandas
    from quickwit_spark.search import ast as A
    from quickwit_spark.search.engine import IndexSearcher

    pdf = pd.DataFrame({
        "repo": ["r"] * 4, "path": [f"f{i}" for i in range(4)],
        "commit": ["c"] * 4, "lang": ["py"] * 4,
        "content": ["", "   ", "", "real tokens here"],
    })
    cfg = IndexConfig(index_uid="blank", index_dir=str(tmp_path / "b"),
                      sha_col=None)
    build_index_pandas(pdf, cfg, num_partitions=1)
    s = IndexSearcher(cfg.index_dir)
    assert s.count("*") == 4
    hits = s.search(A.Term("content", "tokens"), k=5).hits
    assert [h.doc["path"] for h in hits] == ["f3"]
    # all-blank chunk alone: zero terms, still queryable
    pdf2 = pdf.head(3)
    cfg2 = IndexConfig(index_uid="blank2", index_dir=str(tmp_path / "b2"),
                       sha_col=None)
    build_index_pandas(pdf2, cfg2, num_partitions=1)
    s2 = IndexSearcher(cfg2.index_dir)
    assert s2.count("*") == 3
    assert s2.search(A.Term("content", "tokens"), k=5).num_hits == 0


def test_blank_text_position_mode_and_merge(tmp_path):
    """Position-mode segments from blank-text / dynamic-only chunks must
    still carry the pos_blob column so merges and phrase queries that
    select it do not crash."""
    import pandas as pd
    from quickwit_spark.config import IndexConfig
    from quickwit_spark.index.builder import build_index_pandas
    from quickwit_spark.search import ast as A
    from quickwit_spark.search.engine import IndexSearcher

    pdf = pd.DataFrame({
        "repo": ["r0", "r0", "r1", "r1"],
        "path": [f"f{i}" for i in range(4)],
        "commit": ["c"] * 4, "lang": ["py"] * 4,
        # partition r1 is dynamic-only (blank text, attrs present)
        "content": ["quick sort here", "quick brown sort", "", ""],
        "extra": [None, None, '{"sev": "err"}', '{"sev": "warn"}'],
    })
    # route by repo so one segment is the dynamic-only shape
    cfg = IndexConfig(index_uid="posblank",
                      index_dir=str(tmp_path / "p"),
                      sha_col=None, record="position",
                      dynamic_col="extra", partition_cols=("repo",))
    build_index_pandas(pdf, cfg, num_partitions=2)
    s = IndexSearcher(cfg.index_dir)
    assert s.search(A.Phrase("content", "quick sort"), k=5).num_hits == 1
    assert s.search('sev:err', k=5).num_hits == 1
    # the merge must read pos_blob from BOTH parents without error —
    # call the executor directly (the policy would not merge 2 segments)
    from quickwit_spark.index.manifest import Manifest
    from quickwit_spark.index.merge import merge_segments
    m = Manifest.load(cfg.index_dir)
    segs = sorted(m.segments(), key=lambda x: x["segment_id"])
    assert len(segs) == 2
    meta = merge_segments(cfg.index_dir, segs)
    m.publish([meta],
              replaced_segment_ids=[x["segment_id"] for x in segs])
    s2 = IndexSearcher(cfg.index_dir)
    assert s2.search(A.Phrase("content", "quick sort"), k=5).num_hits == 1
    assert s2.search('sev:err', k=5).num_hits == 1
    assert s2.count("*") == 4


def test_fully_blank_position_segment_merges(tmp_path):
    """A position-mode segment with ZERO postings (all-blank text, no
    dynamic terms) must decode and merge cleanly."""
    import pandas as pd
    from quickwit_spark.config import IndexConfig
    from quickwit_spark.index.builder import build_index_pandas
    from quickwit_spark.index.manifest import Manifest
    from quickwit_spark.index.merge import merge_segments
    from quickwit_spark.search import ast as A
    from quickwit_spark.search.engine import IndexSearcher

    pdf = pd.DataFrame({
        "repo": ["r0", "r0", "r1"], "path": ["f0", "f1", "f2"],
        "commit": ["c"] * 3, "lang": ["py"] * 3,
        "content": ["quick sort here", "quick brown sort", "  "],
    })
    cfg = IndexConfig(index_uid="pb2", index_dir=str(tmp_path / "pb2"),
                      sha_col=None, record="position",
                      partition_cols=("repo",))
    build_index_pandas(pdf, cfg, num_partitions=2)
    m = Manifest.load(cfg.index_dir)
    segs = sorted(m.segments(), key=lambda x: x["segment_id"])
    assert len(segs) == 2
    meta = merge_segments(cfg.index_dir, segs)
    m.publish([meta],
              replaced_segment_ids=[x["segment_id"] for x in segs])
    s = IndexSearcher(cfg.index_dir)
    assert s.search(A.Phrase("content", "quick sort"), k=5).num_hits == 1
    assert s.count("*") == 3


def test_build_index_refuses_legacy_stream_keys_instead_of_noop(
        spark, tmp_path):
    """Bare integer checkpoints written by the PRE-namespacing stream
    code carry 'batch=...' positions. build_index over such an index
    must NOT treat them as completed build partitions and silently
    return without indexing the input — the unattributable state gets
    claim_router's loud refusal instead. A genuinely complete legacy
    BUILDER index ('docs=N' positions, no router key) stays an
    idempotent no-op."""
    from quickwit_spark.streaming.incremental import ingest_batch

    # (a) legacy-stream int keys -> loud refusal, not a silent skip
    cfg = IndexConfig(index_uid="ls", index_dir=str(tmp_path / "ls"),
                      sha_col=None)
    df = corpus_df(spark, 40, seed=3, num_partitions=2)
    ingest_batch(df, cfg, batch_id=0, partitions_per_batch=4)
    m = Manifest.load(cfg.index_dir)
    m.data["checkpoints"] = {
        k.split("-", 1)[1]: v
        for k, v in m.data["checkpoints"].items()}
    m.data.pop("router", None)
    m.data["version"] += 1
    m._write()
    with pytest.raises(ValueError, match="router"):
        build_index(spark, df, cfg, num_partitions=4)

    # (b) complete legacy BUILDER index: rerun stays a no-op
    cfg2 = IndexConfig(index_uid="lb", index_dir=str(tmp_path / "lb"),
                       sha_col=None)
    build_index(spark, df, cfg2, num_partitions=4)
    m2 = Manifest.load(cfg2.index_dir)
    m2.data.pop("router", None)  # pre-router manifest
    m2.data["version"] += 1
    m2._write()
    before = Manifest.load(cfg2.index_dir).data["segments"]
    build_index(spark, df, cfg2, num_partitions=4)  # must not raise
    assert Manifest.load(cfg2.index_dir).data["segments"] == before


def _logging_transform(log_dir):
    """An identity partition_transform that records, per routing group a
    build task sees, the task's Spark partition id and the group's _pid."""
    def transform(grp):
        from pyspark import TaskContext
        tc = TaskContext.get()
        name = (f"{tc.partitionId()}-{int(grp['_pid'].iloc[0])}"
                f"-{tc.stageId()}-{tc.attemptNumber()}")
        open(os.path.join(log_dir, name), "w").close()
        return grp
    return transform


def _task_groups(log_dir) -> dict[int, list[int]]:
    """Spark partition id -> the _pids its build task built."""
    out: dict[int, list[int]] = {}
    for name in os.listdir(log_dir):
        part, pid = map(int, name.split("-")[:2])
        out.setdefault(part, []).append(pid)
    return out


def _assert_one_group_per_task(log_dir, pids):
    groups = _task_groups(log_dir)
    assert all(len(v) == 1 for v in groups.values()), groups
    assert sorted(v[0] for v in groups.values()) == sorted(pids), groups


def test_build_places_one_group_per_task(spark, spark_index, tmp_path):
    """A full wave: every routing group is built by its own task (6 groups
    on 6 tasks, where hashing _pid onto the test SparkSession's 4 shuffle
    partitions would double some up), and the segments equal the
    fixture's."""
    log = tmp_path / "log"
    log.mkdir()
    cfg = IndexConfig(index_uid="sp", index_dir=str(tmp_path / "sp"))
    df = corpus_df(spark, N_DOCS, seed=42, num_partitions=8)
    m = build_index(spark, df, cfg, num_partitions=6,
                    partition_transform=_logging_transform(str(log)))
    _assert_one_group_per_task(str(log), range(6))
    assert sorted(s["segment_id"] for s in m.segments()) == \
        sorted(s["segment_id"] for s in spark_index[1].segments())


def test_resumed_wave_with_gaps_places_one_group_per_task(
        spark, spark_index, tmp_path):
    """A resumed wave whose todo pids have gaps ({1, 2, 4, 5} of 6) still
    gets one task per group, and builds exactly the fixture's segments of
    those partitions."""
    log = tmp_path / "log"
    log.mkdir()
    cfg = IndexConfig(index_uid="sp", index_dir=str(tmp_path / "sp"))
    m = Manifest.load_or_create(cfg.index_dir, cfg.index_uid,
                                cfg.manifest_config())
    m.claim_router("spark-xxhash64/p6")
    m.publish([], checkpoint_delta={0: (None, "docs=0"),
                                    3: (None, "docs=0")})
    df = corpus_df(spark, N_DOCS, seed=42, num_partitions=8)
    m = build_index(spark, df, cfg, num_partitions=6,
                    partition_transform=_logging_transform(str(log)))
    todo = [1, 2, 4, 5]
    _assert_one_group_per_task(str(log), todo)
    assert sorted(_task_groups(str(log))) == [0, 1, 2, 3]
    assert sorted(s["segment_id"] for s in m.segments()) == sorted(
        s["segment_id"] for s in spark_index[1].segments()
        if s["partition_id"] in todo)


def test_build_groups_places_offset_pids(spark, tmp_path):
    """The incremental paths' `base + pid` ids (here above 2**31) are
    placed by their ordinal: one group per task."""
    from pyspark.sql import functions as F

    from quickwit_spark.index.builder import build_groups, route_partitions

    log = tmp_path / "log"
    log.mkdir()
    cfg = IndexConfig(index_uid="off", index_dir=str(tmp_path / "off"),
                      sha_col=None)
    base = 5_000 * 1_000_000
    df = corpus_df(spark, 120, seed=5, num_partitions=3)
    routed = route_partitions(df, cfg, 4).withColumn(
        "_pid", F.col("_pid") + F.lit(base))
    seg_root = str(tmp_path / "segs")
    os.makedirs(seg_root)
    rows = build_groups(routed, cfg, seg_root, pids=range(base, base + 4),
                        partition_transform=_logging_transform(str(log)))
    _assert_one_group_per_task(str(log), range(base, base + 4))
    assert sum(r["num_docs"] for r in rows) == 120


def test_input_routed_matches_shuffle_path(spark, spark_index, tmp_path):
    """input_routed=True over a frame placed by repartitionById builds
    with no exchange, one group per task, and publishes the same
    content-addressed segment ids as the shuffle path."""
    from quickwit_spark.index.builder import route_partitions

    log = tmp_path / "log"
    log.mkdir()
    cfg = IndexConfig(index_uid="sp", index_dir=str(tmp_path / "sp"))
    df = corpus_df(spark, N_DOCS, seed=42, num_partitions=8)
    placed = route_partitions(df, cfg, 6).repartitionById(6, "_pid")
    m = build_index(spark, placed, cfg, num_partitions=6, input_routed=True,
                    partition_transform=_logging_transform(str(log)))
    _assert_one_group_per_task(str(log), range(6))
    assert sorted(s["segment_id"] for s in m.segments()) == \
        sorted(s["segment_id"] for s in spark_index[1].segments())
