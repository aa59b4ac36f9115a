"""Streaming ingestion: Structured Streaming -> incremental segment builds.

The reference's ingestion is a stream of doc batches with per-source-
partition checkpoints committed atomically with each split publish
(SURVEY.md §1.4; checkpoint.rs:170-337, publisher.rs:130-155) — there are
no watermarks or event-time windows. The Spark-native equivalent is
Structured Streaming with foreachBatch: each micro-batch builds segments
partitioned by the routing hash, publishing with a checkpoint delta keyed
by (batch_id, partition); replays of an already-published batch are
rejected by the manifest's from-position check, giving exactly-once
publish on top of Spark's at-least-once batch replay.
"""

from __future__ import annotations

import hashlib
import os

from ..config import IndexConfig
from ..index.builder import build_groups, route_partitions
from ..index.manifest import (STREAM_POS_PREFIX,
                              CheckpointConflict, Manifest)

BATCH_PARTITION_STRIDE = 1_000_000


def ingest_batch(df, config: IndexConfig, batch_id: int,
                 partitions_per_batch: int = 8) -> None:
    """Build + publish one micro-batch (idempotent on replay)."""
    manifest = Manifest.load_or_create(
        config.index_dir, config.index_uid,
        config.manifest_config())
    segments_root = os.path.join(config.index_dir, "segments")
    os.makedirs(segments_root, exist_ok=True)

    base = batch_id * BATCH_PARTITION_STRIDE
    routed = route_partitions(df, config, partitions_per_batch)
    from pyspark.sql import functions as F
    routed = routed.withColumn("_pid", F.col("_pid") + F.lit(base))
    rows = build_groups(routed, config, segments_root,
                        pids=range(base, base + partitions_per_batch))
    delta = {}
    for p in range(base, base + partitions_per_batch):
        prows = sorted(r["segment_id"] for r in rows
                       if r["partition_id"] == p)
        nd = sum(r["num_docs"] for r in rows if r["partition_id"] == p)
        # the position embeds a hash of the partition's content-addressed
        # segment ids: position equality then PROVES an exact replay, and
        # stays provable after the segments themselves are merged or
        # vacuumed away (a presence check on manifest['segments'] would
        # re-raise on a benign replay of a since-compacted batch).
        # Keys are NAMESPACED ("stream-<p>"): bare integer keys collided
        # with build_index's partition checkpoints (batch 0 writes
        # 0..N-1), corrupting a later builder resume over the same index
        sig = hashlib.sha256("|".join(prows).encode()).hexdigest()[:12]
        delta[f"stream-{p}"] = (
            None, f"{STREAM_POS_PREFIX}{batch_id};docs={nd};ids={sig}")

    def _matches(stored, to):
        return stored == to or stored == to.rsplit(";ids=", 1)[0]

    # LEGACY replay check: indexes written before keys were namespaced
    # hold bare integer keys. A replay must be skipped; a batch-id
    # collision over DIFFERENT data (stream restarted with a fresh Spark
    # checkpoint dir) must raise, not silently drop the batch. Only
    # positions in the STREAM format ('batch=...') qualify — batch 0's
    # base is 0, so an index bootstrapped by build_index has bare int
    # checkpoints 0..N-1 too, with 'docs=N' positions; misreading those
    # as a legacy stream would reject every first micro-batch forever.
    legacy = {p: stored
              for p in range(base, base + partitions_per_batch)
              if (stored := manifest.checkpoint(p)) is not None
              and stored.startswith(STREAM_POS_PREFIX)}
    if legacy:
        # EVERY delta partition must match a stored legacy position: a
        # partition absent from `legacy` (stream restarted with MORE
        # partitions, or routing changed) is a collision over different
        # data, and defaulting it to "matches" would silently drop the
        # whole batch — _matches(None, to) is False by construction
        if all(_matches(legacy.get(int(k.split("-", 1)[1])), to)
               for k, (_f, to) in delta.items()):
            # upgrade pre-ids legacy positions IN PLACE (same rationale
            # as the namespaced branch below): otherwise a later
            # batch-id collision with an equal doc count over DIFFERENT
            # data keeps matching the weak prefix and is silently
            # swallowed forever
            upgrade = {}
            for k, (_f, to) in delta.items():
                p = int(k.split("-", 1)[1])
                stored = legacy.get(p)
                if stored is not None and stored != to \
                        and stored == to.rsplit(";ids=", 1)[0]:
                    upgrade[p] = (stored, to)
            if upgrade:
                manifest.publish([], checkpoint_delta=upgrade)
            _cleanup_replayed_segments(manifest, segments_root, rows)
            return
        raise CheckpointConflict(
            f"batch {batch_id} collides with legacy stream checkpoints "
            f"over different data: {legacy}")
    try:
        manifest.publish(rows, checkpoint_delta=delta)
    except CheckpointConflict:
        # Only an EXACT replay is benign. Positions written before the
        # ids= suffix existed are accepted by their prefix (same
        # strength the old format had).
        def _is_replay(k, to):
            return _matches(manifest.checkpoint(k), to)
        if not all(_is_replay(k, to) for k, (_f, to) in delta.items()):
            raise
        # upgrade accepted legacy-format positions (no ids= suffix) to
        # the full position IN PLACE: otherwise a later non-replay
        # batch-id collision with an equal doc count would keep matching
        # the weak prefix forever and be silently swallowed
        upgrade = {}
        for k, (_f, to) in delta.items():
            stored = manifest.checkpoint(k)
            if stored != to and stored == to.rsplit(";ids=", 1)[0]:
                upgrade[k] = (stored, to)
        if upgrade:
            manifest.publish([], checkpoint_delta=upgrade)
        _cleanup_replayed_segments(manifest, segments_root, rows)


def _cleanup_replayed_segments(manifest: Manifest, segments_root: str,
                               rows: list[dict]) -> None:
    """A replay re-wrote segment files before its publish was rejected;
    if the originals were merged/vacuumed away since, those dirs are
    referenced by nothing — remove them instead of leaking full
    posting/doc data on every post-compaction replay."""
    import shutil
    for r in rows:
        if r["segment_id"] not in manifest.data["segments"]:
            shutil.rmtree(
                os.path.join(segments_root, r["segment_id"]),
                ignore_errors=True)


def start_ingest_stream(spark, input_path: str, config: IndexConfig,
                        schema: str, checkpoint_dir: str,
                        partitions_per_batch: int = 8,
                        available_now: bool = True,
                        fmt: str | None = None):
    """File-source streaming ingest (newline-JSON or parquet directory —
    the reference's file/queue sources, SURVEY.md §2.1). fmt ('json' |
    'parquet') overrides sniffing."""
    if fmt is None:
        # streaming file sources usually point at DIRECTORIES, so an
        # endswith('.json') check alone misreads a directory of
        # newline-JSON files as parquet and every micro-batch fails on
        # the footer magic; sniff the directory contents instead.
        # os.listdir only works on LOCAL paths — a remote URI
        # (s3://..., hdfs://...) cannot be sniffed from the driver, so
        # require an explicit fmt there instead of silently defaulting
        # a .jsonl directory to parquet
        import re as _re
        if _re.match(r"^[A-Za-z][A-Za-z0-9+.-]*://", input_path) \
                and not input_path.startswith("file://"):
            raise ValueError(
                f"cannot sniff the input format of remote path "
                f"{input_path!r} from the driver; pass "
                "fmt='json' or fmt='parquet' explicitly")
        local = input_path[len("file://"):] \
            if input_path.startswith("file://") else input_path
        fmt = "json" if local.endswith(".json") else None
        if fmt is None and os.path.isdir(local):
            for name in os.listdir(local):
                if name.endswith(".json") or name.endswith(".jsonl"):
                    fmt = "json"
                    break
        fmt = fmt or "parquet"
    stream = (spark.readStream.format(fmt).schema(schema)
              .option("maxFilesPerTrigger", "4")
              .load(input_path))

    def handle(batch_df, batch_id: int):
        if batch_df.isEmpty():
            return
        ingest_batch(batch_df, config, int(batch_id), partitions_per_batch)

    writer = (stream.writeStream.foreachBatch(handle)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
